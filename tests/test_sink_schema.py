"""Sink reads planned from the manifest's recorded table schema.

Every read of the sink's data files is planned from the snapshot's
recorded schema (``schemas``/``schema_id`` in the manifest) instead of a
``mergeSchema`` footer read. The oracle here is the footer-based read
those reads replace: ``mergeSchema`` over the same snapshot files, the
same LWW reduce, and the same changelog classification.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from conftest import count_spark_jobs
from kafka_connect_converter_json_spark.operators.dedup import lww_latest
from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
from kafka_connect_converter_json_spark.streaming.ingest import ingest
from kafka_connect_converter_json_spark.streaming.sink import (
    MANIFEST, BucketedMergeSink, classify_state_diff, fold_on_driver,
)

KEYS = ["repo", "path"]
PRE = "repo string, path string, lsn long, op string, v string"
POST = "repo string, path string, lsn long, op string, v string, w int"


def _mergeschema_state(sink, snap):
    """Live rows of a snapshot from footer-inferred schemas."""
    rd = sink.spark.read.option("mergeSchema", "true")
    base = [os.path.join(sink.root, r) for r in snap["buckets"].values()]
    deltas = [os.path.join(sink.root, r) for r in snap.get("deltas", [])]
    parts = []
    if base:
        parts.append(rd.parquet(*base).withColumn("op", F.lit("u")))
    if deltas:
        parts.append(rd.parquet(*deltas))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    if not deltas:
        return df.drop("op")
    payload = [c for c in df.columns if c not in KEYS and c not in ("lsn", "op")]
    return (
        lww_latest(df, KEYS, "lsn", payload + ["op"])
        .filter(F.col("op") != "d")
        .drop("op")
    )


def _mergeschema_changes(sink, to_epoch, from_epoch=None):
    new = _mergeschema_state(sink, sink._snapshot(to_epoch))
    if from_epoch is None:
        payload = [c for c in new.columns if c not in KEYS and c != "lsn"]
        return new.select(*KEYS, F.lit("insert").alias("_change_type"), "lsn", *payload)
    old = _mergeschema_state(sink, sink._snapshot(from_epoch))
    return classify_state_diff(old, new, KEYS, "lsn")


def _same(got, want):
    """Same columns in the same order, same types, same rows."""
    assert got.columns == want.columns
    assert got.dtypes == want.dtypes
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, want.collect()), key=repr
    )


def _rows(repos, paths, lsn0, op="u", evolved=False):
    """One event per (repo, path); ``evolved`` rows carry column ``w``."""
    out = []
    for i, (r, p) in enumerate((r, p) for r in repos for p in paths):
        row = (r, p, lsn0 + i, op, None if op == "d" else f"{r}/{p}@{lsn0 + i}")
        out.append(row + ((lsn0 + i) % 7,) if evolved else row)
    return out


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """MOR sink: compacted pre-evolution base, a pending pre-evolution
    delta (epoch 2), then two deltas that add column ``w`` (epochs 3, 4)
    and touch every bucket."""
    root = str(tmp_path_factory.mktemp("schema") / "mor")
    sink = BucketedMergeSink(
        spark, root, keys=KEYS, order_col="lsn", num_buckets=4,
        bucket_cols=["repo"], merge_mode="mor", compact_every=None,
    )
    repos = [f"r{i}" for i in range(8)]
    paths = [f"p{j}" for j in range(5)]
    sink.merge(spark.createDataFrame(_rows(repos, paths, 0), PRE), epoch=0)
    sink.merge(spark.createDataFrame(
        _rows(repos[:4], paths[:2], 100) + _rows(repos[4:5], paths[:3], 200, "d"),
        PRE), epoch=1)
    sink.compact()
    sink.merge(spark.createDataFrame(
        _rows(repos[::2], paths[1:3], 300) + _rows(repos[1:2], paths[:1], 400, "d"),
        PRE), epoch=2)
    sink.merge(spark.createDataFrame(
        _rows(repos, paths[2:4], 500, evolved=True)
        + _rows(["r9"], paths[:2], 600, evolved=True),
        POST), epoch=3)
    sink.merge(spark.createDataFrame(
        _rows(repos[1::2], paths[3:], 700, evolved=True)
        + _rows(repos[2:3], paths[2:3], 800, "d", evolved=True),
        POST), epoch=4)
    # every bucket holds a post-evolution delta, so a bucket-scoped
    # mergeSchema read would also see ``w``
    by_epoch = {e["epoch"]: e for e in sink._manifest["epochs"]}
    evolved_buckets = {
        rel.rsplit("=", 1)[1]
        for rel in set(by_epoch[3]["deltas"]) - set(by_epoch[2]["deltas"])
    }
    assert evolved_buckets == {"0", "1", "2", "3"}
    return BucketedMergeSink.open(spark, root)


def test_manifest_records_one_schema_per_evolution(evolved):
    m = evolved._manifest
    assert len(m["schemas"]) == 2
    ids = [e["schema_id"] for e in m["epochs"]]
    assert ids == [0, 0, 0, 1, 1]
    assert m["schema_id"] == 1
    names = [f["name"] for f in json.loads(m["schemas"][1])["fields"]]
    assert names == ["repo", "path", "lsn", "v", "w"]


def test_reads_match_mergeschema_reads(evolved):
    live = _mergeschema_state(evolved, evolved._manifest)
    _same(evolved.read(), live)
    for key in [("r0", "p2"), ("r3", "p4"), ("r4", "p0"), ("r9", "p1"), ("zz", "p0")]:
        _same(evolved.read_key(*key),
              live.filter((F.col("repo") == key[0]) & (F.col("path") == key[1])))
    for repo in ["r1", "r2", "r9", "nope"]:
        _same(evolved.read_prefix(repo), live.filter(F.col("repo") == repo))
    # pre-evolution snapshot: no ``w`` column, exactly as its files say
    _same(evolved.read_as_of(2), _mergeschema_state(evolved, evolved._snapshot(2)))
    assert "w" not in evolved.read_as_of(2).columns
    _same(evolved.read_key("r0", "p1", as_of=2),
          _mergeschema_state(evolved, evolved._snapshot(2)).filter(
              (F.col("repo") == "r0") & (F.col("path") == "p1")))


@pytest.mark.parametrize("to_epoch,from_epoch", [
    (4, 3),     # delta-only: deltas of the range are the changed data
    (3, 2),     # delta-only, across the schema change
    (3, 1),     # a compact() inside the range: snapshot-state diff
    (4, None),  # everything live is an insert
])
def test_read_changes_match_mergeschema_reads(evolved, to_epoch, from_epoch):
    _same(evolved.read_changes(to_epoch, from_epoch),
          _mergeschema_changes(evolved, to_epoch, from_epoch))


def test_key_lookup_submits_at_most_two_jobs(spark, evolved):
    sink = BucketedMergeSink.open(spark, evolved.root)
    with count_spark_jobs(spark) as n:
        rows = sink.read_key("r3", "p3").collect()
    assert len(rows) == 1
    assert n["jobs"] <= 2


def test_lookup_of_empty_bucket_is_planned_from_the_schema(spark, tmp_path):
    """A key whose bucket holds no file gets an empty frame of the
    recorded schema, built and collected without a Spark job."""
    sink = BucketedMergeSink(spark, str(tmp_path / "s"), keys=["k"], order_col="lsn",
                             num_buckets=64, merge_mode="mor")
    batch = spark.createDataFrame([("a", 1, "u", "x")], "k string, lsn long, op string, v string")
    sink.merge(batch, 0)
    live = {r.rsplit("=", 1)[1] for r in sink._manifest["deltas"]}

    def bucket(k):
        return str(fold_on_driver(spark, F.pmod(F.xxhash64(F.lit(k)), F.lit(64)))[0])

    key = next(k for k in (f"k{i}" for i in range(100)) if bucket(k) not in live)
    with count_spark_jobs(spark) as n:
        got = sink.read_key(key)
        assert got.collect() == []
    assert n["jobs"] == 0
    assert got.dtypes == sink.read().dtypes


def _strip_schemas(root):
    path = os.path.join(root, MANIFEST)
    with open(path) as f:
        man = json.load(f)
    man.pop("schemas")
    man.pop("schema_id")
    for e in man["epochs"]:
        e.pop("schema_id")
    with open(path, "w") as f:
        json.dump(man, f)


def _sorted_rows(df):
    return df.columns, sorted(map(tuple, df.collect()), key=repr)


def test_legacy_manifest_without_schemas(spark, tmp_path):
    events = gen_events(spark, 3000, n_repos=12, paths_per_repo=15, seed=5, evolve_at=2000)
    root, control = str(tmp_path / "legacy"), str(tmp_path / "control")
    kw = dict(num_buckets=4, merge_mode="mor", compact_every=None)
    ingest(spark, events, root, 2000, n_epochs=2, **kw).compact()
    ingest(spark, events, root, 3000, n_epochs=2, epoch_offset=2, lsn_lo=2000, **kw)
    shutil.copytree(root, control)
    before = BucketedMergeSink.open(spark, control)
    key = tuple(before.read().select(*KEYS).first())

    _strip_schemas(root)
    legacy = BucketedMergeSink.open(spark, root)
    assert "schemas" not in legacy._manifest
    assert _sorted_rows(legacy.read()) == _sorted_rows(before.read())
    assert _sorted_rows(legacy.read_as_of(1)) == _sorted_rows(before.read_as_of(1))
    assert _sorted_rows(legacy.read_key(*key)) == _sorted_rows(before.read_key(*key))
    assert _sorted_rows(legacy.read_changes(3, 2)) == _sorted_rows(before.read_changes(3, 2))
    # footer inference runs once per snapshot, then reads plan job-free
    with count_spark_jobs(spark) as n:
        legacy.read_key(*key).collect()
    assert n["jobs"] <= 2

    more = gen_events(spark, 4000, n_repos=12, paths_per_repo=15, seed=5, evolve_at=2000)
    for r in (root, control):
        ingest(spark, more, r, 4000, n_epochs=1, epoch_offset=4, lsn_lo=3000, **kw)
    after, ctrl = BucketedMergeSink.open(spark, root), BucketedMergeSink.open(spark, control)
    assert _sorted_rows(after.read()) == _sorted_rows(ctrl.read())
    assert _sorted_rows(after.read_as_of(2)) == _sorted_rows(ctrl.read_as_of(2))
    # the commit recorded a schema: the live one and the new epoch's
    m = after._manifest
    assert m["schemas"] == [ctrl._manifest["schemas"][ctrl._manifest["schema_id"]]]
    assert m["schema_id"] == 0 and m["epochs"][-1]["schema_id"] == 0
    assert all("schema_id" not in e for e in m["epochs"][:-1])
