"""End-to-end replay oracle (SURVEY.md §5.2): full CDC ingest vs a
pure-pandas reference reduction — per-row sha256(content) equality,
including after restart-from-checkpoint replay (the north-star parity
contract, BASELINE.json)."""

import hashlib
import json

import pandas as pd
import pytest

from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
from kafka_connect_converter_json_spark.streaming.ingest import default_config, ingest

N_EVENTS = 2000


def _oracle_final_state(events_pdf: pd.DataFrame) -> pd.DataFrame:
    """Pure-pandas replay: LWW per (repo,path) by lsn, deletes drop rows.

    Independently re-derives (repo,path,commit,lang,content) from the raw
    envelopes — no engine code involved.
    """
    state: dict[tuple, dict] = {}
    for row in events_pdf.sort_values("lsn").itertuples():
        key = (row.repo, row.path)
        if row.op == "d":
            state.pop(key, None)
        else:
            env = json.loads(row.value_json)
            state[key] = {
                "repo": env["meta"]["repo"],
                "path": env["meta"]["path"],
                "commit": env["commit"]["id"],
                "lang": env["lang"],
                "content": env["content"],
                "lsn": row.lsn,
            }
    out = pd.DataFrame(list(state.values()))
    return out.sort_values(["repo", "path"]).reset_index(drop=True)


def _state_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.sort_values(["repo", "path"]).reset_index(drop=True)
    h = hashlib.sha256()
    for row in pdf.itertuples():
        h.update(
            "|".join(
                [
                    row.repo,
                    row.path,
                    row.commit,
                    row.lang,
                    hashlib.sha256(row.content.encode()).hexdigest(),
                    str(row.lsn),
                ]
            ).encode()
        )
    return h.hexdigest()


@pytest.fixture(scope="module")
def events(spark):
    return gen_events(spark, N_EVENTS, n_repos=20, paths_per_repo=30, seed=42).cache()


@pytest.fixture(scope="module")
def oracle(events):
    return _oracle_final_state(
        events.select("lsn", "op", "repo", "path", "value_json").toPandas()
    )


def _read_state(sink) -> pd.DataFrame:
    return sink.read().select("repo", "path", "commit", "lang", "content", "lsn").toPandas()


@pytest.mark.parametrize("parse_mode", ["native", "reference"])
def test_full_replay_sha256_parity(spark, events, oracle, tmp_path, parse_mode):
    sink = ingest(
        spark, events, str(tmp_path / f"tbl_{parse_mode}"), N_EVENTS, n_epochs=4,
        parse_mode=parse_mode, num_buckets=8,
    )
    got = _read_state(sink)
    assert _state_hash(got) == _state_hash(oracle)


def test_crash_resume_replay_is_byte_identical(spark, events, oracle, tmp_path):
    root = str(tmp_path / "tbl_resume")
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest(spark, events, root, N_EVENTS, n_epochs=5, fail_after_epochs=2, num_buckets=8)
    # resume from checkpoint (manifest): committed epochs are skipped
    sink = ingest(spark, events, root, N_EVENTS, n_epochs=5, num_buckets=8)
    assert _state_hash(_read_state(sink)) == _state_hash(oracle)
    # exactly 5 epochs committed, no duplicates
    assert sorted(e["epoch"] for e in sink._manifest["epochs"]) == [0, 1, 2, 3, 4]


def test_idempotent_epoch_redelivery(spark, events, oracle, tmp_path):
    root = str(tmp_path / "tbl_idem")
    sink = ingest(spark, events, root, N_EVENTS, n_epochs=3, num_buckets=8)
    before = _state_hash(_read_state(sink))
    # redeliver every epoch: must be a no-op (N6)
    sink2 = ingest(spark, events, root, N_EVENTS, n_epochs=3, num_buckets=8)
    assert _state_hash(_read_state(sink2)) == before == _state_hash(oracle)


def test_time_travel_and_vacuum(spark, events, tmp_path):
    """read_as_of(k) reproduces the table state after epoch k (Iceberg
    snapshot-read analogue); vacuum removes superseded COW files while
    the current state stays intact."""
    root = str(tmp_path / "tbl_tt")
    # explicitly copy-on-write: this test asserts COW's superseded
    # per-epoch rewrites exist and are reclaimed (MOR appends deltas —
    # nothing is superseded until compact())
    sink = ingest(spark, events, root, N_EVENTS, n_epochs=4, num_buckets=8,
                  merge_mode="cow")
    per = -(-N_EVENTS // 4)
    # state as of epoch 1 == independent replay of the first 2 epochs
    asof = sink.read_as_of(1).select("repo", "path", "commit", "lang", "content", "lsn").toPandas()
    prefix_oracle = _oracle_final_state(
        events.filter(f"lsn < {2 * per}")
        .select("lsn", "op", "repo", "path", "value_json")
        .toPandas()
    )
    assert _state_hash(asof) == _state_hash(prefix_oracle)
    before = _state_hash(_read_state(sink))
    removed = sink.vacuum()
    assert removed  # superseded epoch-0..2 rewrites exist
    assert _state_hash(_read_state(sink)) == before  # current state intact
    import pytest as _pytest

    with _pytest.raises(Exception):
        sink.read_as_of(0).collect()  # vacuumed snapshot is gone


def test_salted_merge_identical_state(spark, events, oracle, tmp_path):
    """salted_merge=True (two-level LWW inside the MERGE, for pathological
    per-key skew) must be byte-identical to the plain path."""
    sink = ingest(
        spark, events, str(tmp_path / "tbl_salted"), N_EVENTS, n_epochs=3,
        num_buckets=8, salted_merge=True, salt_buckets=8,
    )
    assert _state_hash(_read_state(sink)) == _state_hash(oracle)


def test_lineage_rows_cover_all_partitions(spark, events, tmp_path):
    sink = ingest(spark, events, str(tmp_path / "tbl_lin"), N_EVENTS, n_epochs=2, num_buckets=8)
    lin = sink.read_lineage().toPandas()
    assert set(lin["epoch"]) == {0, 1}
    assert lin["n_events"].sum() == N_EVENTS
    # offsets are per-partition contiguous ranges of the source stream
    assert (lin["max_offset"] >= lin["min_offset"]).all()


def test_sink_rejects_mismatched_layout(spark, tmp_path):
    """Reopening a sink root with different keys/order_col/num_buckets must
    raise: _bucket_expr would disagree with how data was bucketed (silent
    row loss / duplicate keys otherwise). ADVICE r1."""
    from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

    root = str(tmp_path / "layout")
    ev = gen_events(spark, 50, n_repos=2, paths_per_repo=2, seed=5)
    ingest(spark, ev, root, 50, n_epochs=1, num_buckets=8)
    # same layout reopens fine (resume path)
    BucketedMergeSink(spark, root, keys=["repo", "path"], order_col="lsn", num_buckets=8)
    for kwargs in (
        dict(keys=["repo"], order_col="lsn", num_buckets=8),
        dict(keys=["repo", "path"], order_col="kafka_offset", num_buckets=8),
        dict(keys=["repo", "path"], order_col="lsn", num_buckets=16),
    ):
        with pytest.raises(ValueError, match="would corrupt the bucket layout"):
            BucketedMergeSink(spark, root, **kwargs)


def test_sink_open_adopts_stored_layout(spark, tmp_path):
    from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

    root = str(tmp_path / "adopt")
    ev = gen_events(spark, 50, n_repos=2, paths_per_repo=2, seed=6)
    ingest(spark, ev, root, 50, n_epochs=1, num_buckets=8)
    sink = BucketedMergeSink.open(spark, root)
    assert sink.num_buckets == 8 and sink.keys == ["repo", "path"]
    assert sink.read().count() > 0
    with pytest.raises(ValueError, match="nothing to open"):
        BucketedMergeSink.open(spark, str(tmp_path / "missing"))


def test_concurrent_commit_detected(spark, tmp_path):
    """Two writers on one sink root: the second's commit must surface the
    conflict (optimistic concurrency), and a reload+retry converges via
    epoch idempotency."""
    from kafka_connect_converter_json_spark.streaming.ingest import convert_events
    from kafka_connect_converter_json_spark.streaming.sink import (
        BucketedMergeSink,
        ConcurrentCommitError,
    )

    root = str(tmp_path / "concurrent")
    ev = gen_events(spark, 200, n_repos=4, paths_per_repo=4, seed=3)
    from kafka_connect_converter_json_spark.streaming.ingest import (
        default_config, infer_envelope_schema,
    )
    schema = infer_envelope_schema(spark, ev, "value_json")
    typed = convert_events(ev, default_config(), "native", schema)
    typed = typed.filter(~typed["_corrupt"]).drop("_corrupt")

    a = BucketedMergeSink(spark, root, keys=["repo", "path"], num_buckets=4)
    b = BucketedMergeSink(spark, root, keys=["repo", "path"], num_buckets=4)
    a.merge(typed.filter("lsn < 100"), epoch=0)
    with pytest.raises(ConcurrentCommitError, match="reload and retry"):
        b.merge(typed.filter("lsn >= 100"), epoch=1)
    # recovery: reload and retry — epoch 0 skipped, epoch 1 lands
    c = BucketedMergeSink.open(spark, root)
    assert c.merge(typed.filter("lsn < 100"), epoch=0)["skipped"] is True
    c.merge(typed.filter("lsn >= 100"), epoch=1)
    assert sorted(c.committed_epochs()) == [0, 1]


def test_envelope_sampler_corrupt_boundary_rows(spark):
    """Null and unparseable envelopes never win a sample: the first
    parseable envelope and the first parseable carrier of each probed
    path are taken instead, so no sample is silently lost."""
    from kafka_connect_converter_json_spark.streaming.ingest import (
        observe_envelope_samples_pruned,
    )

    rows = [(i, "u", f'{{"n":{i}}}') for i in range(2, 50)]
    rows += [(0, "u", None), (1, "u", '{"n":1,"x":1,'), (50, "u", None)]
    rows += [(60, "u", '{"n":60,"x":2}'), (70, "u", '{"n":70,"x":3}')]
    df = spark.createDataFrame(rows, "lsn long, op string, value_json string")
    got = observe_envelope_samples_pruned(df, ["$.x"], True)
    assert got == ['{"n":2}', '{"n":60,"x":2}']
    assert observe_envelope_samples_pruned(df, ["$.x"], False) == ['{"n":60,"x":2}']
    # nothing carries the path and no first sample was asked for
    assert observe_envelope_samples_pruned(df, ["$.y"], False) == []


def test_envelope_sampler_nonunique_order_col(spark):
    """``lsn`` collisions must not pull every colliding row to the driver:
    each aggregate picks one envelope, so at most ``len(probes) + 1``
    samples return."""
    from kafka_connect_converter_json_spark.streaming.ingest import (
        observe_envelope_samples_pruned,
    )

    # 500 rows all sharing lsn=7, each carrying both probed paths
    rows = [(7, "u", f'{{"dup":{i},"a":1,"b":{{"c":2}}}}') for i in range(500)]
    rows += [(1, "u", '{"first":1}'), (9, "u", '{"last":1}')]
    df = spark.createDataFrame(rows, "lsn long, op string, value_json string")
    probes = ["$.a", "$.b.c"]
    got = observe_envelope_samples_pruned(df, probes, True)
    assert '{"first":1}' in got
    assert 2 <= len(got) <= len(probes) + 1
    assert all('"dup":' in g for g in got if g != '{"first":1}')


def _sparse_lang_events(spark, n: int, seed: int):
    """``gen_events`` with ``lang`` kept in about 2% of envelopes and
    stripped from the rest, including the first and last by LSN."""
    from pyspark.sql import functions as F

    ev = gen_events(spark, n, n_repos=20, paths_per_repo=30, seed=seed)
    keep = (F.pmod(F.xxhash64("lsn", F.lit(seed)), F.lit(50)) == 0) & F.col("lsn").between(
        n // 10, n - n // 10)
    return ev.withColumn(
        "value_json",
        F.when(keep, F.col("value_json")).otherwise(
            F.regexp_replace("value_json", r'"lang":"[^"]*",', "")),
    )


def _duckdb_lww(parquet_dir: str) -> list[tuple]:
    """(repo, path, lsn, commit, lang, sha256(content)) of the live rows:
    last writer by lsn per (repo, path), deletes dropped."""
    import duckdb

    return sorted(duckdb.sql(f"""
        SELECT repo, path, lsn,
               json_extract_string(value_json, '$.commit.id'),
               json_extract_string(value_json, '$.lang'),
               sha256(json_extract_string(value_json, '$.content'))
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY repo, path ORDER BY lsn DESC) AS rn
              FROM read_parquet('{parquet_dir}/*.parquet'))
        WHERE rn = 1 AND op <> 'd'
    """).fetchall())


def test_sparse_key_path_reaches_sink(spark, tmp_path):
    """One epoch in which ``lang`` is in about 2% of envelopes, absent from
    the first and last: the registry must learn it from the rows that
    carry it, and the sink must equal a DuckDB LWW over the same rows."""
    from pyspark.sql import functions as F

    from kafka_connect_converter_json_spark.plans.registry import SchemaRegistry

    n = 4800
    src = str(tmp_path / "events")
    _sparse_lang_events(spark, n, seed=11).write.parquet(src)
    ev = spark.read.parquet(src)
    first_last = ev.filter("value_json IS NOT NULL").agg(
        F.min_by("value_json", "lsn"), F.max_by("value_json", "lsn")).collect()[0]
    assert all('"lang"' not in v for v in first_last)

    registry = SchemaRegistry()
    sink = ingest(spark, ev, str(tmp_path / "tbl"), n, n_epochs=1, num_buckets=8,
                  registry=registry)
    want = _duckdb_lww(src)
    assert sum(r[4] is not None for r in want) >= 5
    got = sorted(map(tuple, sink.read().select(
        "repo", "path", "lsn", "commit", "lang", F.sha2("content", 256)).collect()))
    assert got == want
    assert "lang" in registry.get("SourceChange").fieldNames()
    assert sink.meta()["registry"] == registry.to_json()


def test_steady_state_observation_submits_no_job(spark, events, tmp_path, monkeypatch):
    """A one-epoch ``ingest`` onto a sink whose committed registry resolves
    every key path never calls the sampler and observes with 0 jobs; the
    first epoch of a fresh sink observes with one aggregation."""
    from conftest import count_spark_jobs
    from kafka_connect_converter_json_spark.plans.registry import SchemaRegistry
    from kafka_connect_converter_json_spark.streaming import ingest as ingest_mod

    sampled, observe_jobs = [], []
    sampler, observe = ingest_mod.observe_envelope_samples_pruned, ingest_mod.observe_epoch

    def counting_sampler(*args):
        sampled.append(args[1:])
        return sampler(*args)

    def counting_observe(*args, **kwargs):
        with count_spark_jobs(spark) as n:
            out = observe(*args, **kwargs)
        observe_jobs.append(n["jobs"])
        return out

    monkeypatch.setattr(ingest_mod, "observe_envelope_samples_pruned", counting_sampler)
    monkeypatch.setattr(ingest_mod, "observe_epoch", counting_observe)
    events.count()  # fill the fixture's cache outside the counted blocks
    root = str(tmp_path / "steady")
    ingest(spark, events, root, 1000, n_epochs=1, num_buckets=8)
    # one aggregation; with AQE its partial-aggregate stage is its own job
    assert len(sampled) == 1 and 0 < observe_jobs[0] <= 2

    sampled.clear()
    observe_jobs.clear()
    # a restarted driver: the registry comes only from the committed snapshot
    sink = ingest(spark, events, root, N_EVENTS, n_epochs=1, epoch_offset=1,
                  lsn_lo=1000, num_buckets=8, registry=SchemaRegistry())
    assert sampled == [] and observe_jobs == [0]
    assert sorted(sink.committed_epochs()) == [0, 1]


def test_corrupt_carrier_does_not_hide_key_path(spark, tmp_path):
    """The lowest-LSN row carrying a path the registry lacks is
    unparseable: the path is still learned from a later good row, whose
    value reaches the sink."""
    from kafka_connect_converter_json_spark.plans.registry import SchemaRegistry
    from kafka_connect_converter_json_spark.streaming.stream import EVENT_SCHEMA

    def row(lsn, path, value_json):
        key = json.dumps({"repo": "r", "path": path})
        return (lsn, "u", "SourceChange", value_json, key, "r", path, 0, lsn)

    def env(path, **extra):
        return json.dumps({"meta": {"repo": "r", "path": path}, "commit": {"id": f"c-{path}"},
                           "content": f"body of {path}", **extra})

    rows = [row(i, f"p{i}", env(f"p{i}")) for i in range(10)]
    rows.append(row(10, "p10", '{"lang":"zz","meta":{"repo":"r",'))  # corrupt carrier
    rows.append(row(11, "p11", env("p11", lang="py")))
    ev = spark.createDataFrame(rows, EVENT_SCHEMA)

    registry = SchemaRegistry()
    root = str(tmp_path / "carrier")
    ingest(spark, ev, root, 5, n_epochs=1, num_buckets=4)  # lsn 0..4: no lang
    sink = ingest(spark, ev, root, 12, n_epochs=1, epoch_offset=1, lsn_lo=5,
                  num_buckets=4, registry=registry, quarantine=True)
    assert "lang" in registry.get("SourceChange").fieldNames()
    state = {r["path"]: r["lang"] for r in sink.read().collect()}
    assert state["p11"] == "py"
    assert "p10" not in state and state["p9"] is None
    quarantined = spark.read.parquet(root + "/quarantine/*").collect()
    assert [r["lsn"] for r in quarantined] == [10]


@pytest.mark.parametrize("field", ["commit.lsn", "commit.id"])
def test_type_change_lands_after_identity_replay(spark, tmp_path, field):
    """A field whose JSON type changes for good mid-stream. A field the
    sink never reads (``commit.lsn``, a string from epoch 2 on) makes no
    row corrupt. A key path (``commit.id``, a number in epochs 0-1, a
    string after) quarantines the changed rows until an identity
    ``replay_quarantine`` widens the registry from them. Either way the
    sink ends equal to a DuckDB LWW over the same rows."""
    from pyspark.sql import functions as F

    from kafka_connect_converter_json_spark.streaming.ingest import replay_quarantine

    n = 1200
    ev = gen_events(spark, n, n_repos=10, paths_per_repo=20, seed=23)
    if field == "commit.lsn":
        changed = F.when(F.col("lsn") >= n // 2, F.regexp_replace(
            "value_json", r'"lsn":(\d+)', '"lsn":"$1"'))
    else:
        changed = F.when(F.col("lsn") < n // 2, F.regexp_replace(
            "value_json", F.lit(r'"id":"[0-9A-F]+"'),
            F.concat(F.lit('"id":'), F.col("lsn").cast("string"))))
    src = str(tmp_path / "events")
    ev.withColumn("value_json", changed.otherwise(F.col("value_json"))).write.parquet(src)
    root = str(tmp_path / "tbl")
    sink = ingest(spark, spark.read.parquet(src), root, n, n_epochs=4, num_buckets=8,
                  quarantine=True)
    quarantined = spark.read.parquet(root + "/quarantine/*").count()
    want = _duckdb_lww(src)

    def state():
        return sorted(map(tuple, sink.read().select(
            "repo", "path", "lsn", "commit", "lang", F.sha2("content", 256)).collect()))

    if field == "commit.lsn":
        assert quarantined == 0 and state() == want
    out = replay_quarantine(spark, root, lambda df: df)
    assert out["replayed"] == quarantined and out["still_corrupt"] == 0
    sink = sink.open(spark, root)
    assert state() == want
