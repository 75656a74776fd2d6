"""Merge-on-read sink mode: epochs append LWW-reduced deltas (O(batch)
writes), reads merge base + deltas, compact() folds them down. Final
state must be byte-identical to copy-on-write on the same stream."""

import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
from kafka_connect_converter_json_spark.streaming.ingest import ingest
from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

N = 2000


def _rows(df):
    cols = sorted(c for c in df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


@pytest.fixture(scope="module")
def events(spark):
    return gen_events(spark, N, n_repos=10, paths_per_repo=20, seed=17).cache()


def test_mor_matches_cow_final_state(spark, events, tmp_path):
    cow = ingest(spark, events, str(tmp_path / "cow"), N, n_epochs=4, num_buckets=8)
    mor = ingest(
        spark, events, str(tmp_path / "mor"), N, n_epochs=4, num_buckets=8,
        merge_mode="mor",
    )
    assert _rows(mor.read()) == _rows(cow.read())


def test_mor_writes_deltas_not_base(spark, events, tmp_path):
    root = str(tmp_path / "m")
    sink = ingest(spark, events, root, N, n_epochs=3, num_buckets=8, merge_mode="mor")
    m = sink._manifest
    # base never materialized: all data lives in per-epoch delta dirs
    assert m["buckets"] == {}
    assert len(m["deltas"]) > 0
    assert all(rel.startswith("data/e") for rel in m["deltas"])
    # each epoch snapshot records the delta list as of its commit
    assert len(m["epochs"][0]["deltas"]) < len(m["epochs"][-1]["deltas"])


def test_mor_deletes_mask_earlier_versions(spark, tmp_path):
    root = str(tmp_path / "d")
    ev = gen_events(spark, 500, n_repos=4, paths_per_repo=10, seed=3)
    sink = ingest(spark, ev, root, 500, n_epochs=2, num_buckets=4, merge_mode="mor")
    final = sink.read()
    # the generator emits deletes; a deleted key must not appear
    deleted = (
        ev.filter(F.col("op") == "d")
        .groupBy("repo", "path").agg(F.max("lsn").alias("dl"))
    )
    live = final.select("repo", "path", "lsn")
    resurrected = (
        live.join(deleted, ["repo", "path"]).filter(F.col("lsn") < F.col("dl"))
    )
    assert resurrected.count() == 0
    # and no tombstone/op column leaks into the read schema
    assert "op" not in final.columns


def test_mor_compact_preserves_state_and_clears_deltas(spark, events, tmp_path):
    root = str(tmp_path / "c")
    sink = ingest(spark, events, root, N, n_epochs=4, num_buckets=8, merge_mode="mor")
    before = _rows(sink.read())
    pre_epoch = max(sink.committed_epochs())
    out = sink.compact()
    assert out["compacted"] and out["deltas_folded"] > 0
    assert sink._manifest["deltas"] == []
    assert _rows(sink.read()) == before
    # time travel to the pre-compact snapshot still resolves (old delta
    # dirs remain on disk until vacuum)
    assert _rows(sink.read_as_of(pre_epoch)) == before
    # idempotent: nothing left to fold
    assert sink.compact() == {"compacted": False, "deltas_folded": 0}
    # a reopened sink adopts the compacted layout
    assert _rows(BucketedMergeSink.open(spark, root).read()) == before


def test_mor_compact_rewrites_only_buckets_with_deltas(spark, tmp_path):
    """compact() folds only the buckets that have pending deltas; every
    other bucket keeps its base files."""
    sink = BucketedMergeSink(spark, str(tmp_path / "inc"), keys=["k"],
                             num_buckets=4, compact_every=None)

    def batch(ks, lsn0):
        return spark.createDataFrame(
            [(k, lsn0 + i, "u", f"v{lsn0}") for i, k in enumerate(ks)],
            "k long, lsn long, op string, v string",
        )

    sink.merge(batch(range(40), 0), 0)
    sink.compact()
    base = dict(sink._manifest["buckets"])
    assert len(base) == 4
    keyed = sink.read().withColumn("_b", sink._bucket_expr()).collect()
    hot = str(keyed[0]._b)
    sink.merge(batch([r.k for r in keyed if str(r._b) == hot], 100), 1)
    before = _rows(sink.read())
    assert sink.compact()["buckets_written"] == 1
    after = sink._manifest["buckets"]
    assert {b: r for b, r in after.items() if b != hot} == {
        b: r for b, r in base.items() if b != hot
    }
    assert after[hot] != base[hot]
    assert _rows(sink.read()) == before
    assert _rows(sink.read_as_of(1)) == before


def test_mor_merge_after_compact(spark, events, tmp_path):
    """Epochs keep committing after a compaction: base + new deltas."""
    root = str(tmp_path / "mc")
    half = N // 2
    first = events.filter(F.col("lsn") < half)
    sink = ingest(spark, first, root, half, n_epochs=2, num_buckets=8,
                  merge_mode="mor")
    sink.compact()
    # second half replays as later epochs on the same sink root
    sink2 = ingest(spark, events, root, N, n_epochs=4, num_buckets=8,
                   merge_mode="mor")
    cow = ingest(spark, events, str(tmp_path / "ref"), N, n_epochs=4, num_buckets=8)
    assert _rows(sink2.read()) == _rows(cow.read())


def test_mor_crash_resume_byte_identical(spark, events, tmp_path):
    root = str(tmp_path / "cr")
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest(spark, events, root, N, n_epochs=4, num_buckets=8,
               merge_mode="mor", fail_after_epochs=2)
    resumed = ingest(spark, events, root, N, n_epochs=4, num_buckets=8,
                     merge_mode="mor")
    clean = ingest(spark, events, str(tmp_path / "cl"), N, n_epochs=4,
                   num_buckets=8, merge_mode="mor")
    assert _rows(resumed.read()) == _rows(clean.read())


def test_mor_vacuum_after_compact_removes_deltas(spark, events, tmp_path):
    root = str(tmp_path / "v")
    sink = ingest(spark, events, root, N, n_epochs=3, num_buckets=8,
                  merge_mode="mor")
    before = _rows(sink.read())
    sink.compact()
    removed = sink.vacuum()
    assert any(rel.startswith("data/e") for rel in removed)
    assert _rows(sink.read()) == before
    # the delta dirs are gone from disk
    for rel in removed:
        assert not os.path.exists(os.path.join(root, rel))


def test_mor_read_changes_matches_cow_on_stream(spark, events, tmp_path):
    """read_changes works on MOR sinks since r4 (range deltas classified
    against the pruned prior snapshot) and must equal the COW path-diff
    on the same generated CDC stream."""
    mor = ingest(spark, events, str(tmp_path / "rc"), N, n_epochs=2,
                 num_buckets=8, merge_mode="mor")
    cow = ingest(spark, events, str(tmp_path / "rcc"), N, n_epochs=2,
                 num_buckets=8)
    m = _rows(mor.read_changes(to_epoch=1, from_epoch=0))
    c = _rows(cow.read_changes(to_epoch=1, from_epoch=0))
    assert m == c and len(m) > 0


def test_mode_mismatch_is_hard_error(spark, events, tmp_path):
    root = str(tmp_path / "mm")
    ingest(spark, events, root, N, n_epochs=1, num_buckets=8, merge_mode="cow")
    # default-constructed sinks are merge-on-read: reopening a COW table
    # without naming its mode must be a hard error, not a silent switch
    with pytest.raises(ValueError, match="merge_mode"):
        BucketedMergeSink(spark, root, keys=["repo", "path"], num_buckets=8)
    with pytest.raises(ValueError, match="merge_mode"):
        BucketedMergeSink(spark, str(tmp_path / "mm2"), keys=["repo", "path"],
                          num_buckets=8, merge_mode="bogus")


def test_mor_auto_compact_bounds_read_amplification(spark, events, tmp_path):
    """compact_every=2: deltas auto-fold after every second epoch, so
    pending delta epochs never exceed the bound and state stays exact."""
    root = str(tmp_path / "ac")
    sink = ingest(
        spark, events, root, N, n_epochs=4, num_buckets=8,
        merge_mode="mor", compact_every=2,
    )
    m = sink._manifest
    pending_epochs = {r.split("/")[1] for r in m["deltas"]}
    assert len(pending_epochs) < 2
    assert any(e["op"] == "compact" for e in m.get("maintenance", []))
    ref = ingest(spark, events, str(tmp_path / "acr"), N, n_epochs=4, num_buckets=8)
    assert _rows(sink.read()) == _rows(ref.read())


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_read_key_point_lookup(spark, events, tmp_path, mode):
    """read_key touches only the key's bucket and agrees with a full-scan
    filter — for live, deleted, and absent keys, in both merge modes."""
    root = str(tmp_path / f"pk_{mode}")
    sink = ingest(spark, events, root, N, n_epochs=3, num_buckets=8,
                  merge_mode=mode)
    full = sink.read().cache()
    live = full.limit(3).collect()
    deleted = (
        events.filter(F.col("op") == "d").select("repo", "path").limit(1).collect()
    )
    probes = [(r.repo, r.path) for r in live] + [
        (r.repo, r.path) for r in deleted
    ] + [("no-such-repo", "no/such/path")]
    for repo, path in probes:
        got = _rows(sink.read_key(repo, path))
        exp = _rows(full.filter((F.col("repo") == repo) & (F.col("path") == path)))
        assert got == exp, (repo, path)


def test_read_key_arity_check(spark, events, tmp_path):
    sink = ingest(spark, events, str(tmp_path / "pka"), N, n_epochs=1, num_buckets=4)
    with pytest.raises(ValueError, match="key values"):
        sink.read_key("only-one")


def test_read_key_integer_key_casts_literal(spark, tmp_path):
    """xxhash64 is type-sensitive: lit(5) (int32) hashes differently from a
    BIGINT column holding 5, so read_key must cast probe literals to the
    STORED key dtype or it scans the wrong bucket and returns empty.
    Probes every doc_id of a bigint-keyed sink (ADVICE r3)."""
    sink = BucketedMergeSink(
        spark, str(tmp_path / "ik"), keys=["doc_id"], num_buckets=8
    )
    batch = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),           # LongType key
        F.col("id").alias("lsn"),
        F.lit("u").alias("op"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    )
    sink.merge(batch, epoch=0)
    full = sink.read().cache()
    assert full.count() == 40
    for doc_id in [0, 5, 17, 39]:
        got = _rows(sink.read_key(doc_id))
        exp = _rows(full.filter(F.col("doc_id") == doc_id))
        assert got == exp and len(got) == 1, doc_id
    # absent key on an int-keyed sink still returns empty, not an error
    assert sink.read_key(10_000).count() == 0


# ----- prefix bucketing (bucket_cols ⊂ keys) -----------------------------


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_bucket_cols_final_state_parity(spark, events, tmp_path, mode):
    """Bucketing on a key-subset (repo) must not change MERGE/LWW results:
    every row of a (repo, path) key still lands in one bucket because the
    hash binds only columns fixed per key."""
    ref = ingest(
        spark, events, str(tmp_path / f"ref_{mode}"), N, n_epochs=3,
        num_buckets=8, merge_mode=mode,
    )
    pre = ingest(
        spark, events, str(tmp_path / f"pre_{mode}"), N, n_epochs=3,
        num_buckets=8, merge_mode=mode, bucket_cols=["repo"],
    )
    assert _rows(pre.read()) == _rows(ref.read())


def test_read_prefix_matches_filter_and_prunes(spark, events, tmp_path):
    sink = ingest(
        spark, events, str(tmp_path / "pp"), N, n_epochs=3, num_buckets=8,
        merge_mode="mor", bucket_cols=["repo"],
    )
    full = sink.read().cache()
    repos = [r.repo for r in full.select("repo").distinct().collect()]
    for repo in repos[:3] + ["no-such-repo"]:
        got = _rows(sink.read_prefix(repo))
        exp = _rows(full.filter(F.col("repo") == repo))
        assert got == exp, repo
    # pruning: the scan touches exactly one bucket's files
    repo = repos[0]
    df = sink.read_prefix(repo)
    from pyspark.sql import functions as SF
    b = (
        spark.range(1)
        .select(SF.lit(repo).alias("repo"))
        .select(
            SF.pmod(SF.xxhash64(SF.col("repo")), SF.lit(sink.num_buckets)).alias("b")
        )
        .collect()[0].b
    )
    files = df.inputFiles()
    assert files and all(f"_bucket={b}" in f or f"bucket={b}/" in f for f in files), (
        b, files[:3],
    )
    # and the table genuinely spans other buckets the scan skipped
    suffixes = {rel.rsplit("_bucket=", 1)[1] for rel in sink._manifest["deltas"]}
    assert len(suffixes) > 1 and str(b) in suffixes


def test_read_prefix_default_bucketing_is_full_key(spark, events, tmp_path):
    """Without bucket_cols the 'prefix' is the whole key — read_prefix
    degenerates to read_key semantics and a 1-value call errors."""
    sink = ingest(spark, events, str(tmp_path / "dp"), N, n_epochs=1, num_buckets=4)
    with pytest.raises(ValueError, match="bucket_cols"):
        sink.read_prefix("repo_0")
    r = sink.read().limit(1).collect()[0]
    assert _rows(sink.read_prefix(r.repo, r.path)) == _rows(
        sink.read_key(r.repo, r.path)
    )


def test_bucket_cols_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="subset of keys"):
        BucketedMergeSink(
            spark, str(tmp_path / "v1"), keys=["repo", "path"],
            bucket_cols=["lang"], num_buckets=4,
        )
    with pytest.raises(ValueError, match="subset of keys"):
        BucketedMergeSink(
            spark, str(tmp_path / "v2"), keys=["repo", "path"],
            bucket_cols=[], num_buckets=4,
        )


def test_bucket_cols_reopen_and_mismatch(spark, events, tmp_path):
    root = str(tmp_path / "ro")
    ingest(
        spark, events, root, N, n_epochs=1, num_buckets=4,
        merge_mode="mor", bucket_cols=["repo"],
    )
    re = BucketedMergeSink.open(spark, root)
    assert re.bucket_cols == ["repo"]
    assert re.read_prefix("repo-0000").count() > 0
    # layout-affecting mismatch on an existing table is a hard error
    with pytest.raises(ValueError, match="bucket_cols"):
        BucketedMergeSink(
            spark, root, keys=["repo", "path"], order_col="lsn",
            num_buckets=4, merge_mode="mor", bucket_cols=["repo", "path"],
        )


def test_bucket_cols_read_key_and_changes_parity(spark, events, tmp_path):
    """Point lookups and the MOR changelog must honor the subset hash:
    both probe bucket ids via the same _bucket_expr as the layout."""
    pre = ingest(
        spark, events, str(tmp_path / "ck_pre"), N, n_epochs=4, num_buckets=8,
        merge_mode="mor", bucket_cols=["repo"],
    )
    cow = ingest(
        spark, events, str(tmp_path / "ck_cow"), N, n_epochs=4, num_buckets=8,
        merge_mode="cow", bucket_cols=["repo"],
    )
    r = pre.read().limit(1).collect()[0]
    assert _rows(pre.read_key(r.repo, r.path)) == _rows(
        pre.read().filter((F.col("repo") == r.repo) & (F.col("path") == r.path))
    )
    got = _rows(pre.read_changes(1, 3))
    exp = _rows(cow.read_changes(1, 3))
    assert got == exp and len(got) > 0


def test_bucket_cols_rebucket_preserves_prefix_reads(spark, events, tmp_path):
    sink = ingest(
        spark, events, str(tmp_path / "rb"), N, n_epochs=2, num_buckets=4,
        merge_mode="mor", bucket_cols=["repo"],
    )
    before = _rows(sink.read())
    sink.compact()
    sink.rebucket(16)
    assert sink.bucket_cols == ["repo"]
    assert _rows(sink.read()) == before
    repo = sink.read().select("repo").limit(1).collect()[0].repo
    assert _rows(sink.read_prefix(repo)) == _rows(
        sink.read().filter(F.col("repo") == repo)
    )
