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
    """The pruned sampler picks LSNs off the 8-byte column only — if a
    boundary row's envelope is null it must fall back to sampling among
    NON-NULL envelopes (the one-job form), not silently lose the sample."""
    from kafka_connect_converter_json_spark.streaming.ingest import (
        observe_envelope_samples,
        observe_envelope_samples_pruned,
    )

    rows = [(i, "u", f'{{"n":{i}}}') for i in range(1, 50)]
    rows.append((0, "u", None))    # corrupt FIRST row (min lsn)
    rows.append((50, "u", None))   # corrupt LAST row (max lsn)
    df = spark.createDataFrame(rows, "lsn long, op string, value_json string")
    got = observe_envelope_samples_pruned(df, "value_json", "lsn")
    want = observe_envelope_samples(df, "value_json", "lsn")
    assert got == want
    assert '{"n":1}' in got and '{"n":49}' in got  # non-null boundaries kept


def test_envelope_sampler_nonunique_order_col(spark):
    """order_col collisions must not pull every colliding row to the
    driver — the point-fetch is limit()-bounded and the result stays a
    small distinct sample set."""
    from kafka_connect_converter_json_spark.streaming.ingest import (
        observe_envelope_samples_pruned,
    )

    # 500 rows all sharing lsn=7, plus distinct boundaries
    rows = [(7, "u", f'{{"dup":{i}}}') for i in range(500)]
    rows += [(1, "u", '{"first":1}'), (9, "u", '{"last":1}')]
    df = spark.createDataFrame(rows, "lsn long, op string, value_json string")
    got = observe_envelope_samples_pruned(df, "value_json", "lsn")
    assert '{"first":1}' in got and '{"last":1}' in got
    assert len(got) <= 4 * 6  # bounded by limit(4 * len(picked_lsns))


def test_pipelined_observe_parity(spark, events, oracle, tmp_path):
    """Observation pipelining (prefetching epoch k+1's envelope samples +
    schema inference under epoch k's merge) must be invisible: final
    state AND the committed registry snapshot are byte-identical to the
    serial form."""
    from kafka_connect_converter_json_spark.plans.registry import SchemaRegistry

    hashes, snaps = [], []
    for tag, pipelined in (("pipe", True), ("serial", False)):
        root = str(tmp_path / f"tbl_{tag}")
        sink = ingest(
            spark, events, root, N_EVENTS, n_epochs=4, num_buckets=8,
            registry=SchemaRegistry(), pipeline_observe=pipelined,
        )
        hashes.append(_state_hash(_read_state(sink)))
        snaps.append(sink.meta().get("registry"))
    assert hashes[0] == hashes[1] == _state_hash(oracle)
    assert snaps[0] == snaps[1]  # registry observed in epoch order either way
