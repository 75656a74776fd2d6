"""The sink's write core: one envelope parse, one exchange per write and
core-sized write tasks, checked for plan shape, job count, file layout
and state against a pure-Python last-writer-wins oracle."""

import glob
import os
import random

import pytest
from pyspark.sql import functions as F

from conftest import count_spark_jobs
from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
from kafka_connect_converter_json_spark.plans.registry import SchemaRegistry
from kafka_connect_converter_json_spark.streaming.ingest import (
    convert_events,
    default_config,
    observe_epoch,
)
from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

N_BUCKETS = 16
N_EPOCHS = 3


@pytest.fixture(scope="module")
def typed(spark):
    """400 converted CDC events, corrupt rows filtered as ingest does."""
    events = gen_events(spark, 400, n_repos=10, paths_per_repo=20, seed=5)
    schema = observe_epoch(spark, events, default_config(), SchemaRegistry(), False)
    return convert_events(events, default_config(), "native", schema)


def _from_json_count(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("from_json(")


def test_convert_events_parses_envelope_once(typed):
    assert _from_json_count(typed.filter(~F.col("_corrupt"))) == 1
    # the stats pass reads only keys, lsn and the corrupt flag: still one
    stats_cols = typed.filter(~F.col("_corrupt")).select("repo", "path", "lsn")
    assert _from_json_count(stats_cols) == 1


def _merge_jobs(spark, typed, root: str, mode: str) -> int:
    sink = BucketedMergeSink(
        spark, root, keys=["repo", "path"], num_buckets=N_BUCKETS, merge_mode=mode,
    )
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    with count_spark_jobs(spark) as n:
        sink.merge(typed.filter(~F.col("_corrupt")).drop("_corrupt"), epoch=0)
    # no job of the merge ran outside the group (the tracker may meanwhile
    # drop old jobs past spark.ui.retainedJobs, so only new ids count)
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    return n["jobs"]


def test_mor_merge_jobs_include_stats_pass(spark, typed, tmp_path):
    """The stats thread inherits the caller's job group, so its jobs are
    counted with the write's: 2 for the one-exchange write (shuffle map
    stage, then the write) and 2 for the stats pass."""
    assert _merge_jobs(spark, typed, str(tmp_path / "s"), "mor") == 4


def test_cow_merge_takes_touched_buckets_from_stats_pass(spark, typed, tmp_path):
    """A copy-on-write merge learns the buckets to fold from the stats
    pass instead of a distinct-bucket job of its own: the same 2 + 2."""
    assert _merge_jobs(spark, typed, str(tmp_path / "s"), "cow") == 4


def _epochs(seed: int = 11):
    """N_EPOCHS batches of (k, lsn, op, v) over 120 keys, ~10% deletes."""
    rng = random.Random(seed)
    lsn, out = 0, []
    for _ in range(N_EPOCHS):
        rows = []
        for _ in range(150):
            lsn += 1
            op = "d" if rng.random() < 0.1 else "u"
            rows.append((f"k{rng.randrange(120):03d}", lsn, op,
                         None if op == "d" else f"v{lsn}"))
        out.append(rows)
    return out


def _oracle(epochs, upto: int) -> dict:
    state: dict = {}
    for rows in epochs[: upto + 1]:
        for k, lsn, op, v in sorted(rows, key=lambda r: r[1]):
            if op == "d":
                state.pop(k, None)
            else:
                state[k] = (lsn, v)
    return state


def _state(df) -> dict:
    return {r.k: (r.lsn, r.v) for r in df.collect()}


def _diff(old: dict, new: dict) -> set:
    out = {(k, "insert", new[k][1]) for k in new.keys() - old.keys()}
    out |= {(k, "delete", old[k][1]) for k in old.keys() - new.keys()}
    out |= {(k, "update_postimage", new[k][1])
            for k in new.keys() & old.keys() if new[k] != old[k]}
    return out


def _write_dir(sink, prefix: str) -> str:
    """The one write dir named by the live manifest whose name starts
    with ``prefix`` (``data/e000001``, ``data/c000000``...)."""
    m = sink._manifest
    dirs = {
        rel.rsplit("/", 1)[0] for rel in [*m["buckets"].values(), *m["deltas"]]
        if rel.startswith(f"{prefix}-")
    }
    assert len(dirs) == 1, dirs
    return dirs.pop()


def _one_file_per_bucket(spark, root: str, rel: str) -> None:
    dirs = glob.glob(os.path.join(root, rel, "_bucket=*"))
    assert dirs
    files = [f for d in dirs for f in glob.glob(os.path.join(d, "*.parquet"))]
    assert len(files) == len(dirs), rel
    # part-NNNNN names the write task: at most one task per core
    tasks = {os.path.basename(f).split("-")[1] for f in files}
    assert len(tasks) <= spark.sparkContext.defaultParallelism < N_BUCKETS, tasks


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_layout_and_reads_match_oracle(spark, tmp_path, mode):
    root = str(tmp_path / mode)
    sink = BucketedMergeSink(
        spark, root, keys=["k"], order_col="lsn", num_buckets=N_BUCKETS,
        merge_mode=mode, compact_every=None,
    )
    epochs = _epochs()
    for e, rows in enumerate(epochs):
        sink.merge(
            spark.createDataFrame(rows, "k string, lsn long, op string, v string"), e
        )
        _one_file_per_bucket(spark, root, _write_dir(sink, f"data/e{e:06d}"))
        assert _state(sink.read()) == _oracle(epochs, e)

    def check_history():
        for e in range(N_EPOCHS):
            assert _state(sink.read_as_of(e)) == _oracle(epochs, e)
            got = {(r.k, r._change_type, r.v) for r in sink.read_changes(
                e, from_epoch=e - 1 if e else None
            ).collect()}
            prev = _oracle(epochs, e - 1) if e else {}
            assert got == _diff(prev, _oracle(epochs, e)), e

    check_history()
    if mode == "mor":
        assert sink.compact()["compacted"]
        _one_file_per_bucket(spark, root, _write_dir(sink, "data/c000000"))
        assert _state(sink.read()) == _oracle(epochs, N_EPOCHS - 1)
        check_history()
