"""Structured Streaming front end: availableNow drain into the MERGE
sink with checkpoint resume, and the cross-batch stateful LWW operator."""

import hashlib

import pandas as pd
import pytest

from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
from kafka_connect_converter_json_spark.streaming.stream import (
    EVENT_SCHEMA,
    stateful_lww,
    stream_ingest,
)

N = 1200


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    ev = gen_events(spark, N, n_repos=10, paths_per_repo=15, seed=21)
    # two producer "epochs" landing as separate files (a tailed directory)
    ev.filter("lsn < 600").select(*[f.name for f in EVENT_SCHEMA.fields]).write.parquet(
        str(d / "p0")
    )
    ev.filter("lsn >= 600").select(*[f.name for f in EVENT_SCHEMA.fields]).write.parquet(
        str(d / "p1")
    )
    return str(d)


def _state_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.sort_values(["repo", "path"]).reset_index(drop=True)
    h = hashlib.sha256()
    for r in pdf.itertuples():
        h.update(f"{r.repo}|{r.path}|{hashlib.sha256(r.content.encode()).hexdigest()}|{r.lsn}".encode())
    return h.hexdigest()


def test_stream_ingest_matches_batch_replay(spark, source_dir, tmp_path):
    from kafka_connect_converter_json_spark.streaming.ingest import ingest
    from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

    # streaming drain
    stream_ingest(
        spark,
        source_dir + "/*",
        str(tmp_path / "tbl_stream"),
        str(tmp_path / "ckpt"),
        num_buckets=8,
    )
    got = BucketedMergeSink.open(spark, str(tmp_path / "tbl_stream")).read()

    # batch replay of the same events
    ev = gen_events(spark, N, n_repos=10, paths_per_repo=15, seed=21)
    sink = ingest(spark, ev, str(tmp_path / "tbl_batch"), N, n_epochs=2, num_buckets=8)
    exp = sink.read()

    cols = ["repo", "path", "content", "lsn"]
    assert _state_hash(got.select(cols).toPandas()) == _state_hash(exp.select(cols).toPandas())


def test_stream_learns_key_path_from_later_file(spark, tmp_path):
    """``lang`` is absent from every envelope of the first file and from
    the first row of every data file, and present in every tenth row of
    the later file: the stream must learn it like the batch ``ingest`` of
    the same events, not read it as null for the life of the query."""
    from pyspark.sql import functions as F

    from kafka_connect_converter_json_spark.streaming.ingest import ingest
    from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

    ev = gen_events(spark, N, n_repos=10, paths_per_repo=15, seed=23)
    carries = (F.col("lsn") >= 600) & (F.col("lsn") % 10 == 3)
    ev = ev.withColumn("value_json", F.when(carries, F.col("value_json")).otherwise(
        F.regexp_replace("value_json", r'"lang":"[^"]*",', "")
    )).select(*[f.name for f in EVENT_SCHEMA.fields])
    src = tmp_path / "src"
    ev.filter("lsn < 600").write.parquet(str(src / "p0"))
    ev.filter("lsn >= 600").write.parquet(str(src / "p1"))

    stream_ingest(spark, str(src / "*"), str(tmp_path / "tbl_stream"),
                  str(tmp_path / "ckpt"), num_buckets=8)
    got = BucketedMergeSink.open(spark, str(tmp_path / "tbl_stream")).read()
    sink = ingest(spark, spark.read.parquet(str(src / "*")), str(tmp_path / "tbl_batch"),
                  N, n_epochs=2, num_buckets=8)

    cols = ["repo", "path", "lang", "content", "lsn"]
    want = sorted(map(tuple, sink.read().select(*cols).collect()))
    assert sorted(map(tuple, got.select(*cols).collect())) == want
    assert any(r[2] is not None for r in want) and any(r[2] is None for r in want)


def test_stream_restart_is_idempotent(spark, source_dir, tmp_path):
    root = str(tmp_path / "tbl_restart")
    ckpt = str(tmp_path / "ckpt_restart")
    stream_ingest(spark, source_dir + "/*", root, ckpt, num_buckets=8)
    from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

    before = BucketedMergeSink.open(spark, root).read().count()
    # re-run with same checkpoint: no new data -> no change
    stream_ingest(spark, source_dir + "/*", root, ckpt, num_buckets=8)
    after = BucketedMergeSink.open(spark, root).read().count()
    assert before == after


def test_stateful_lww_changelog(spark, source_dir, tmp_path):
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(source_dir + "/*")
        .select(
            "repo",
            "path",
            "lsn",
            F.coalesce(F.get_json_object("value_json", "$.content"), F.lit("")).alias("content"),
            "op",
        )
    )
    out = stateful_lww(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("lww_changelog")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.sql("select * from lww_changelog").toPandas()
    assert len(res) > 0
    # per key, the emitted lsn never decreases across emissions
    for _, grp in res.groupby(["repo", "path"]):
        assert grp["lsn"].is_monotonic_increasing or len(grp) == 1


def test_windowed_event_counts_with_watermark(spark, tmp_path):
    """Watermarked tumbling windows over a drained stream: per-window
    counts match the batch computation on the same (in-order) data, and a
    too-late event (beyond the watermark in a later file) is dropped from
    streaming output while batch mode still counts it."""
    from pyspark.sql import functions as F
    from kafka_connect_converter_json_spark.streaming.stream import windowed_event_counts

    src = tmp_path / "wsrc"
    schema = "lsn long, op string, repo string, event_time timestamp"
    base = spark.range(600).select(
        F.col("id").alias("lsn"),
        F.when(F.col("id") % 7 == 0, "d").otherwise("u").alias("op"),
        F.concat(F.lit("r"), (F.col("id") % 3).cast("string")).alias("repo"),
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id").cast("double"))).alias("event_time"),
    )
    base.filter("lsn < 300").write.parquet(str(src / "p0"))
    # second file: fresh events at minutes 5-10 plus ONE very-late event
    # (minute 0 again — more than 2 min behind the new max -> dropped)
    late = base.filter("lsn >= 300").withColumn(
        "event_time", F.col("event_time") + F.make_interval(mins=F.lit(5))
    ).unionByName(
        base.filter("lsn = 10").withColumn("lsn", F.lit(9999).cast("long"))
    )
    late.write.parquet(str(src / "p1"))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"  # p0 and p1 land as separate micro-batches
    ).parquet(str(src / "*"))
    out_dir, ckpt = str(tmp_path / "wout"), str(tmp_path / "wckpt")
    q = (
        windowed_event_counts(stream, window_duration="1 minute")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir)

    # append mode emits only watermark-finalized windows; compare against
    # the batch computation restricted to those windows
    batch_all = windowed_event_counts(
        spark.read.schema(schema).parquet(str(src / "*")), window_duration="1 minute"
    )
    finalized = {(r.window.start, r.repo) for r in got.collect()}
    exp = {
        (r.window.start, r.repo): (r.n_events, r.n_upserts, r.n_deletes, r.max_lsn)
        for r in batch_all.collect()
    }
    assert len(finalized) > 0
    for r in got.collect():
        key = (r.window.start, r.repo)
        e = exp[key]
        if r.max_lsn == 9999 or e[3] == 9999:
            continue  # the late-event window: counted in batch, see below
        assert (r.n_events, r.n_upserts, r.n_deletes, r.max_lsn) == e, key
    # the too-late duplicate (lsn 9999, minute 0) was dropped by the
    # watermark: no streaming window row carries it, the batch rows do
    assert got.filter(F.col("max_lsn") == 9999).count() == 0
    assert batch_all.filter(F.col("max_lsn") == 9999).count() == 1


def test_streaming_sessions_close_on_event_time_timer(spark, tmp_path):
    """Session windows via applyInPandasWithState + EventTimeTimeout:
    a session closes (emits) only when the watermark passes last+gap;
    still-open sessions at drain time emit nothing."""
    from pyspark.sql import functions as F
    from kafka_connect_converter_json_spark.streaming.stream import streaming_sessions

    src = tmp_path / "ssrc"
    schema = "repo string, event_time timestamp"
    t0 = F.lit("2026-01-01 00:00:00").cast("timestamp")

    def mk(rows):
        # one part file per directory: multiple parts share the pinned
        # mtime and would interleave arbitrarily across micro-batches
        return spark.createDataFrame(rows, "repo string, secs double").select(
            "repo", (t0 + F.make_interval(secs=F.col("secs"))).alias("event_time")
        ).coalesce(1)

    # p0: r0 session [0..10] (3 events), r1 single-event session [2..2]
    mk([("r0", 0.0), ("r0", 5.0), ("r0", 10.0), ("r1", 2.0)]).write.parquet(
        str(src / "p0")
    )
    # p1: r0 opens a NEW session at 100 (gap 30 from 10); watermark after
    # this batch = 100 - 10 = 90 > 10+30 and > 2+30
    mk([("r0", 100.0)]).write.parquet(str(src / "p1"))
    # p2: dummy key advances processing one more batch so the timers
    # armed before watermark=90 actually fire
    mk([("r2", 200.0)]).write.parquet(str(src / "p2"))

    # the file source orders micro-batches by file modification time;
    # back-to-back writes can collide within the fs timestamp granularity
    # and flip the batch order (observed flaky) — pin strictly increasing
    # mtimes so p0 -> p1 -> p2 is deterministic
    import os as _os, time as _time
    now = _time.time()
    for k, d in enumerate(["p0", "p1", "p2"]):
        for f in (src / d).iterdir():
            _os.utime(f, (now - 300 + 100 * k, now - 300 + 100 * k))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    out_dir, ckpt = str(tmp_path / "sout"), str(tmp_path / "sckpt")
    q = (
        streaming_sessions(stream, gap_seconds=30, watermark_delay="10 seconds")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.skey, r.session_start.second + 60 * r.session_start.minute,
         r.session_end.second + 60 * r.session_end.minute, r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    }
    # closed: r0 [0,10]x3, r1 [2,2]x1 (timers armed at 40/32 fire once
    # the watermark passes), and r0 [100,100]x1 (the final availableNow
    # batch advances the watermark to 200-10=190 > 100+30). r2@200 keeps
    # its open session: its timer (230) sits beyond the final watermark.
    assert got == {("r0", 0, 10, 3), ("r1", 2, 2, 1), ("r0", 100, 100, 1)}
    assert ("r2", 200, 200, 1) not in got


def test_streaming_sessions_in_batch_split(spark, tmp_path):
    """A key whose single micro-batch spans several sessions emits all
    but the last immediately (in-batch gap splitting)."""
    from pyspark.sql import functions as F
    from kafka_connect_converter_json_spark.streaming.stream import streaming_sessions

    src = tmp_path / "bsrc"
    schema = "repo string, event_time timestamp"
    t0 = F.lit("2026-01-01 00:00:00").cast("timestamp")
    spark.createDataFrame(
        [("r0", 0.0), ("r0", 1.0), ("r0", 50.0), ("r0", 120.0)],
        "repo string, secs double",
    ).select(
        "repo", (t0 + F.make_interval(secs=F.col("secs"))).alias("event_time")
    ).write.parquet(str(src / "p0"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    out_dir, ckpt = str(tmp_path / "bout"), str(tmp_path / "bckpt")
    q = (
        streaming_sessions(stream, gap_seconds=30, watermark_delay="10 seconds")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.session_start.second + 60 * r.session_start.minute,
         r.session_end.second + 60 * r.session_end.minute, r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    }
    # [0,1]x2 and [50,50]x1 close in-batch; [120,120] stays open
    assert got == {(0, 1, 2), (50, 50, 1)}


def test_streaming_sessions_early_straggler_splits_not_stretches(spark, tmp_path):
    """A late event inside the watermark but more than gap BEFORE the open
    session's start forms its own (immediately closed) earlier session —
    it must NOT be folded in and stretch session_start. A straggler
    within gap of the open session's start DOES bridge in (both match
    batch `sessionize`). ADVICE r3 regression."""
    from pyspark.sql import functions as F
    from kafka_connect_converter_json_spark.streaming.stream import streaming_sessions

    src = tmp_path / "esrc"
    schema = "repo string, event_time timestamp"
    t0 = F.lit("2026-01-01 00:00:00").cast("timestamp")

    def mk(rows):
        return spark.createDataFrame(rows, "repo string, secs double").select(
            "repo", (t0 + F.make_interval(secs=F.col("secs"))).alias("event_time")
        ).coalesce(1)

    # p0 opens sessions at t=100 (gap 30, watermark delay 60 → wm=40)
    mk([("r0", 100.0), ("r1", 100.0)]).write.parquet(str(src / "p0"))
    # p1: r0@60 is within the watermark (60>40) but 60 < 100-30 → its own
    # closed session; r1@75 is within gap of start (75 >= 70) → bridges
    mk([("r0", 60.0), ("r1", 75.0)]).write.parquet(str(src / "p1"))
    # p2: dummy key advances the watermark to 240 so open-session timers fire
    mk([("r2", 300.0)]).write.parquet(str(src / "p2"))

    import os as _os, time as _time
    now = _time.time()
    for k, d in enumerate(["p0", "p1", "p2"]):
        for f in (src / d).iterdir():
            _os.utime(f, (now - 300 + 100 * k, now - 300 + 100 * k))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    out_dir, ckpt = str(tmp_path / "eout"), str(tmp_path / "eckpt")
    q = (
        streaming_sessions(stream, gap_seconds=30, watermark_delay="60 seconds")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.skey, r.session_start.second + 60 * r.session_start.minute,
         r.session_end.second + 60 * r.session_end.minute, r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        ("r0", 60, 60, 1),     # straggler split off, closed in-batch
        ("r0", 100, 100, 1),   # open session UNstretched, closed by timer
        ("r1", 75, 100, 2),    # within-gap straggler bridged in
    }


def test_stream_ingest_into_mor_sink(spark, source_dir, tmp_path):
    """stream_ingest forwards sink kwargs: a live tail can run the
    merge-on-read sink (the 10^10-regime mode) and must converge to the
    same state as the COW streaming drain."""
    from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

    stream_ingest(
        spark, source_dir + "/*", str(tmp_path / "tm"), str(tmp_path / "tmc"),
        num_buckets=8, merge_mode="mor",
    )
    stream_ingest(
        spark, source_dir + "/*", str(tmp_path / "tc"), str(tmp_path / "tcc"),
        num_buckets=8,
    )
    mor = BucketedMergeSink.open(spark, str(tmp_path / "tm"))
    cow = BucketedMergeSink.open(spark, str(tmp_path / "tc"))
    assert mor.merge_mode == "mor" and len(mor._manifest.get("deltas", [])) > 0
    cols = ["repo", "path", "content", "lsn"]
    assert _state_hash(mor.read().select(cols).toPandas()) == \
        _state_hash(cow.read().select(cols).toPandas())
