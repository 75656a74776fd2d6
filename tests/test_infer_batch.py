"""Batched envelope schema inference (the registry's per-epoch compile
step): one driver-side fold for all of an epoch's samples."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import count_spark_jobs
from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
from kafka_connect_converter_json_spark.streaming.ingest import (
    infer_envelope_schema_from_sample,
    infer_envelope_schemas_batch,
)

EVOLVE_AT = 300


def _per_sample_job(spark, sample):
    """Reference: ``schema_of_json`` of one sample run as a Spark job."""
    ddl = spark.range(1).select(F.schema_of_json(F.lit(sample))).collect()[0][0]
    return T._parse_datatype_string(ddl)


@pytest.fixture(scope="module")
def samples(spark):
    ev = gen_events(spark, 600, n_repos=5, paths_per_repo=10, seed=3, evolve_at=EVOLVE_AT)
    nn = ev.filter(F.col("value_json").isNotNull())

    def first3(cond):
        rows = nn.filter(cond).orderBy("lsn").select("value_json").limit(3).collect()
        return [r[0] for r in rows]

    return first3(F.col("lsn") < EVOLVE_AT), first3(F.col("lsn") >= EVOLVE_AT)


def test_batch_matches_per_sample_inference(spark, samples):
    before, after = samples
    got = infer_envelope_schemas_batch(spark, before + after)
    assert got == [_per_sample_job(spark, s) for s in before + after]
    assert got == [infer_envelope_schema_from_sample(spark, s) for s in before + after]
    # the evolution is visible: later envelopes carry a field earlier ones lack
    assert set(got[-1].fieldNames()) - set(got[0].fieldNames())


def test_corrupt_sample_keeps_good_schemas(spark, samples):
    before, after = samples
    good = [before[0], after[0]]
    got = infer_envelope_schemas_batch(spark, [good[0], '{"meta": {"repo": ', good[1]])
    assert got == [_per_sample_job(spark, s) for s in good]
    # a JSON value that is not an object is skipped, not an error
    assert infer_envelope_schemas_batch(spark, ["[1, 2]", good[0]]) == got[:1]


def test_clean_batch_submits_no_spark_job(spark, samples):
    before, after = samples
    with count_spark_jobs(spark) as n:
        got = infer_envelope_schemas_batch(spark, before + after)
    assert len(got) == len(before + after)
    assert n["jobs"] == 0
