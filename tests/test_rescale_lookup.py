"""Bucket rescaling + stat-pruned point lookups."""

from __future__ import annotations

from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.cdc.generator import generate_change_log
from concepts_pipeline_spark.lake.merge import read_for_keys, rescale_buckets
from __spark_entry__ import TOKENS_SCHEMA


def state(df):
    return {
        r["doc_id"]: (tuple(r["tokens"] or []), r["n_tok"], r["source"])
        for r in df.select("doc_id", "tokens", "n_tok", "source").collect()
    }


def build(spark, tmp_path, strategy="cow"):
    log = generate_change_log(spark, 2000, 200, seed=21, num_batches=2)
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4, strategy=strategy,
    )
    for b in range(2):
        pipe.apply_batch(
            log.filter(F.col("batch_id") == b).drop("batch_id"),
            fence_token=f"r:{b}",
        )
    return pipe


def test_rescale_preserves_state_and_fences(spark, tmp_path):
    pipe = build(spark, tmp_path, strategy="mor")
    before = state(pipe.final_state())
    m = rescale_buckets(spark, pipe.target, 16)
    assert m.num_buckets == 16
    assert {f.bucket for f in m.files} <= set(range(16))
    assert all(f.kind == "base" for f in m.files)  # deltas folded in
    assert state(pipe.final_state()) == before
    assert pipe.target.has_fence_token("r:1")  # exactly-once history survives

    # applies continue against the new layout
    extra = spark.createDataFrame(
        [(10**9, "U", list(before)[0], [7], 1, "s")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    pipe.apply_batch(extra, fence_token="r:2")
    assert state(pipe.final_state())[list(before)[0]][0] == (7,)


def test_read_for_keys_prunes_and_matches(spark, tmp_path):
    pipe = build(spark, tmp_path)
    full = state(pipe.final_state())
    some = sorted(full)[:3] + ["definitely-missing"]
    # probe keys are routed to buckets on the driver: planning the lookup
    # runs no Spark job, so the lookup is the one job that reads the rows
    sc = spark.sparkContext
    sc.setJobGroup("read_for_keys_jobs", "4-key lookup")
    try:
        out = read_for_keys(spark, pipe.target, some)
        rows = (
            out.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
            .select("doc_id", "tokens", "n_tok", "source").collect()
        )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(sc.statusTracker().getJobIdsForGroup("read_for_keys_jobs")) == 1
    got = {
        r["doc_id"]: (tuple(r["tokens"] or []), r["n_tok"], r["source"])
        for r in rows
    }
    assert got == {k: full[k] for k in sorted(full)[:3]}

    # a single-key lookup still resolves through bucket + min/max pruning
    one_key = sorted(full)[0]
    pruned = read_for_keys(spark, pipe.target, [one_key])
    assert pruned.filter(F.col("doc_id") == one_key).count() == 1


def test_read_for_keys_resolves_mor_deltas(spark, tmp_path):
    pipe = build(spark, tmp_path, strategy="mor")
    full = state(pipe.final_state())
    k = sorted(full)[0]
    out = read_for_keys(spark, pipe.target, [k])
    rows = out.collect()
    assert len(rows) == 1  # LWW-resolved, no duplicate generations


def test_read_for_keys_coerces_probe_domain(spark, tmp_path):
    """String probes against a numeric-keyed table are coerced into the key
    column's domain before bucket hashing and stat comparison (pre-typed-stats
    behavior, restored deliberately); garbage probes, and integers outside the
    column's range, get a clear error instead of a TypeError mid-prune or a
    struct.error in bucket routing."""
    import datetime

    import pytest
    from pyspark.sql.types import (
        DateType, DoubleType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    from concepts_pipeline_spark.lake import LakeTable

    sch = StructType(
        [
            StructField("k", LongType(), False),
            StructField("v", StringType(), True),
        ]
    )
    t = LakeTable.create(str(tmp_path / "numkey"), sch, ["k"], num_buckets=4)
    t.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(50)], sch))
    got = {r["k"]: r["v"] for r in read_for_keys(spark, t, ["7", 9]).collect()}
    assert got == {7: "v7", 9: "v9"}
    with pytest.raises(ValueError, match="not coercible"):
        read_for_keys(spark, t, ["not-a-number"])
    with pytest.raises(ValueError, match="not coercible"):
        read_for_keys(spark, t, [9, 2**63])  # outside bigint's range

    # a double key component has no driver-side twin: such keys are routed
    # by a Spark job, and still find exactly their rows
    sch2 = StructType(
        [
            StructField("d", DateType(), False),
            StructField("x", DoubleType(), False),
            StructField("v", StringType(), True),
        ]
    )
    day = datetime.date(2024, 1, 1)
    t2 = LakeTable.create(str(tmp_path / "datedbl"), sch2, ["d", "x"], num_buckets=2)
    t2.overwrite(spark.createDataFrame(
        [(day + datetime.timedelta(days=i), i / 2, f"v{i}") for i in range(8)], sch2
    ))
    got = {
        r["v"] for r in read_for_keys(
            spark, t2, [(day, 0.0), (day + datetime.timedelta(days=3), 1.5),
                        (day, 9.0)],
        ).collect()
    }
    assert got == {"v0", "v3"}
    with pytest.raises(ValueError, match="not coercible"):
        read_for_keys(spark, t2, [("2024-01-01", 0.0)])
