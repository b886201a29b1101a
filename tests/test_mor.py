"""Merge-on-read tests: MoR replay must equal the same declarative oracle as
copy-on-write; compaction folds deltas without changing the visible state."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.cdc.generator import generate_change_log
from concepts_pipeline_spark.lake.merge import compact
from concepts_pipeline_spark.operators.lww import lww_latest

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)


def state(df):
    return {
        r["doc_id"]: (tuple(r["tokens"] or []), r["n_tok"], r["source"])
        for r in df.select("doc_id", "tokens", "n_tok", "source").collect()
    }


def make_pipe(spark, tmp_path, strategy, name):
    return CdcPipeline(
        spark,
        target_path=str(tmp_path / name),
        target_schema=SCHEMA,
        key_cols=["doc_id"],
        num_buckets=4,
        strategy=strategy,
    )


def replay(spark, pipe, log, batches=4):
    for b in range(batches):
        batch = log.filter(F.col("batch_id") == b).drop("batch_id")
        pipe.apply_batch(batch, fence_token=f"r:{b}")


def test_mor_equals_cow_final_state(spark, tmp_path):
    log = generate_change_log(
        spark, num_events=3000, num_keys=300, seed=11, num_batches=4
    ).persist()
    cow = make_pipe(spark, tmp_path, "cow", "cow")
    mor = make_pipe(spark, tmp_path, "mor", "mor")
    replay(spark, cow, log)
    replay(spark, mor, log)
    want = state(cow.final_state())
    got = state(mor.final_state())
    log.unpersist()
    assert got == want
    # MoR really did defer: manifest holds delta files
    kinds = {f.kind for f in mor.target.manifest().files}
    assert "delta" in kinds


def test_mor_fencing(spark, tmp_path):
    log = generate_change_log(spark, 500, 50, seed=12, num_batches=2)
    mor = make_pipe(spark, tmp_path, "mor", "m")
    replay(spark, mor, log, batches=2)
    v = mor.target.current_version()
    replay(spark, mor, log, batches=2)  # fenced replay: no new commits
    assert mor.target.current_version() == v


def test_compaction_preserves_state_and_folds_deltas(spark, tmp_path):
    log = generate_change_log(spark, 3000, 300, seed=13, num_batches=6).persist()
    mor = make_pipe(spark, tmp_path, "mor", "m")
    replay(spark, mor, log, batches=6)
    before = state(mor.final_state())
    n_delta_before = sum(
        1 for f in mor.target.manifest().files if f.kind == "delta"
    )
    assert n_delta_before > 4

    n = compact(spark, mor.target, max_delta_files_per_bucket=1)
    assert n > 0
    after_files = mor.target.manifest().files
    assert all(f.kind == "base" for f in after_files)
    assert state(mor.final_state()) == before
    log.unpersist()

    # compaction is idempotent / threshold-respecting
    assert compact(spark, mor.target, max_delta_files_per_bucket=1) == 0


def test_mor_read_resolves_lww_not_duplicates(spark, tmp_path):
    mor = make_pipe(spark, tmp_path, "mor", "m")
    log_schema = ("lsn long, op string, doc_id string, tokens array<int>, "
                  "n_tok int, source string")
    b1 = spark.createDataFrame(
        [(1, "I", "a", [1], 1, "s"), (2, "I", "b", [2], 1, "s")], log_schema
    )
    b2 = spark.createDataFrame(
        [(10, "U", "a", [9], 1, "s"), (11, "D", "b", None, None, "s")], log_schema
    )
    mor.apply_batch(b1, fence_token="t:1")
    mor.apply_batch(b2, fence_token="t:2")
    got = state(mor.final_state())
    assert got == {"a": ((9,), 1, "s")}  # a updated, b deleted, no dup rows


def test_mor_rejects_array_union_mode(spark, tmp_path):
    import pytest
    from concepts_pipeline_spark.lake import LakeTable, merge_into
    from pyspark.sql.types import StructType

    t = LakeTable.create(
        str(tmp_path / "au"),
        StructType.fromDDL("doc_id string, xs array<int>, _lsn long, _deleted boolean"),
        ["doc_id"], num_buckets=2,
    )
    src = spark.createDataFrame(
        [(1, "U", "a", [1])], "lsn long, op string, doc_id string, xs array<int>"
    )
    with pytest.raises(ValueError, match="not supported under merge-on-read"):
        merge_into(spark, t, src, lsn_col="lsn", strategy="mor",
                   update_mode="array_union", array_union_cols=["xs"])


def test_auto_compact_bounds_delta_files(spark, tmp_path):
    """auto_compact_max_deltas keeps read-side LWW resolution bounded: after
    many MoR batches, no bucket carries more deltas than the threshold, and
    the final state is unchanged vs an uncompacted replay."""
    import pytest
    from pyspark.sql import functions as F

    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from tests.test_lake_table import TOKENS_SCHEMA

    LOG = ("doc_id string, lsn long, op string, tokens array<int>, "
           "n_tok int, source string")

    def rows(b):
        return [(f"k{i}", b * 10 + i, "I" if b == 0 else "U",
                 [b, i], 2, "s") for i in range(6)]

    auto = CdcPipeline(spark, str(tmp_path / "auto"), TOKENS_SCHEMA,
                       ["doc_id"], num_buckets=2,
                       strategy="mor", auto_compact_max_deltas=2)
    plain = CdcPipeline(spark, str(tmp_path / "plain"), TOKENS_SCHEMA,
                        ["doc_id"], num_buckets=2,
                        strategy="mor")
    for b in range(6):
        batch = spark.createDataFrame(rows(b), LOG)
        auto.apply_batch(batch, fence_token=f"a{b}")
        plain.apply_batch(batch, fence_token=f"p{b}")

    per_bucket: dict[int, int] = {}
    for f in auto.target.manifest().files:
        if f.kind == "delta":
            per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert per_bucket == {} or max(per_bucket.values()) <= 2
    # the uncompacted twin accumulated strictly more deltas
    plain_deltas = sum(
        1 for f in plain.target.manifest().files if f.kind == "delta"
    )
    assert plain_deltas > sum(per_bucket.values())

    a = {r["doc_id"]: r["tokens"] for r in auto.final_state().collect()}
    p = {r["doc_id"]: r["tokens"] for r in plain.final_state().collect()}
    assert a == p and a["k0"] == [5, 0]

    with pytest.raises(ValueError, match="requires strategy='mor'"):
        CdcPipeline(spark, str(tmp_path / "bad"), TOKENS_SCHEMA, ["doc_id"],
                    auto_compact_max_deltas=2)
