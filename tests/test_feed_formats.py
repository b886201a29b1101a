"""Change-feed source formats: the same replay from parquet, gzipped NDJSON,
and CSV must produce the identical final state (ref: the reference's bulk
source is gzipped NDJSON — Scroll.scala:8-25 / WorksSnapshotSource.scala)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc import CdcPipeline, generate_change_log
from concepts_pipeline_spark.cdc.feed import read_change_feed
from concepts_pipeline_spark.cdc.generator import CHANGE_LOG_SCHEMA
from concepts_pipeline_spark.streaming import run_stream
from tests.test_cdc_apply import TARGET_SCHEMA, engine_state


@pytest.fixture(scope="module")
def log_df(spark):
    return generate_change_log(
        spark, num_events=1500, num_keys=120, seed=23, num_batches=2,
        max_tokens=8, dup_pct=5, malformed_pct=3,
    ).drop("batch_id")


def replay(spark, tmp_path, feed, tag):
    pipe = CdcPipeline(
        spark, str(tmp_path / f"t-{tag}"), TARGET_SCHEMA, ["doc_id"],
        num_buckets=4,
    )
    pipe.apply_batch(feed, fence_token=f"{tag}:all")
    return engine_state(pipe.final_state())


def test_jsonl_gz_and_csv_feeds_match_parquet(spark, tmp_path, log_df):
    base = str(tmp_path / "feeds")
    log_df.coalesce(2).write.mode("overwrite").parquet(f"file://{base}/pq")
    log_df.coalesce(2).write.mode("overwrite").option(
        "compression", "gzip"
    ).json(f"file://{base}/jsonl")
    # CSV carries the token array as a JSON string column
    log_df.select(
        "lsn", "op", "doc_id",
        F.to_json("tokens").alias("tokens"), "n_tok", "source", "event_ts",
    ).coalesce(2).write.mode("overwrite").option("header", "true").csv(
        f"file://{base}/csv"
    )

    schema = CHANGE_LOG_SCHEMA
    schema = type(schema)([f for f in schema.fields if f.name != "batch_id"])
    want = replay(spark, tmp_path, read_change_feed(
        spark, f"{base}/pq", "parquet", schema), "pq")
    got_j = replay(spark, tmp_path, read_change_feed(
        spark, f"{base}/jsonl", "jsonl", schema), "jsonl")
    got_c = replay(spark, tmp_path, read_change_feed(
        spark, f"{base}/csv", "csv", schema), "csv")
    assert got_j == want
    assert got_c == want
    assert len(want) > 0

    with pytest.raises(ValueError, match="unknown feed format"):
        read_change_feed(spark, f"{base}/pq", "orc3000")


def test_streaming_from_jsonl_feed(spark, tmp_path, log_df):
    base = str(tmp_path / "sfeed")
    log_df.coalesce(4).write.mode("overwrite").option(
        "compression", "gzip"
    ).json(f"file://{base}/jsonl")
    schema = CHANGE_LOG_SCHEMA
    schema = type(schema)([f for f in schema.fields if f.name != "batch_id"])
    pipe = CdcPipeline(
        spark, str(tmp_path / "t-stream"), TARGET_SCHEMA, ["doc_id"],
        num_buckets=4,
    )
    h = run_stream(
        spark, pipe, f"{base}/jsonl", str(tmp_path / "ckpt"),
        name="jsonl-stream", max_files_per_trigger=2, schema=schema,
        feed_format="jsonl",
    )
    h.query.awaitTermination()
    want = replay(spark, tmp_path, log_df, "ref")
    assert engine_state(pipe.final_state()) == want


def test_parse_debezium_mapping_and_bad_lines(spark):
    """Debezium envelope → engine contract: c/r→I, u→U, d→D (row image from
    `before`); unknown ops and garbage lines surface as NULL op for the
    validator's quarantine path instead of failing the job."""
    import json as _json

    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    from concepts_pipeline_spark.cdc.feed import parse_debezium

    row_schema = StructType([
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
    ])

    def env(op, row, lsn):
        return _json.dumps({"payload": {
            "op": op,
            "before": row if op == "d" else None,
            "after": None if op == "d" else row,
            "ts_ms": lsn * 1000,
            "source": {"lsn": lsn},
        }})

    lines = [
        env("c", {"doc_id": "a", "tokens": [1]}, 1),
        env("r", {"doc_id": "b", "tokens": [2]}, 2),
        env("u", {"doc_id": "a", "tokens": [3]}, 3),
        env("d", {"doc_id": "b", "tokens": [2]}, 4),
        env("x", {"doc_id": "z", "tokens": [9]}, 5),  # unknown op
        "{not json at all",
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    got = [r.asDict() for r in parse_debezium(df, row_schema)
           .orderBy(F.coalesce("lsn", F.lit(999))).collect()]
    assert [(g["lsn"], g["op"], g["doc_id"]) for g in got[:4]] == [
        (1, "I", "a"), (2, "I", "b"), (3, "U", "a"), (4, "D", "b"),
    ]
    assert got[3]["tokens"] == [2]  # delete row image from `before`
    assert got[4]["op"] is None and got[4]["doc_id"] == "z"
    assert got[5]["op"] is None and got[5]["lsn"] is None


def test_debezium_feed_matches_parquet_batch_and_stream(spark, tmp_path, log_df):
    """A landed Debezium envelope dump is a drop-in feed: the same replay
    (batch AND checkpointed stream) lands the identical final state."""
    import json as _json

    base = str(tmp_path / "dbz")
    dbz_op = (
        F.when(F.col("op") == "D", F.lit("d"))
        .when(F.col("op") == "U", F.lit("u"))
        .when(F.pmod(F.col("lsn"), F.lit(2)) == 0, F.lit("r"))
        .otherwise(F.lit("c"))
    )
    row = F.struct("doc_id", "tokens", "n_tok", "source")
    env = F.to_json(F.struct(F.struct(
        dbz_op.alias("op"),
        F.when(F.col("op") == "D", row).alias("before"),
        F.when(F.col("op") != "D", row).alias("after"),
        (F.col("lsn") * 1000).alias("ts_ms"),
        F.struct(F.col("lsn").alias("lsn")).alias("source"),
    ).alias("payload")))
    log_df.select(env.alias("value")).coalesce(3).write.mode(
        "overwrite").text(f"file://{base}/feed")

    schema = CHANGE_LOG_SCHEMA
    schema = type(schema)([f for f in schema.fields if f.name != "batch_id"])
    want = replay(
        spark, tmp_path,
        read_change_feed(spark, f"file://{base}/feed", "debezium", schema)
        .withColumn("event_ts", F.lit(None).cast("timestamp")),
        "dbzb",
    )
    pq = str(tmp_path / "pqref")
    log_df.coalesce(2).write.mode("overwrite").parquet(f"file://{pq}")
    assert want == replay(
        spark, tmp_path,
        read_change_feed(spark, f"file://{pq}", "parquet", schema), "pqref")

    # streaming tail of the same dump through the exactly-once runner
    pipe = CdcPipeline(
        spark, str(tmp_path / "t-dbzs"), TARGET_SCHEMA, ["doc_id"],
        num_buckets=4,
    )
    h = run_stream(
        spark, pipe, f"{base}/feed", str(tmp_path / "ckpt"),
        name="dbz-stream", max_files_per_trigger=1,
        feed_format="debezium", schema=schema,
    )
    h.query.awaitTermination()
    assert engine_state(pipe.final_state()) == want


def test_debezium_export_round_trips_snapshot_diff(spark, tmp_path):
    """to_debezium(snapshot_diff) → parse_debezium recovers every change with
    the correct op mapping and pre/post images — the lake speaks the log-CDC
    wire format in BOTH directions."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StringType, StructField, StructType,
    )

    from concepts_pipeline_spark.cdc.feed import parse_debezium, to_debezium
    from concepts_pipeline_spark.lake.diff import snapshot_diff
    from concepts_pipeline_spark.lake.merge import merge_into
    from concepts_pipeline_spark.lake.table import LakeTable

    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("_lsn", LongType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), schema, ["doc_id"], 2)
    ddl = "doc_id string, tokens array<int>, op string, lsn long"
    merge_into(spark, t, spark.createDataFrame(
        [("a", [1], "U", 1), ("b", [2], "U", 1)], ddl),
        fence_token="c1", lsn_col="lsn")
    v1 = t.current_version()
    merge_into(spark, t, spark.createDataFrame(
        [("a", [9, 9], "U", 2), ("b", None, "D", 2), ("c", [3], "I", 2)], ddl),
        fence_token="c2", lsn_col="lsn")

    diff = snapshot_diff(spark, t, v1, t.current_version(), include_old=True)
    envelopes = to_debezium(diff)
    row_schema = StructType([
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
    ])
    back = {r["doc_id"]: r for r in
            parse_debezium(envelopes, row_schema).collect()}
    assert back["a"]["op"] == "U" and back["a"]["tokens"] == [9, 9]
    assert back["b"]["op"] == "D" and back["b"]["tokens"] == [2]  # from-side image
    assert back["c"]["op"] == "I" and back["c"]["tokens"] == [3]
    # the update's pre-image rides `before` in the raw envelope
    import json as _json
    raw = [_json.loads(r["value"])["payload"]
           for r in envelopes.collect()]
    upd = next(p for p in raw if p["op"] == "u")
    assert upd["before"]["tokens"] == [1] and upd["after"]["tokens"] == [9, 9]


def test_debezium_stream_through_wap_gate(spark, tmp_path, log_df):
    """The whole composition: a Debezium envelope dump tailed by the
    checkpointed stream, every micro-batch staged-audited-published (WAP),
    landing the identical state as a direct parquet replay."""
    base = str(tmp_path / "dbzwap")
    dbz_op = (
        F.when(F.col("op") == "D", F.lit("d"))
        .when(F.col("op") == "U", F.lit("u"))
        .otherwise(F.lit("c"))
    )
    row = F.struct("doc_id", "tokens", "n_tok", "source")
    env = F.to_json(F.struct(F.struct(
        dbz_op.alias("op"),
        F.when(F.col("op") == "D", row).alias("before"),
        F.when(F.col("op") != "D", row).alias("after"),
        (F.col("lsn") * 1000).alias("ts_ms"),
        F.struct(F.col("lsn").alias("lsn")).alias("source"),
    ).alias("payload")))
    log_df.select(env.alias("value")).coalesce(3).write.mode(
        "overwrite").text(f"file://{base}/feed")

    schema = CHANGE_LOG_SCHEMA
    schema = type(schema)([f for f in schema.fields if f.name != "batch_id"])
    pq = str(tmp_path / "pqref")
    log_df.coalesce(2).write.mode("overwrite").parquet(f"file://{pq}")
    want = replay(
        spark, tmp_path,
        read_change_feed(spark, f"file://{pq}", "parquet", schema), "ref")

    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, ["doc_id"],
        num_buckets=4,
    )
    audits = []

    def audit(s, branch, result):
        audits.append(result.stats.applied)
        return True

    h = run_stream(
        spark, pipe, f"{base}/feed", str(tmp_path / "ckpt"),
        name="dbz-wap", max_files_per_trigger=1,
        feed_format="debezium", schema=schema, audit=audit,
    )
    h.query.awaitTermination()
    assert engine_state(pipe.final_state()) == want
    assert len(audits) >= 3 and pipe.target.list_branches() == []


def test_parse_debezium_never_throws_on_arbitrary_lines(spark):
    """Fuzz the envelope parser: arbitrary strings and JSON-shaped noise must
    degrade to NULL-op rows (quarantine path), never a job failure."""
    import json as _json

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    from concepts_pipeline_spark.cdc.feed import parse_debezium

    row_schema = StructType([
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
    ])

    json_scalars = st.one_of(st.none(), st.booleans(), st.integers(),
                             st.text(max_size=8))
    json_tree = st.recursive(
        json_scalars,
        lambda inner: st.one_of(
            st.lists(inner, max_size=3),
            st.dictionaries(st.sampled_from(
                ["payload", "op", "before", "after", "source", "lsn", "x"]),
                inner, max_size=4),
        ),
        max_leaves=8,
    )
    line = st.one_of(st.text(max_size=40), json_tree.map(_json.dumps))

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(lines=st.lists(line, min_size=1, max_size=12))
    def run(lines):
        df = spark.createDataFrame([(ln,) for ln in lines], "value string")
        out = parse_debezium(df, row_schema).collect()
        assert len(out) == len(lines)
        for r in out:
            assert r["op"] in (None, "I", "U", "D")

    run()
