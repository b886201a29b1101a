"""End-to-end CDC replay: generator → batch apply loop → final state vs DuckDB oracle.

The oracle is computed independently in DuckDB (per FIXTURES.md §2: for each doc_id,
the payload of the highest-LSN valid non-delete event; absent if the highest-LSN valid
event is a delete). Golden final-state equality is the reference's test model
(TransformerTest / ConceptExtractorTest golden files) recast per BASELINE.json:
per-row token-array equality on (doc_id, tokens, n_tok, source).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from concepts_pipeline_spark.cdc import CdcPipeline, generate_change_log, write_change_log
from concepts_pipeline_spark.cdc.generator import read_batch, VOCAB_SIZE

TARGET_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)

ORACLE_SQL = f"""
WITH valid AS (
  SELECT * FROM log
  WHERE op = 'D'
     OR (tokens IS NOT NULL AND len(tokens) > 0 AND n_tok = len(tokens)
         AND NOT EXISTS (SELECT 1 FROM unnest(tokens) AS u(t)
                         WHERE t IS NULL OR t < 0 OR t >= {VOCAB_SIZE}))
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id
      ORDER BY lsn DESC, CASE WHEN op = 'D' THEN 0 ELSE 1 END
  ) AS rn
  FROM valid
)
SELECT doc_id, tokens, n_tok, source FROM ranked WHERE rn = 1 AND op <> 'D'
ORDER BY doc_id
"""


@pytest.fixture(scope="module")
def change_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cdc") / "log")
    df = generate_change_log(
        spark, num_events=4000, num_keys=300, seed=7, num_batches=4,
        max_tokens=16, dup_pct=8, malformed_pct=5,
    )
    write_change_log(df, path)
    return path


def oracle_state(log_path: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW log AS SELECT * FROM read_parquet('{log_path}/*/*.parquet', hive_partitioning=true)"
    )
    return {
        r[0]: (list(r[1]), r[2], r[3]) for r in con.execute(ORACLE_SQL).fetchall()
    }


def engine_state(df):
    return {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"]) for r in df.collect()
    }


def test_generator_properties(spark, change_log):
    df = spark.read.parquet(f"file://{change_log}")
    n = df.count()
    assert n > 4000  # duplicates added
    # duplicates exist and land in a later batch
    dup_keys = (
        df.groupBy("lsn").count().filter(F.col("count") > 1)
    )
    assert dup_keys.count() > 0
    # LSNs unique apart from redelivered duplicates: dup rows are full-row identical
    full_dups = df.drop("batch_id").groupBy(*[c for c in df.columns if c != "batch_id"]).count()
    assert full_dups.filter(F.col("count") > 2).count() == 0
    # ops distribution
    ops = {r["op"] for r in df.select("op").distinct().collect()}
    assert ops == {"I", "U", "D"}
    # skew: hottest key has many more events than median
    per_key = df.groupBy("doc_id").count().collect()
    counts = sorted(r["count"] for r in per_key)
    assert counts[-1] > 5 * counts[len(counts) // 2]
    # malformed rows exist
    bad = df.filter(
        (F.col("op") != "D")
        & (F.col("tokens").isNull() | (F.col("n_tok") != F.size("tokens")))
    )
    assert bad.count() > 0


def test_replay_matches_oracle(spark, change_log, tmp_path):
    pipe = CdcPipeline(
        spark,
        target_path=str(tmp_path / "target"),
        target_schema=TARGET_SCHEMA,
        key_cols=["doc_id"],
        quarantine_path=str(tmp_path / "quarantine"),
        lineage_path=str(tmp_path / "lineage"),
        num_buckets=8,
    )
    total_in = 0
    for b in range(4):
        batch = read_batch(spark, change_log, b)
        res = pipe.apply_batch(batch, fence_token=f"replay:{b}")
        assert not res.stats.skipped
        total_in += res.rows_in

    got = engine_state(pipe.final_state())
    want = oracle_state(change_log)
    assert set(got) == set(want)
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, f"{len(mismatches)} rows differ, e.g. {list(mismatches.items())[:3]}"

    # re-applying every batch is a complete no-op (fencing)
    v = pipe.target.current_version()
    for b in range(4):
        res = pipe.apply_batch(read_batch(spark, change_log, b), fence_token=f"replay:{b}")
        assert res.stats.skipped
    assert pipe.target.current_version() == v
    assert engine_state(pipe.final_state()) == want

    # lineage accounts for every commit, one row set per batch
    lin = pipe.lineage.read(spark)
    assert lin.select("fence_token").distinct().count() == 4
    assert lin.groupBy().agg(F.sum("quarantined")).first()[0] > 0

    # quarantine holds the malformed rows with reasons
    q = pipe.quarantine.read(spark)
    assert q.count() > 0
    reasons = {r[0] for r in q.select("reject_reason").distinct().collect()}
    assert reasons <= {"null_tokens", "n_tok_mismatch", "token_out_of_vocab", "empty_tokens", "unknown_op"}
    assert len(reasons) >= 2


def test_on_reject_fail_aborts_batch_without_commit(spark, change_log, tmp_path):
    """Strict mode (ref: BulkUpdateFlow.scala:93-105 abort-on-any-item-error):
    a batch containing any invalid event commits NOTHING — no target version,
    no quarantine rows, no lineage — and raises with the reject reasons."""
    from concepts_pipeline_spark.cdc.apply import BatchRejectedError

    pipe = CdcPipeline(
        spark,
        target_path=str(tmp_path / "target"),
        target_schema=TARGET_SCHEMA,
        key_cols=["doc_id"],
        quarantine_path=str(tmp_path / "quarantine"),
        lineage_path=str(tmp_path / "lineage"),
        num_buckets=4,
    )
    v0 = pipe.target.current_version()
    # the generated log's batch 0 contains malformed events (malformed_pct=5)
    batch = read_batch(spark, change_log, 0)
    with pytest.raises(BatchRejectedError) as exc:
        pipe.apply_batch(batch, fence_token="strict:0", on_reject="fail")
    assert exc.value.fence_token == "strict:0"
    assert sum(exc.value.reasons.values()) > 0
    assert pipe.target.current_version() == v0
    assert pipe.quarantine.read(spark).count() == 0
    assert pipe.lineage.read(spark).count() == 0
    assert not pipe.target.has_fence_token("strict:0")

    # an all-valid batch applies normally in strict mode
    clean = batch.filter(
        (F.col("op") == "D")
        | (
            F.col("tokens").isNotNull()
            & (F.size("tokens") > 0)
            & (F.col("n_tok") == F.size("tokens"))
            & ~F.exists("tokens", lambda t: t.isNull() | (t < 0) | (t >= VOCAB_SIZE))
        )
    )
    res = pipe.apply_batch(clean, fence_token="strict:0", on_reject="fail")
    assert not res.stats.skipped
    assert res.quarantined == 0
    assert pipe.target.current_version() > v0


def test_quarantine_redrive_recovers_without_zombies(spark, tmp_path):
    """Dead-letter redrive: after a vocab extension, quarantined
    token_out_of_vocab events re-apply under LWW — a redriven event whose key
    was overwritten since quarantine lands STALE (no zombie resurrection),
    and one whose LSN still wins recovers."""
    from concepts_pipeline_spark.cdc.apply import CdcPipeline

    LOG = ("lsn long, op string, doc_id string, tokens array<int>, "
           "n_tok int, source string")
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, ["doc_id"],
        quarantine_path=str(tmp_path / "q"), num_buckets=4,
    )
    big = 60_000  # out of the default 50257 vocab, inside the doubled one
    pipe.apply_batch(spark.createDataFrame([
        (1, "I", "a", [1], 1, "s"),
        (2, "U", "a", [big], 1, "s"),     # quarantined; would win for 'a'
        (3, "I", "b", [big, big], 2, "s"),  # quarantined; 'b' unborn without it
        (4, "I", "c", [big], 1, "s"),     # quarantined, then overwritten below
    ], LOG), "b:0")
    pipe.apply_batch(spark.createDataFrame([
        (5, "U", "c", [7], 1, "s"),       # beats the quarantined lsn=4
    ], LOG), "b:1")
    assert pipe.quarantine.read(spark).count() == 3

    res = pipe.redrive_quarantine(
        "rq:0", reasons=["token_out_of_vocab"], vocab_size=2 * 50257)
    assert res.stats.applied == 2 and res.stats.stale == 1
    got = {r["doc_id"]: list(r["tokens"])
           for r in pipe.final_state().collect()}
    assert got == {"a": [big], "b": [big, big], "c": [7]}
    # fenced: a crashed-and-retried redrive is a no-op
    assert pipe.redrive_quarantine(
        "rq:0", reasons=["token_out_of_vocab"], vocab_size=2 * 50257
    ).stats.skipped


def test_null_op_event_is_quarantined_not_applied(spark, tmp_path):
    """SQL three-valued logic regression: ``~op.isin(...)`` is NULL (not true)
    for a NULL op, so without an explicit isNull branch a NULL-op envelope
    with a fully valid after-image sails past every validator arm and is
    APPLIED as a live upsert. parse_debezium deliberately maps unknown ops to
    NULL expecting the quarantine path — hold it to that contract."""
    LOG = ("lsn long, op string, doc_id string, tokens array<int>, "
           "n_tok int, source string")
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, ["doc_id"],
        quarantine_path=str(tmp_path / "q"), num_buckets=4,
    )
    res = pipe.apply_batch(spark.createDataFrame([
        (1, "I", "a", [1], 1, "s"),
        (2, None, "ghost", [2, 3], 2, "s"),  # NULL op, valid payload
    ], LOG), "b:0")
    assert res.quarantined == 1
    q = pipe.quarantine.read(spark).collect()
    assert len(q) == 1 and q[0]["reject_reason"] == "unknown_op"
    assert {r["doc_id"] for r in pipe.final_state().collect()} == {"a"}
