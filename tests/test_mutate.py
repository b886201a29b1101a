"""Predicate DML (delete_where / update_where): CDC LSN-order interplay,
MoR tables, plain (no-_lsn) tables, and guardrails."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.lake import LakeTable
from concepts_pipeline_spark.lake.merge import merge_into
from concepts_pipeline_spark.lake.mutate import delete_where, update_where
from tests.test_lake_table import TOKENS_SCHEMA


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, lsn long, op string, tokens array<int>, "
        "n_tok int, source string",
    )


def _pipe(spark, tmp_path, name="t", **kw):
    return CdcPipeline(
        spark, str(tmp_path / name), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4, **kw,
    )


def state(pipe, spark):
    return {
        r["doc_id"]: (r["n_tok"], r["source"])
        for r in pipe.final_state().collect()
    }


def test_dml_respects_lsn_total_order(spark, tmp_path):
    """DML stamps max(_lsn)+1: it beats everything applied, and a LATER
    CDC event (higher LSN) beats the DML — one total order, no side channel."""
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [
            ("a", 5, "I", [1], 1, "web"),
            ("b", 6, "I", [2], 1, "web"),
            ("c", 7, "I", [3], 1, "book"),
        ]),
        fence_token="b0",
    )
    update_where(
        spark, pipe.target, {"n_tok": F.col("n_tok") + 10},
        F.col("source") == "web", fence_token="u0",
    )  # stamped lsn 8
    delete_where(
        spark, pipe.target, F.col("doc_id") == "c", fence_token="d0"
    )  # stamped lsn 9
    assert state(pipe, spark) == {"a": (11, "web"), "b": (11, "web")}
    # a stale redelivery (lsn 6) loses to the DML's lsn 8
    pipe.apply_batch(
        _batch(spark, [("b", 6, "U", [9, 9], 2, "stale")]), fence_token="b1"
    )
    assert state(pipe, spark)["b"] == (11, "web")
    # a genuinely later event (lsn 20) beats the DML; c re-inserts after delete
    pipe.apply_batch(
        _batch(spark, [
            ("a", 20, "U", [7, 7], 2, "fresh"),
            ("c", 21, "I", [8], 1, "back"),
        ]),
        fence_token="b2",
    )
    assert state(pipe, spark) == {
        "a": (2, "fresh"), "b": (11, "web"), "c": (1, "back"),
    }


def test_dml_on_mor_table(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, strategy="mor")
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1], 1, "web"),
            ("b", 2, "I", [2], 1, "book"),
        ]),
        fence_token="m0",
    )
    delete_where(spark, pipe.target, "source = 'web'",
                 fence_token="md", strategy="mor")
    update_where(spark, pipe.target, {"source": F.lit("BOOK")},
                 "source = 'book'", fence_token="mu", strategy="mor")
    assert state(pipe, spark) == {"b": (1, "BOOK")}


def test_dml_on_plain_table_and_guardrails(spark, tmp_path):
    # _score is a USER column: only the engine's own columns are hidden, so
    # an update of v must carry _score through unchanged
    schema = StructType([
        StructField("k", StringType(), False),
        StructField("v", IntegerType(), True),
        StructField("_score", DoubleType(), True),
    ])
    t = LakeTable.create(str(tmp_path / "plain"), schema, ["k"], num_buckets=2)
    rows = spark.createDataFrame(
        [("a", 1, 0.5), ("b", 2, 1.5), ("c", 3, 2.5)], schema
    ).withColumn("op", F.lit("U"))
    merge_into(spark, t, rows, fence_token="p0")
    update_where(spark, t, {"v": "v * 100"}, "v >= 2", fence_token="p1")
    delete_where(spark, t, F.col("k") == "a", fence_token="p2")
    got = {r["k"]: (r["v"], r["_score"]) for r in t.read(spark).collect()}
    assert got == {"b": (200, 1.5), "c": (300, 2.5)}

    with pytest.raises(ValueError, match="key column"):
        update_where(spark, t, {"k": F.lit("x")}, "v = 1")
    with pytest.raises(ValueError, match="unknown or hidden"):
        update_where(spark, t, {"nope": F.lit(1)}, "v = 1")
    with pytest.raises(ValueError, match="merge-on-read DML"):
        delete_where(spark, t, "v = 1", strategy="mor")


def test_dml_rejects_set_of_hidden_engine_columns(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, name="hid")
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "web")]), fence_token="h0"
    )
    with pytest.raises(ValueError, match="unknown or hidden"):
        update_where(
            spark, pipe.target, {"_deleted": F.lit(True)}, "source = 'web'"
        )


def test_dml_empty_match_commits_fence_only(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "web")]), fence_token="e0"
    )
    before = state(pipe, spark)
    stats = delete_where(
        spark, pipe.target, F.col("source") == "nope", fence_token="e1"
    )
    assert state(pipe, spark) == before
    # replay of the same fence is a no-op
    stats2 = delete_where(
        spark, pipe.target, F.col("source") == "nope", fence_token="e1"
    )
    assert stats2.skipped


def test_dml_conflict_retry_recomputes_against_winner(
    spark, tmp_path, monkeypatch
):
    """A DML statement that loses the commit race must RECOMPUTE its matched
    rows, SET expressions, and LSN stamp against the winner's snapshot — a
    retry reusing the stale batch would carry a duplicate LSN and stale
    pre-images (lost update, no error)."""
    import concepts_pipeline_spark.lake.mutate as mutate
    from concepts_pipeline_spark.lake.table import CommitConflict

    pipe = _pipe(spark, tmp_path, name="race")
    pipe.apply_batch(
        _batch(spark, [("a", 5, "I", [1], 1, "web")]), fence_token="r0"
    )

    real = mutate.merge_into
    calls = {"n": 0}

    def flaky(spark_, table, batch, **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            # another writer lands lsn 10 and wins the race before our commit
            pipe.apply_batch(
                _batch(spark, [("a", 10, "U", [5, 5], 2, "web")]),
                fence_token="winner",
            )
            raise CommitConflict("simulated lost manifest swap")
        return real(spark_, table, batch, **kw)

    monkeypatch.setattr(mutate, "merge_into", flaky)
    update_where(
        spark, pipe.target, {"n_tok": F.col("n_tok") + 100},
        "source = 'web'", fence_token="r1",
    )
    # recomputed against the winner: 2+100 stamped lsn 11 (not stale 1+100@6)
    assert state(pipe, spark) == {"a": (102, "web")}


def test_dml_wins_equal_lsn_tie_loses_strictly_later(spark, tmp_path):
    """The documented equal-LSN boundary: DML stamps max(_lsn)+1; a source
    event arriving AFTERWARDS with exactly that LSN is a same-LSN tie and is
    stale (the merge applies only s.lsn > t._lsn) — the DML occupies the
    slot. A strictly later event wins over the DML as usual."""
    pipe = _pipe(spark, tmp_path, name="tie")
    pipe.apply_batch(
        _batch(spark, [("a", 5, "I", [1], 1, "web")]), fence_token="b0"
    )
    update_where(
        spark, pipe.target, {"source": F.lit("dml")},
        F.col("doc_id") == "a", fence_token="dml:1",
    )  # stamped _lsn = 6
    # equal-LSN event arrives after the DML: tie → stale → DML keeps the slot
    pipe.apply_batch(
        _batch(spark, [("a", 6, "U", [9], 1, "tie-loser")]), fence_token="b1"
    )
    assert state(pipe, spark)["a"] == (1, "dml")
    # strictly later event beats the DML
    pipe.apply_batch(
        _batch(spark, [("a", 7, "U", [9], 1, "later")]), fence_token="b2"
    )
    assert state(pipe, spark)["a"] == (1, "later")
