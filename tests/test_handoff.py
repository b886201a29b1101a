"""Snapshot-bootstrap → overlapping-tail handoff: adversarial orderings.

The gate query (cdc_bootstrap_handoff) proves the pattern end-to-end against
the replay spec; these tests force the orderings that random file
distribution might not produce — a pre-delete upsert arriving AFTER the
delete it predates, with the snapshot having omitted the deleted key (real
snapshot exporters don't export tombstones)."""

from __future__ import annotations

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from tests.test_lake_table import TOKENS_SCHEMA


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, lsn long, op string, tokens array<int>, "
        "n_tok int, source string",
    )


def _pipe(spark, tmp_path, name):
    return CdcPipeline(
        spark, str(tmp_path / name), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4,
    )


def state(pipe):
    return {r["doc_id"]: r["lsn"] for r in
            pipe.final_state().selectExpr("doc_id", "n_tok AS lsn").collect()}


def final_keys(pipe):
    return {r["doc_id"] for r in pipe.final_state().collect()}


SNAP = [("live", 7, "I", [1], 1, "s")]           # exported watermark lsn 7
# key "dead" was U(5) then D(9) before the snapshot — exporter omitted it
TAIL_DELETE_FIRST = [
    [("dead", 9, "D", None, None, None)],        # tombstone lands first
    [("dead", 5, "U", [9], 1, "s")],             # pre-delete upsert arrives late
    [("live", 4, "U", [8], 1, "s")],             # stale vs snapshot watermark
]
TAIL_UPSERT_FIRST = [
    [("dead", 5, "U", [9], 1, "s")],
    [("dead", 9, "D", None, None, None)],
    [("live", 12, "U", [3, 3], 2, "s")],         # genuinely newer than snapshot
]


def test_handoff_overlap_is_self_suppressing_delete_first(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, "h1")
    pipe.apply_batch(_batch(spark, SNAP), fence_token="snap")
    for i, rows in enumerate(TAIL_DELETE_FIRST):
        pipe.apply_batch(_batch(spark, rows), fence_token=f"t{i}")
    # dead stays dead (delete_missing wrote the tombstone LSN memory, so the
    # late pre-delete upsert was stale); live kept its snapshot state
    assert final_keys(pipe) == {"live"}
    got = {r["doc_id"]: r["tokens"] for r in pipe.final_state().collect()}
    assert got["live"] == [1]


def test_handoff_overlap_is_self_suppressing_upsert_first(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, "h2")
    pipe.apply_batch(_batch(spark, SNAP), fence_token="snap")
    for i, rows in enumerate(TAIL_UPSERT_FIRST):
        pipe.apply_batch(_batch(spark, rows), fence_token=f"t{i}")
    got = {r["doc_id"]: r["tokens"] for r in pipe.final_state().collect()}
    # dead: upsert landed then the delete killed it; live: post-snapshot
    # event wins over the bootstrap row
    assert set(got) == {"live"}
    assert got["live"] == [3, 3]
