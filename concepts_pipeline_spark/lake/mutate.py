"""Predicate DML on lake tables: DELETE WHERE / UPDATE SET ... WHERE.

The reference has no predicate mutation at all (documents change only by
keyed upsert; even deletes are skipped — ref: aggregator/.../
WorkIdSource.scala:47-53); any Iceberg user expects ``DELETE FROM`` and
``UPDATE`` as table operations. Both are expressed here as the SAME fenced
MERGE the CDC path uses — a DML statement is just a self-sourced change
batch:

1. resolve the table's LIVE rows (MoR-aware) and filter by the predicate —
   Catalyst pushes the predicate into the parquet scan;
2. build a change batch from the matches (op='D', or op='U' with the SET
   expressions applied);
3. on a CDC table (hidden ``_lsn``), stamp the batch with max(_lsn)+1 so the
   mutation wins last-writer-wins against everything already applied, and
   loses — correctly — against any strictly-later-LSN change event that
   arrives afterwards: DML is a point on the same total order, not a side
   channel. EQUAL-LSN boundary (documented, deliberate): a source event
   carrying exactly max(_lsn)+1 that arrives AFTER the DML is a same-LSN
   tie against the already-applied DML row, and the merge's stale rule
   (``s.lsn > t._lsn`` applies, ties are stale) resolves it in favor of the
   DML — i.e. the DML occupies that LSN slot. A source that may still emit
   that LSN should quiesce (or the caller fence on the source cursor) before
   mutating; sub-LSN sequencing was considered and rejected because it would
   widen the hidden-column contract for a race that admission ordering
   already defines deterministically;
4. merge with the usual fence token (idempotent replays, atomic manifest
   swap, lineage classification, outbox publication all come for free).

Scale: the only full pass is the predicate scan (column-pruned, pushed
down); the merge then rewrites ONLY the buckets holding matched keys. A
predicate matching nothing commits an empty fenced batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .diff import read_live
from .merge import HIDDEN_LSN, MergeStats, merge_into
from .table import LakeTable, Manifest, retry_on_conflict, visible_fields

DML_LSN_COL = "__dml_lsn"


def _next_lsn(spark: SparkSession, table: LakeTable, m: Manifest) -> int:
    """One LSN past everything applied in snapshot ``m`` — a key-and-lsn-only
    column-pruned aggregate (token payloads are never decoded)."""
    r = (
        table.read(spark, version=m.version)
        .agg(F.max(HIDDEN_LSN).alias("m"))
        .first()
    )
    return int(r["m"] or 0) + 1


def _apply_dml(
    spark: SparkSession,
    table: LakeTable,
    build_batch: Callable[[Manifest], DataFrame],
    fence_token: str | None,
    strategy: str,
) -> MergeStats:
    """Snapshot → stamp → merge, with the WHOLE statement inside
    ``retry_on_conflict``: a losing writer recomputes its matched rows, SET
    expressions, and LSN stamp against the winner's snapshot (a retry that
    reused the old batch would carry a duplicate LSN and stale pre-images —
    lost updates with no error). Every snapshot read (schema guards, live
    rows, max-LSN) is pinned to ONE manifest per attempt."""

    def once() -> MergeStats:
        m = table.manifest()
        batch = build_batch(m)
        has_lsn = any(f.name == HIDDEN_LSN for f in m.schema.fields)
        kwargs: dict = {}
        if has_lsn:
            batch = batch.withColumn(
                DML_LSN_COL, F.lit(_next_lsn(spark, table, m)).cast("long")
            )
            kwargs["lsn_col"] = DML_LSN_COL
        elif strategy != "cow":
            raise ValueError(
                "merge-on-read DML requires a CDC table (hidden _lsn)"
            )
        return merge_into(
            spark, table, batch,
            fence_token=fence_token, strategy=strategy, **kwargs,
        )

    return retry_on_conflict(once)


def delete_where(
    spark: SparkSession,
    table: LakeTable,
    predicate: Column | str,
    fence_token: str | None = None,
    strategy: str = "cow",
) -> MergeStats:
    """DELETE FROM table WHERE predicate — as a fenced tombstone merge."""
    if isinstance(predicate, str):
        predicate = F.expr(predicate)

    def build(m: Manifest) -> DataFrame:
        visible = [f.name for f in visible_fields(m.schema)]
        payload = [c for c in visible if c not in m.key_cols]
        matched = read_live(spark, table, m).filter(predicate)
        return matched.select(
            *m.key_cols,
            *[
                F.lit(None).cast(m.schema[c].dataType).alias(c)
                for c in payload
            ],
            F.lit("D").alias("op"),
        )

    return _apply_dml(spark, table, build, fence_token, strategy)


def update_where(
    spark: SparkSession,
    table: LakeTable,
    set_exprs: dict[str, Column | str],
    predicate: Column | str,
    fence_token: str | None = None,
    strategy: str = "cow",
) -> MergeStats:
    """UPDATE table SET col=expr, ... WHERE predicate — as a fenced merge.

    ``set_exprs`` values may reference the row's current columns (e.g.
    ``{"n_tok": F.col("n_tok") + 1}``). Key columns cannot be SET (that is a
    delete + insert, two DML statements by design — same rule as Iceberg).
    """
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    exprs = {
        c: (F.expr(e) if isinstance(e, str) else e)
        for c, e in set_exprs.items()
    }

    def build(m: Manifest) -> DataFrame:
        visible = [f.name for f in visible_fields(m.schema)]
        bad = set(exprs) & set(m.key_cols)
        if bad:
            raise ValueError(f"cannot SET key column(s) {sorted(bad)}")
        # validate against VISIBLE columns: hidden engine columns (_lsn,
        # _deleted) are in the schema but must not be silently droppable
        # targets — engine state changes only through the engine
        unknown = set(exprs) - set(visible)
        if unknown:
            raise ValueError(
                f"SET of unknown or hidden column(s) {sorted(unknown)}"
            )
        matched = read_live(spark, table, m).filter(predicate)
        return matched.select(
            *[
                (
                    exprs[c].cast(m.schema[c].dataType)
                    if c in exprs
                    else F.col(c)
                ).alias(c)
                for c in visible
            ],
            F.lit("U").alias("op"),
        )

    return _apply_dml(spark, table, build, fence_token, strategy)
