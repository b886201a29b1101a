"""Snapshot diff — CDF-style incremental read between two table snapshots.

The reference has no changed-rows surface at all: downstream consumers re-read
the whole ES index or listen to the live topic (ref: aggregator/.../
TopicPublisher.scala:18-33 publishes ids only, and only for the batch that just
ran). The lake layer can do strictly better: any two committed snapshots are
immutable manifests, so "what changed between v_from and v_to" is answerable
after the fact, exactly — the analogue of Delta's Change Data Feed / Iceberg's
incremental read, derived from snapshots rather than logged at write time.

Scale shape (the 100 TB question): the diff NEVER scans the whole table. A
bucket whose file set (path list) is identical in both manifests cannot
contain a changed row — data files are immutable and content-addressed by the
commit that wrote them — so both sides read only the buckets whose file lists
differ. Cost is O(changed buckets), not O(table); the single shuffle is the
key-hash full-outer join of those buckets, which is exactly the data a
downstream incremental consumer must receive anyway.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import conform
from .table import (
    ALL_HIDDEN,
    HIDDEN_DELETED,
    LakeTable,
    Manifest,
    visible_fields,
)


# operations whose commits are logical no-ops by construction: their file
# churn flags buckets in _changed_buckets, but the live state there is
# byte-identical — a span walk can exclude them outright (the same set the
# replica walk uses, lake/replicate._MAINTENANCE_OPS)
MAINTENANCE_OPS = frozenset({"compact", "rescale", "cluster"})


def span_data_buckets(
    table: LakeTable, m_from: Manifest, m_to: Manifest, max_walk: int = 64
) -> set[int] | None:
    """Buckets changed by DATA commits in ``(from, to]`` — maintenance-only
    churn excluded — or None when the cheap answer is unavailable (span too
    long to walk manifests, an interior manifest expired, or a rescale inside
    the span: bucket numbering changed mid-walk).

    Why this exists: a compaction / rescale / z-order rewrite inside a span
    touches EVERY bucket's file list, so the endpoint ``_changed_buckets``
    degrades to O(table) for a logically empty step. Excluding maintenance
    steps is sound because their live state is identical on both sides —
    any bucket they alone touched contributes only rows that cancel (sum
    consumers) or classify as noop (join consumers). A bucket a DATA step
    touched is always included, so no real change is ever missed."""
    if not 0 < m_to.version - m_from.version <= max_walk:
        # reversed/empty spans must fall back to the (symmetric) endpoint
        # diff — an empty walk would report zero changes for a real inverse
        # span
        return None
    out: set[int] = set()
    try:
        prev = m_from
        for v in range(m_from.version + 1, m_to.version + 1):
            cur = table.manifest(v)
            if cur.num_buckets != prev.num_buckets:
                return None  # rescale inside the span: ids not comparable
            if (cur.summary or {}).get("operation") not in MAINTENANCE_OPS:
                out |= _changed_buckets(prev, cur)
            prev = cur
    except OSError:
        return None  # interior manifest expired; endpoint diff still works
    return out


def _changed_buckets(m_from: Manifest, m_to: Manifest) -> set[int]:
    """Buckets whose file set differs between the two manifests."""

    def sig(m: Manifest) -> dict[int, tuple]:
        by: dict[int, list[str]] = {}
        for f in m.files:
            by.setdefault(f.bucket, []).append(f.path)
        return {b: tuple(sorted(ps)) for b, ps in by.items()}

    a, b = sig(m_from), sig(m_to)
    return {k for k in set(a) | set(b) if a.get(k) != b.get(k)}


def read_live(
    spark: SparkSession, table: LakeTable, m: Manifest, buckets: set[int]
) -> DataFrame:
    """Resolved live rows (MoR-aware, tombstones dropped, hidden columns
    stripped) for a bucket subset of snapshot ``m`` — the shared "current
    logical rows" reader used by snapshot_diff, predicate DML (lake/mutate),
    and view recompute (lake/view)."""
    files = [f for f in m.files if f.bucket in buckets]
    if not files:
        from pyspark.sql.types import StructType

        # same visible-columns contract as the non-empty path (hidden engine
        # columns are dropped below; the empty frame must match)
        return spark.createDataFrame([], StructType(visible_fields(m.schema)))
    # ONE resolution helper for the whole engine: the clean/dirty bucket
    # split + LWW fold lives in LakeTable._read_files_resolved (shared with
    # read_where/read_where_all) so the two paths can never drift on what
    # counts as a dirty bucket
    df = table._read_files_resolved(spark, m, files)
    if HIDDEN_DELETED in df.columns:
        df = df.filter(~F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)))
    return df.drop(*ALL_HIDDEN)


def live_pair(
    spark: SparkSession,
    table: LakeTable,
    from_version: int,
    to_version: int,
) -> tuple[DataFrame, DataFrame]:
    """``(old, new)`` live rows of the CHANGED buckets at the two snapshots,
    the old side conformed to the to-side visible schema (rename-aware, added
    columns read as NULL). The shared building block under ``snapshot_diff``
    (which joins the pair per key to classify rows) and sum-delta consumers
    like ``lake/view`` (which union-aggregate the pair directly — unchanged
    rows cancel in the sum, so no per-key join is ever needed)."""
    from pyspark.sql.types import StructType

    m_from = table.manifest(from_version)
    m_to = table.manifest(to_version)
    # maintenance-aware span walk first: a compact/rescale/cluster commit
    # inside the span would flag every bucket at the endpoints for a
    # logically empty step (O(table) reads); fall back to the endpoint diff
    # when the walk can't answer cheaply
    buckets = span_data_buckets(table, m_from, m_to)
    if buckets is None:
        buckets = _changed_buckets(m_from, m_to)
    # user-visible schema: the stored table schema minus hidden engine columns
    # (_lsn / _deleted) — a diff is a statement about logical rows
    visible = StructType(visible_fields(m_to.schema))

    old = read_live(spark, table, m_from, buckets)
    # a rename committed between the two snapshots: the from-side reads under
    # its own (pre-rename) naming — remap with the renames the to-side added,
    # or conform() would NULL the pre-images of every renamed column and an
    # incremental consumer would subtract wrong values across the span
    ren_from = (m_from.properties or {}).get("renamed_cols", [])
    ren_to = (m_to.properties or {}).get("renamed_cols", [])
    for old_name, new_name in ren_to[len(ren_from):]:
        if old_name in old.columns and new_name not in old.columns:
            old = old.withColumnRenamed(old_name, new_name)
    old = conform(old, visible)
    new = read_live(spark, table, m_to, buckets)
    return old, new


def snapshot_diff(
    spark: SparkSession,
    table: LakeTable,
    from_version: int,
    to_version: int,
    include_old: bool = False,
) -> DataFrame:
    """Classified row changes between two snapshots of a lake table.

    Returns one row per key whose live value differs between the snapshots:
    the key columns, ``change_type`` ('insert' | 'update' | 'delete'), and the
    payload columns (to-side for insert/update, from-side for delete). Rows
    identical in both snapshots never appear. The from-side is conformed to
    the to-side schema first, so a diff across a schema-evolution commit
    compares under the evolved schema (added columns read as NULL on the old
    side — an added column value is an 'update' like any other).

    ``include_old=True`` additionally emits ``old_<c>`` pre-image columns
    (the from-side payload; NULL for inserts) — Delta CDF's
    update_preimage/update_postimage pair in one row. Pre-images are what
    make downstream INCREMENTAL consumers exact: an aggregate maintained from
    the diff applies +new and -old instead of recomputing (see
    ``cdc_incremental_agg`` at the driver gate).
    """
    keys = table.manifest(to_version).key_cols
    old, new = live_pair(spark, table, from_version, to_version)
    payload = [c for c in new.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        F.struct(*payload).alias("__old"),
    )
    n = new.select(*keys, F.struct(*payload).alias("__new"))
    cond = reduce(
        lambda a, b: a & b,
        [F.col(k) == F.col(f"__ok_{k}") for k in keys],
    )
    j = n.join(o, on=cond, how="full_outer")
    change = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("update"))
    )
    winner = F.coalesce(F.col("__new"), F.col("__old"))
    old_cols = (
        [F.col("__old")[c].alias(f"old_{c}") for c in payload]
        if include_old
        else []
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(k), F.col(f"__ok_{k}")).alias(k)
                for k in keys
            ],
            "change_type",
            *[winner[c].alias(c) for c in payload],
            *old_cols,
        )
    )


# backwards-compat private alias (read_live became public API)
_read_live = read_live
