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

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import conform
from .table import (
    ALL_HIDDEN,
    HIDDEN_DELETED,
    CommitConflict,
    LakeTable,
    Manifest,
    fence_cursor,
    visible_fields,
)


# operations whose commits are logical no-ops by construction: their file
# churn flags buckets in _changed_buckets, but the live state there is
# byte-identical — a span walk excludes them outright (data_steps). ONE
# definition for the whole engine: a maintenance op added here is
# maintenance for every follower.
MAINTENANCE_OPS = frozenset({"compact", "rescale", "cluster"})

# longest span the manifest walk reads version by version; past it one
# endpoint diff (or one bucket-discovery job) beats O(span) driver reads
_MAX_WALK = 64


def data_steps(
    table: LakeTable, from_version: int, to_version: int
) -> list[tuple[set[int], int]] | None:
    """``(changed buckets, num_buckets)`` of each DATA commit in
    ``(from, to]`` — maintenance commits skipped — or None when the cheap
    answer is unavailable (an empty, reversed or over-long span, or an
    expired interior manifest).

    Why this exists: a compaction / rescale / z-order rewrite inside a span
    touches EVERY bucket's file list, so the endpoint ``_changed_buckets``
    degrades to O(table) for a logically empty step. Excluding maintenance
    steps is sound because their live state is identical on both sides;
    a bucket a DATA step touched is always reported, so no real change is
    ever missed. Each step carries the bucket count its ids mean something
    under: a rescale inside the span renumbers buckets (and is skipped).
    A DATA commit that changes the count (a rollback across a rescale
    restores the old numbering) mixes two numberings inside one step's
    ``_changed_buckets`` — no per-step answer exists, so the walk gives
    None and the caller falls back to the endpoint diff."""
    if not 0 < to_version - from_version <= _MAX_WALK:
        # reversed/empty spans must fall back to the (symmetric) endpoint
        # diff — an empty walk would report zero changes for a real span
        return None
    out: list[tuple[set[int], int]] = []
    try:
        prev = table.manifest(from_version)
        for v in range(from_version + 1, to_version + 1):
            cur = table.manifest(v)
            if (cur.summary or {}).get("operation") not in MAINTENANCE_OPS:
                if cur.num_buckets != prev.num_buckets:
                    return None  # data commit renumbered buckets: no step ids
                out.append((_changed_buckets(prev, cur), cur.num_buckets))
            prev = cur
    except OSError:
        return None  # interior manifest expired; endpoint diff still works
    return out


def span_data_buckets(
    table: LakeTable, m_from: Manifest, m_to: Manifest
) -> set[int] | None:
    """Buckets changed by DATA commits in ``(from, to]`` (see
    :func:`data_steps`), or None when the walk cannot answer or the span's
    bucket numbering is not the endpoints' (a rescale: ids not comparable)."""
    nb = m_to.num_buckets
    steps = data_steps(table, m_from.version, m_to.version)
    if steps is None or m_from.num_buckets != nb:
        return None
    if any(snb != nb for _, snb in steps):
        return None
    return set().union(*(b for b, _ in steps))


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
    spark: SparkSession,
    table: LakeTable,
    m: Manifest,
    buckets: set[int] | None = None,
) -> DataFrame:
    """Resolved live rows (MoR-aware, tombstones dropped, hidden columns
    stripped) of snapshot ``m`` — every bucket, or the ``buckets`` subset.
    The shared "current logical rows" reader of snapshot_diff, predicate
    DML (lake/mutate), and every follower's recompute/read."""
    files = [f for f in m.files if buckets is None or f.bucket in buckets]
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


def follow(
    base: LakeTable,
    target: LakeTable,
    prefix: str,
    step: Callable[[int, int, str], bool],
    up_to_version: int | None = None,
    coalesce: bool = False,
) -> int:
    """Fold every base commit past ``target``'s fence cursor into ``target``
    — the one refresh loop of every change-feed follower (lake/view,
    lake/index, lake/replicate, lake/outbox). Returns the number of base
    versions THIS call applied.

    The goal is the base head (or ``up_to_version``). Each pass reads the
    cursor — the highest ``prefix<v>`` fence on the target — and hands
    ``step(cur, nxt, fence)`` one span ``(cur, nxt]``: the next version, or
    the whole remainder with ``coalesce=True`` (one commit instead of N;
    resume granularity coarsens to the span, exactly-once still holds via
    the span-end fence). The step folds the span in ONE commit fenced
    ``fence``, with no retry of its own, and returns whether it committed
    (False: the fence was already there, or it found its span stale).
    ``fence`` is always ``prefix + str(nxt)`` — the on-disk format the
    cursor parses — so a step that builds it itself commits the same token.

    Concurrency: the cursor IS the fence state, so it moves in the same
    atomic manifest swap as the data. A racing follower that commits first
    makes this step's CAS fail with ``CommitConflict``, and the loop
    re-derives the remaining span from the winner's cursor. A span fence
    alone would NOT subsume interior versions: two followers with
    overlapping spans would double-apply ± deltas, and a stale narrow span
    applied after a wide one could resurrect a key the wide span saw
    inserted and deleted. Re-deriving on conflict is what makes concurrent
    stepwise and coalesced followers compose."""
    goal = base.current_version() if up_to_version is None else up_to_version
    applied = 0
    while True:
        cur = fence_cursor(target.manifest(), prefix)
        if cur >= goal:
            return applied
        nxt = goal if coalesce else cur + 1
        try:
            if step(cur, nxt, f"{prefix}{nxt}"):
                applied += nxt - cur
        except CommitConflict:
            continue  # a racer committed; re-derive the span from fences
