"""Z-order clustering maintenance (``OPTIMIZE … ZORDER BY``): rewrite a
table's data ordered along a space-filling curve over chosen payload columns
so the per-file manifest column stats (``stat_cols`` min/max) become
selective in EVERY clustered dimension at once — the Iceberg/Delta
multi-dimensional data-skipping story, built on this lake's existing
footer-stat machinery (table.write_data_files → DataFileEntry.col_stats →
files_where).

Why this matters at 100 TB: bucketing co-locates rows by KEY — exactly right
for merges and point lookups, useless for payload predicates. A probe like
``source = 'web' AND n_tok BETWEEN 256 AND 512`` finds every file spanning
nearly the full payload domain, so stat pruning keeps all 10^6 files and the
"pruned" scan opens every footer. One z-order rewrite bounds each file to a
small hyper-rectangle of the clustered dimensions, and an AND-of-ranges probe
then prunes multiplicatively — the difference between a metadata decision and
a full-table footer storm.

Spark-first shape (no UDF, no Python on the data path):

- cell assignment is ``aggregate(boundaries, 0, acc + (v >= b))`` over a
  quantile-boundary array literal — whole-stage-codegen'd JVM expressions;
- bit interleaving is shiftleft/shiftright/AND/OR column arithmetic;
- the only wide operation is ONE ``repartitionByRange(bucket, z)`` feeding
  the ordinary bucketed write (`repartition=False` — the range layout IS the
  file layout, one narrow z-interval per file);
- quantile boundaries come from ``approxQuantile`` (numerics — one cheap
  aggregate job, never a sort) or a bounded deterministic hash-ordered sample
  (strings/other orderables, O(sample_limit) driver bytes — metadata-scale).
  Quantile cells equidistribute rows under Zipf skew; duplicated boundaries
  collapse, so a 99%-constant column degrades to fewer cells, never to a
  skewed shuffle.

Semantics: the rewrite is a logical no-op — the same live-rows-and-tombstones
state, new physical order — committed with ``operation: "cluster"`` so the
derived surfaces treat it exactly like compaction (empty CDF delta; the
replica's manifest walk skips it outright, lake/diff.MAINTENANCE_OPS).
MoR deltas are folded through the same hidden-LSN LWW as lake/merge.compact;
tables without the hidden CDC columns (append-only logs) are rewritten as a
pure multiset-preserving reorder.

Reference parity note: the Scala pipeline has no table format at all (it
writes to Elasticsearch, which owns its own segment layout); this module is
part of the lake feature set the PySpark engine needs because it OWNS the
storage (ref: architecture contrast only, no counterpart file).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType,
)

from .table import CommitConflict, LakeTable, Manifest, bucket_expr

_NUMERIC = (ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)


def _boundaries(
    df: DataFrame, col: str, n_cells: int, sample_limit: int
) -> list:
    """Sorted, deduplicated cell boundaries for one column.

    Numerics: ``approxQuantile`` (a single aggregate job; relative error is
    irrelevant here — boundaries only steer layout, never correctness).
    Other orderable types: quantiles of a bounded deterministic sample
    (hash-ordered TakeOrdered — ≤ ``sample_limit`` values ever reach the
    driver, so this stays metadata-scale at any table size).
    """
    dtype = df.schema[col].dataType
    if isinstance(dtype, _NUMERIC):
        qs = [i / n_cells for i in range(1, n_cells)]
        raw = df.stat.approxQuantile(col, qs, 1.0 / (4 * n_cells))
        if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
            raw = [int(b) for b in raw]
        return sorted(set(raw))
    vals = [
        r[0]
        for r in df.select(col)
        .where(F.col(col).isNotNull())
        .orderBy(F.xxhash64(F.col(col)), F.col(col))
        .limit(sample_limit)
        .collect()
    ]
    vals.sort()
    if not vals:
        return []
    return sorted({vals[(i * len(vals)) // n_cells] for i in range(1, n_cells)})


def _cell_expr(col: str, bounds: list) -> F.Column:
    """Cell index = #(boundaries ≤ value): a fold over a boundary array
    literal — pure JVM expressions, codegen-friendly, O(|bounds|) per row
    (bounded by 2^bits − 1, a maintenance-time constant). NULLs land in
    cell 0 alongside the smallest values."""
    if not bounds:
        return F.lit(0)
    c = F.col(col)
    arr = F.array(*[F.lit(b) for b in bounds])
    cnt = F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc + F.when(c >= b, F.lit(1)).otherwise(F.lit(0)),
    )
    return F.when(c.isNull(), F.lit(0)).otherwise(cnt)


def _z_expr(cells: list[F.Column], bits: int) -> F.Column:
    """Interleave ``bits`` bits of each cell index into one z-value
    (Morton order) with shift/AND/OR column arithmetic."""
    z = F.lit(0).cast("long")
    n = len(cells)
    for i in range(bits):
        for j, cell in enumerate(cells):
            bit = F.shiftright(cell.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_layout(
    df: DataFrame,
    key_cols: list[str],
    num_buckets: int,
    bounds: dict[str, list],
    bits: int,
    files_per_bucket: int = 4,
) -> DataFrame:
    """The physical rewrite plan (separated so tools/plan_audit.py can assert
    its shape): cell fold + Morton interleave as pure column arithmetic, ONE
    RangePartitioning exchange on (bucket, z), in-partition sort — no Python
    eval node, no join, no extra shuffle."""
    z = _z_expr([_cell_expr(c, bounds[c]) for c in bounds], bits)
    n_parts = max(1, num_buckets * files_per_bucket)
    return (
        df.withColumn("__cz", z)
        .withColumn("__cb", bucket_expr(key_cols, num_buckets))
        .repartitionByRange(n_parts, F.col("__cb"), F.col("__cz"))
        # key tiebreak matches the maintained write-side sort
        # (table.write_data_files): key locality inside each z-cell keeps
        # point-lookup row-group skipping useful on clustered tables
        .sortWithinPartitions("__cb", "__cz", *key_cols)
        .drop("__cz", "__cb")
    )


def cluster_by(
    spark: SparkSession,
    table: LakeTable,
    cols: list[str],
    bits: int = 8,
    files_per_bucket: int = 4,
    sample_limit: int = 20000,
    max_retries: int = 2,
) -> dict:
    """Rewrite the table z-ordered on ``cols`` and record them as
    ``stat_cols`` so every future commit keeps per-file min/max for them.

    One full LWW-resolving read (MoR deltas fold to base, tombstones are
    RETAINED — stale redeliveries must stay dead, same rule as compact), one
    range shuffle on (bucket, z), one bucketed write of
    ``num_buckets × files_per_bucket`` z-interval files, ONE manifest CAS
    commit carrying the updated properties atomically with the new layout.
    Idempotent; a lost CAS race re-plans against the winner (maintenance must
    never surface a conflict to the operator).

    Returns ``{"files": n, "cells": {col: n_cells}, "version": v}``.
    """
    from .merge import HIDDEN_LSN

    if not cols:
        raise ValueError("cluster_by needs at least one column")
    if bits * len(cols) > 63:
        # Java shift semantics wrap silently past 63 — the interleave would
        # corrupt high cells, not throw
        raise ValueError(
            f"bits ({bits}) x dims ({len(cols)}) must fit a signed long "
            "(<= 63 interleaved bits)"
        )
    attempt = 0
    while True:
        m = table.manifest()
        schema_cols = {f.name for f in m.schema.fields}
        missing = [c for c in cols if c not in schema_cols]
        if missing:
            raise ValueError(f"cluster columns not in table schema: {missing}")

        df = table._read_files(spark, m, m.files)
        if HIDDEN_LSN in df.columns:
            # resolve_rows, not raw lww_latest: on a partial-mode table the
            # per-column register fold must decide (whole-row max-LSN pick
            # would null out columns held by other register rows and drop
            # delete barriers — permanent state loss in a maintenance op)
            from .merge import resolve_rows

            df = resolve_rows(df, m.key_cols)
        # ONE resolved scan feeds every boundary job AND the rewrite — the
        # read + LWW fold is the dominant cost on a big MoR table, and
        # without the persist it would re-execute len(cols)+1 times
        df = df.persist()
        try:
            n_cells = 1 << bits
            bounds = {
                c: _boundaries(df, c, n_cells, sample_limit) for c in cols
            }
            out = zorder_layout(
                df, m.key_cols, m.num_buckets, bounds, bits, files_per_bucket
            )

            props = dict(m.properties or {})
            props["stat_cols"] = sorted(
                set(props.get("stat_cols") or []) | set(cols)
            )
            props["clustered_by"] = list(cols)
            # persist the boundary grid so FUTURE writes can maintain the
            # layout: write_data_files z-sorts rewritten buckets with these
            # bounds, keeping parquet row-group stats tight on the clustered
            # dims between rewrites (file-level order decays to bucket
            # granularity under CoW; row-group skipping inside the rewritten
            # file is what survives)
            props["cluster_bounds"] = {c: bounds[c] for c in cols}
            props["cluster_bits"] = bits
            # stat phase sees new stat_cols
            staged_m = replace(m, properties=props)
            sid = table._current_schema_id(m)
            new_files = table.write_data_files(
                out, staged_m, sid, repartition=False, kind="base",
                presorted=True,  # zorder_layout already laid the data out
            )
        finally:
            df.unpersist()
        try:
            committed = table.commit(
                m,
                new_files,
                summary={
                    "operation": "cluster",
                    "cluster_by": list(cols),
                    "files_removed": len(m.files),
                    "files_added": len(new_files),
                },
                properties=props,
            )
        except CommitConflict:
            if attempt >= max_retries:
                raise
            attempt += 1
            continue
        return {
            "files": len(new_files),
            "cells": {c: len(bounds[c]) + 1 for c in cols},
            "version": committed.version,
        }
