"""Last-writer-wins dedup over LSN — the engine's core ordering operator.

The reference deduplicates by arrival order with a mutable HashSet
(ref: aggregator/src/main/scala/weco/concepts/aggregator/ConceptsAggregator.scala:110-118
— first-writer-wins, hash-collision-lossy). Ours is stronger and deterministic:
per key, the row that is greatest under a total order wins.

Total order: highest LSN first; for same-LSN duplicates (at-least-once
redelivery) delete outranks upsert, so a racing D|U at the same LSN resolves
deterministically; then a stable hash of the whole row. Total order ⇒ same
winner on every replay.

Skew: the fold is one ``max_by`` hash aggregation, which Spark plans with a
map-side partial aggregate — every hot key is reduced inside each input
partition before the shuffle, so no task receives more than one partial winner
per key per input partition (see SCALING.md, tests/test_skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the hidden per-key register columns a partial-mode table stores; the
# folds below produce and consume them
from ..lake.table import HIDDEN_COLV, HIDDEN_DELETED, HIDDEN_DLSN, HIDDEN_LSN


def lww_latest(
    df: DataFrame,
    key_cols: list[str],
    lsn_col: str = "lsn",
    op_col: str | None = "op",
) -> DataFrame:
    """Keep exactly one row per key: the greatest row under the total order above.

    A single ``max_by`` hash aggregation, no sort. The ordering struct
    (lsn, delete-outranks-upsert, ~rowhash) encodes the total order
    (bitwise_not makes "min hash wins" a max, overflow-free under ANSI).
    """
    cols = df.columns
    order_struct = F.struct(
        F.col(lsn_col).alias("l"),
        (
            F.when(F.col(op_col) == "D", F.lit(1)).otherwise(F.lit(0))
            if op_col is not None
            else F.lit(0)
        ).alias("r"),
        F.bitwise_not(F.xxhash64(*[F.col(c) for c in cols])).alias("h"),
    )
    winner = F.max_by(F.struct(*[F.col(c) for c in cols]), order_struct)
    return df.groupBy(*key_cols).agg(winner.alias("__w")).select("__w.*")


# sentinel ordering floor for barrier comparisons: far below any real LSN but
# safely away from LONG_MIN (greatest()/arithmetic must never overflow)
_NEG_LSN = -(1 << 62)


def lww_fold_partial(
    df: DataFrame,
    key_cols: list[str],
    val_cols: list[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> DataFrame:
    """Per-COLUMN LWW fold of a sparse change batch (column-level CDC).

    Whole-row LWW (``lww_latest``) assumes every event carries a full
    after-image. Column-level change capture does not: an event sets only the
    columns it changed and leaves the rest NULL ("no statement"). Folding such
    a batch correctly means each column independently keeps the value from the
    newest event that SET it — unless a later delete cleared the row.

    One ``groupBy(key)`` hash aggregation (map-side partial combine, no window,
    no Python) producing one row per key:

    - each ``val_cols`` column: the value from the highest-LSN event that set
      it AND is newer than the batch's last delete; NULL = no surviving
      assignment in this batch
    - ``_colv``: ``map<column, lsn>`` recording the LSN of each surviving
      assignment — the per-column version vector the merge needs to order
      column writes across out-of-order batches
    - ``_dlsn``: the batch's highest delete LSN (NULL if none) — the delete
      barrier, carried so the merge can clear target columns older than it
    - ``lsn_col``: highest event LSN overall (the row version)
    - ``op_col``: ``'D'`` when the batch's net effect is a deleted row
      (last delete outranks the last upsert), else ``'U'``

    The barrier trick: within the batch, a column's winner is the max-LSN
    non-NULL assignment; if that winner is older than the batch's last delete,
    NO assignment survives (the winner is the newest, so every other candidate
    is older still) — which lets delete-barrier filtering run AFTER a single
    aggregation instead of needing a per-key pre-join on the delete LSN.

    Same-LSN duplicates resolve deterministically with ``lww_latest``'s total
    order (delete outranks upsert; residual full-row-hash tiebreak).
    """
    is_del = F.col(op_col) == F.lit("D")
    lsn = F.col(lsn_col).cast("long")
    # residual tiebreak over the full row, as in lww_latest: equal-(lsn, op)
    # duplicates with different payloads pick the SAME winner on every replay
    rh = F.bitwise_not(F.xxhash64(*[F.col(c) for c in df.columns]))
    aggs = []
    for c in val_cols:
        order_c = F.when(
            ~is_del & F.col(c).isNotNull(),
            F.struct(lsn.alias("l"), rh.alias("h")),
        )
        aggs.append(
            F.max_by(
                F.struct(lsn.alias("l"), F.col(c).alias("v")), order_c
            ).alias(f"__w_{c}")
        )
    # delete/upsert extremes; the same-LSN D-outranks-U rule rides a struct
    # order (lsn, is_delete) so a racing D|U at one LSN nets to deleted
    aggs += [
        F.max(F.when(is_del, lsn)).alias("__dl"),
        F.max(F.when(~is_del, lsn)).alias("__ul"),
        F.max(lsn).alias("__ml"),
    ]
    g = df.groupBy(*key_cols).agg(*aggs)

    dl = F.coalesce(F.col("__dl"), F.lit(_NEG_LSN))
    out = [F.col(k) for k in key_cols]
    entries = []
    for c in val_cols:
        w_l, w_v = F.col(f"__w_{c}.l"), F.col(f"__w_{c}.v")
        survives = w_l.isNotNull() & (w_l > dl)
        out.append(F.when(survives, w_v).alias(c))
        entries.append(
            F.struct(
                F.lit(c).alias("key"),
                F.when(survives, w_l).alias("value"),
            )
        )
    out += [
        F.map_from_entries(
            F.filter(F.array(*entries), lambda e: e["value"].isNotNull())
        ).alias(HIDDEN_COLV),
        F.col("__dl").alias(HIDDEN_DLSN),
        F.col("__ml").alias(lsn_col),
        F.when(
            dl >= F.coalesce(F.col("__ul"), F.lit(_NEG_LSN)),
            F.lit("D"),
        ).otherwise(F.lit("U")).alias(op_col),
    ]
    return g.select(*out)


def lww_fold_registers(
    df: DataFrame,
    key_cols: list[str],
    val_cols: list[str],
) -> DataFrame:
    """Merge per-key REGISTER rows (column-level CDC state rows carrying the
    ``_colv`` version vector + ``_dlsn`` delete barrier) into one resolved
    register row per key — the read-side resolution for partial-mode
    merge-on-read, and the compaction fold.

    Input rows are the output shape of :func:`lww_fold_partial` after the
    merge stamped hidden columns (or base rows of a partial table): each row
    states some columns at explicit LSNs. Resolution per key:

    - ``B`` (barrier) = max over rows of (``_dlsn``, row LSN if tombstoned)
    - each column: the max-LSN assignment across rows, kept iff newer than
      ``B`` (the winner is the maximum, so "winner ≤ B" proves no candidate
      survives — the same post-aggregation barrier trick as the batch fold)
    - live iff the newest non-tombstone row LSN outranks ``B``

    The operation is ASSOCIATIVE and COMMUTATIVE (each column is a
    join-semilattice of (lsn, value) registers; the barrier only grows), so
    size-tiered consolidation of delta subsets composes exactly — the same
    property whole-row LWW gives plain MoR tables.

    One hash aggregation, map-side partial combine, no window, no Python —
    identical shuffle discipline to ``lww_latest``. Output column set equals
    the input's (order preserved) so union/write sites need no adaptation.
    """
    NEG = F.lit(_NEG_LSN)
    deleted = F.coalesce(F.col(HIDDEN_DELETED), F.lit(False))
    lsn = F.col(HIDDEN_LSN)
    # residual tiebreak (same-LSN register duplicates): xxhash64 refuses MAP
    # inputs, so hash the map's entry list instead (map_from_entries builds
    # _colv in deterministic val_cols order, so entry order is stable)
    rh = F.bitwise_not(
        F.xxhash64(
            *[
                F.map_entries(F.col(c)) if c == HIDDEN_COLV else F.col(c)
                for c in df.columns
            ]
        )
    )
    row_barrier = F.greatest(
        F.coalesce(F.col(HIDDEN_DLSN), NEG),
        F.when(deleted, lsn).otherwise(NEG),
    )
    row_upsert = F.when(~deleted, lsn).otherwise(NEG)
    aggs = []
    for c in val_cols:
        lc = F.try_element_at(F.col(HIDDEN_COLV), F.lit(c))
        order_c = F.when(
            lc.isNotNull(), F.struct(lc.alias("l"), rh.alias("h"))
        )
        aggs.append(
            F.max_by(
                F.struct(lc.alias("l"), F.col(c).alias("v")), order_c
            ).alias(f"__w_{c}")
        )
    aggs += [
        F.max(row_barrier).alias("__b"),
        F.max(row_upsert).alias("__u"),
        F.max(lsn).alias("__ml"),
    ]
    g = df.groupBy(*key_cols).agg(*aggs)

    B = F.col("__b")
    live = F.col("__u") > B
    exprs: dict[str, F.Column] = {k: F.col(k) for k in key_cols}
    entries = []
    for c in val_cols:
        w_l, w_v = F.col(f"__w_{c}.l"), F.col(f"__w_{c}.v")
        surv = live & w_l.isNotNull() & (w_l > B)
        exprs[c] = F.when(surv, w_v)
        entries.append(
            F.struct(F.lit(c).alias("key"), F.when(surv, w_l).alias("value"))
        )
    exprs[HIDDEN_LSN] = F.col("__ml")
    exprs[HIDDEN_DELETED] = ~live
    exprs[HIDDEN_COLV] = F.when(
        live,
        F.map_from_entries(
            F.filter(F.array(*entries), lambda e: e["value"].isNotNull())
        ),
    )
    exprs[HIDDEN_DLSN] = F.when(B > NEG, B)
    return g.select(*[exprs[c].alias(c) for c in df.columns])
