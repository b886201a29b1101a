"""MERGE INTO for LakeTable: bucketed copy-on-write upsert with fencing and lineage.

Semantics (the reference's whole sink stack, declaratively):

    MERGE INTO target t USING source s ON t.<keys> = s.<keys>
      WHEN MATCHED AND s.op = 'D'          THEN DELETE       -- ref skips deletes
                                                             -- (WorkIdSource.scala:47-53);
                                                             -- we handle them (north_rule)
      WHEN MATCHED AND <row changed>       THEN UPDATE       -- noop short-circuit =
                                                             -- append-fields.json:5-13
      WHEN NOT MATCHED AND s.op <> 'D'     THEN INSERT       -- doc_as_upsert
                                                             -- (BulkUpdateFlow.scala:45-47)

Two update modes:
- ``replace``      — whole-row replace (ref: BulkUpdateFlow doc upsert, K3 in SURVEY §2.5)
- ``array_union``  — configured array columns become set-union(old, new); everything
  else replaced (ref: ScriptedBulkUpdateFlow + painless append-fields script, K4/A5)

Physical strategy: source keys hash to a set of buckets; only data files in those
buckets are read and rewritten (file-pruned copy-on-write). Untouched files carry over
by reference in the new manifest. At 1000-executor scale the rewrite cost is bounded by
the touched-bucket fraction, not table size, and the bucket count bounds merge-join
shuffle width.

Exactly-once: a ``fence_token`` already present in the manifest short-circuits the whole
merge (idempotent replay after foreachBatch retry); the token is recorded in the same
atomic manifest commit as the data — the fence IS transactional with the merge.
"""

from __future__ import annotations

import datetime
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

from .schema import conform, evolve_schema
from .table import (  # the HIDDEN_* names stay importable from here
    ALL_HIDDEN,
    HIDDEN_COLV,
    HIDDEN_DELETED,
    HIDDEN_DLSN,
    HIDDEN_LSN,
    DataFileEntry,
    LakeTable,
    Manifest,
    bucket_expr,
    bucket_of,
)

ACTION_COL = "__action"
BUCKET_COL = "__bucket"


_MIN_LSN = -(2**63) + 1

# width of each integer key type, for range-checking point-lookup probes
_INT_BITS = {ByteType: 8, ShortType: 16, IntegerType: 32, LongType: 64}

_ACTIONS = [
    "inserted", "updated", "deleted", "noop", "stale", "carried", "delete_missing",
]


@dataclass
class MergeStats:
    inserted: int = 0
    updated: int = 0
    deleted: int = 0
    noop: int = 0
    stale: int = 0  # events older than the row's applied LSN (lsn mode only)
    carried: int = 0  # rows rewritten unchanged from touched files
    delete_missing: int = 0  # delete events whose key was absent
    skipped: bool = False  # fence token already applied
    version: int | None = None
    wall_ms: int = 0
    touched_buckets: int = 0
    touched_files: int = 0
    by_bucket: list[dict] = field(default_factory=list)  # per-bucket lineage rows
    # caller-requested observe_aggs values, piggybacked on the write job
    # (None when not requested OR when Spark's observe+empty-result quirk ate
    # the metrics row — callers must treat None as "unknown", not zero)
    observed: dict | None = None

    @property
    def applied(self) -> int:
        return self.inserted + self.updated + self.deleted


class OutboxAppendError(RuntimeError):
    """Outbox append exhausted its commit-conflict retries AFTER the target
    merge committed. Deliberately not a CommitConflict: merge_into's optimistic
    retry wrapper must not re-enter the merge (the fence would turn a healthy
    applied batch into a spurious hole marker with skipped stats)."""


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    source: DataFrame,
    op_col: str = "op",
    update_mode: str = "replace",
    array_union_cols: list[str] | None = None,
    fence_token: str | None = None,
    lsn_col: str | None = None,
    touched_buckets: list[int] | None = None,
    touched_num_buckets: int | None = None,
    changes_table: LakeTable | None = None,
    strategy: str = "cow",
    max_retries: int = 2,
    sum_cols: list[str] | None = None,
    patch_cols: dict[str, tuple[str, str]] | None = None,
    set_properties: dict | None = None,
    observe_aggs: dict | None = None,
) -> MergeStats:
    """Optimistic-concurrency wrapper: on CommitConflict (another writer won the
    manifest swap) the merge re-reads the NEW snapshot and re-runs — correct
    because the whole merge is computed against the manifest it read, the fence
    check is repeated per attempt (a racing writer that already applied this
    fence turns the retry into a skip), and already-written data files of the
    losing attempt are unreferenced orphans (reclaimed by expire_snapshots)."""
    from .table import CommitConflict

    attempt = 0
    while True:
        try:
            return _merge_into_once(
                spark, table, source, op_col, update_mode,
                array_union_cols, fence_token, lsn_col,
                touched_buckets, touched_num_buckets, changes_table, strategy,
                sum_cols, patch_cols, set_properties, observe_aggs,
            )
        except CommitConflict:
            if attempt >= max_retries:
                raise
            attempt += 1


def _merge_into_once(
    spark: SparkSession,
    table: LakeTable,
    source: DataFrame,
    op_col: str = "op",
    update_mode: str = "replace",
    array_union_cols: list[str] | None = None,
    fence_token: str | None = None,
    lsn_col: str | None = None,
    touched_buckets: list[int] | None = None,
    touched_num_buckets: int | None = None,
    changes_table: LakeTable | None = None,
    strategy: str = "cow",
    sum_cols: list[str] | None = None,
    patch_cols: dict[str, tuple[str, str]] | None = None,
    set_properties: dict | None = None,
    observe_aggs: dict | None = None,
) -> MergeStats:
    """Apply a deduplicated change batch (≤1 row per key, see operators.lww) to table.

    ``observe_aggs`` ({name: null-safe aggregate Column over the merge result})
    piggybacks caller metrics on the write job itself — zero extra Spark jobs.
    The aggregates see every post-merge row of the touched buckets (carried
    rows included; CoW only — under MoR the merged row never materializes at
    write time). Values land in ``MergeStats.observed``; None means the
    observation was lost (Spark's observe+repartition+empty-result+AQE quirk,
    see the plain-mode metrics fallback below) and the caller must fall back
    to its own scan, never assume zero. Used by TokenIndex.refresh to skip
    its oversized-cell probe job when the merge itself proves no posting cell
    crossed max_postings.

    ``source`` columns: table key columns + ``op_col`` + payload columns. Payload may be
    a superset of the table schema (new columns) or widened — the table schema evolves.
    ``op_col`` value ``'D'`` marks a delete.

    Two merge disciplines:

    - ``lsn_col=None`` (plain): classic MERGE — source wins on match, deletes are
      physical. Correct only when batches arrive in order (the reference's implicit
      assumption: stream arrival order + ES doc versioning).
    - ``lsn_col='lsn'`` (CDC): the table keeps hidden ``_lsn``/``_deleted`` columns.
      An event only applies if ``s.lsn > t._lsn`` (stale redeliveries — e.g. a
      duplicate of an old upsert delivered *after* a newer delete — are no-ops), and
      deletes persist as tombstones so the LSN memory survives the delete. This is
      what makes apply idempotent under at-least-once redelivery ACROSS batch
      boundaries, which the reference cannot do (it skips deletes entirely,
      ref: aggregator/.../WorkIdSource.scala:47-53). Readers filter tombstones
      (LakeTable reads via CdcPipeline.final_state()).
    """
    t0 = time.time()
    m = table.manifest()
    new_props = (
        {**(m.properties or {}), **set_properties}
        if set_properties is not None
        else None
    )
    if fence_token and fence_token in m.fence_tokens:
        # Replayed batch. The outbox is appended AFTER the target commit, so a
        # crash in between leaves the target fenced but the outbox missing its
        # rows; the per-key diff cannot be recomputed (the merge already
        # applied), so close the hole with an explicit fenced marker — the same
        # recovery shape as the lineage table (cdc/apply.py apply_batch).
        if changes_table is not None:
            ct_fence = f"{fence_token}:c"
            if not changes_table.has_fence_token(ct_fence):
                changes_table.append_rows(
                    [
                        {
                            **{k: None for k in m.key_cols},
                            "action": "outbox_hole",
                            "fence_token": fence_token,
                        }
                    ],
                    fence_token=ct_fence,
                )
        return MergeStats(skipped=True, version=m.version)

    key_cols = m.key_cols
    if lsn_col is not None:
        # fold the event LSN / op into the hidden columns before schema alignment
        source = (
            source.withColumn(HIDDEN_LSN, F.col(lsn_col).cast("long"))
            .withColumn(HIDDEN_DELETED, F.col(op_col) == F.lit("D"))
            .drop(lsn_col)
        )
    # array_patch mode: the add/del instruction columns are merge INPUTS, not
    # payload — they must neither evolve into the table schema nor appear in
    # the output, but must survive the conform projection below
    patch_srcs: set[str] = set()
    for a, d in (patch_cols or {}).values():
        patch_srcs.update((a, d))
    payload_schema = StructType(
        [
            f for f in source.schema.fields
            if f.name != op_col and f.name not in patch_srcs
        ]
    )
    new_schema = evolve_schema(m.schema, payload_schema)
    # name-based storage cannot resurrect-proof a re-added column the way
    # Iceberg's field IDs can: old data files still hold the dropped
    # column's bytes under the same name, so re-adding it would read stale
    # values back. DROP records the name; re-adding is refused until a
    # full rewrite clears the tombstone (lake/table.drop_column docstring).
    dead = set((m.properties or {}).get("dropped_cols", []))
    revived = {
        f.name for f in new_schema.fields if f.name in dead
    } - {f.name for f in m.schema.fields}
    if revived:
        from .schema import SchemaEvolutionError

        raise SchemaEvolutionError(
            f"column(s) {sorted(revived)} were previously dropped; "
            "re-adding the same name would resurrect stale values from "
            "old data files (name-based storage) — rewrite the table or "
            "pick a new name"
        )
    schema_json = new_schema.json()
    schemas = dict(m.schemas)
    if schema_json not in schemas.values():
        schemas[str(max(int(s) for s in schemas) + 1)] = schema_json
    schema_id = next(int(sid) for sid, sj in schemas.items() if sj == schema_json)

    # conform source payload to the (possibly evolved) table schema, keep op
    # (plus the patch instruction columns, which ride alongside)
    schema_with_op = StructType(
        list(new_schema.fields)
        + [source.schema[op_col]]
        + [source.schema[c] for c in sorted(patch_srcs)]
    )
    src = conform(source, schema_with_op)

    # ---- plan: which buckets / files does this batch touch? ----
    # callers that already know the touched buckets (CdcPipeline folds bucket
    # discovery into its validation aggregation) pass them in, keeping this
    # function single-action; otherwise discover them here with one extra job
    src = src.withColumn(BUCKET_COL, bucket_expr(key_cols, m.num_buckets))

    if strategy == "mor":
        if lsn_col is None:
            raise ValueError("merge-on-read requires lsn_col (LWW read resolution)")
        if observe_aggs:
            # a MoR write stages only the delta rows — aggregates over "the
            # merged result" cannot be answered there; refuse loudly
            raise ValueError("observe_aggs is not supported under merge-on-read")
        if update_mode not in ("replace", "partial") or sum_cols:
            # deferred set-union/sum would need union/sum (not LWW) read
            # resolution — refuse loudly rather than silently replacing.
            # 'partial' IS supported: its register rows carry everything the
            # read-side per-column fold needs (resolve_rows dispatches on the
            # _colv column) and the fold is associative, so append-only
            # deltas + tiered consolidation compose exactly
            raise ValueError(
                f"update_mode={update_mode!r}/sum_cols={sum_cols!r} is not "
                "supported under merge-on-read; "
                "use strategy='cow' for accumulate semantics"
            )
        return _mor_append(
            table, m, src, new_schema, schema_json, schemas, schema_id,
            op_col, fence_token, t0, new_props,
        )
    if strategy != "cow":
        raise ValueError(f"unknown merge strategy {strategy!r}")

    # Caller-supplied bucket ids are only valid for the bucket count they were
    # computed under: a concurrent rescale_buckets (including one winning a
    # commit race before OUR retry) renumbers every bucket, and pruning with
    # stale ids would skip files that hold matching keys — duplicate keys with
    # no conflict. Rediscover from src whenever the numbering doesn't match.
    if touched_buckets is not None and touched_num_buckets != m.num_buckets:
        touched_buckets = None

    src_persisted = False
    if touched_buckets is None:
        src = src.persist()
        src_persisted = True
        touched_buckets = sorted(
            r[0] for r in src.select(BUCKET_COL).distinct().collect()
        )
    else:
        touched_buckets = sorted(set(touched_buckets))

    if not touched_buckets:
        # empty batch: nothing to read or write, but the fence must still commit
        # (exactly-once bookkeeping for replays of the empty batch)
        if src_persisted:
            src.unpersist()
        table.commit(
            m, m.files, schema_json=schema_json, schemas=schemas,
            fence_token=fence_token,
            summary={"operation": "merge", "empty_batch": True},
            properties=new_props,
        )
        # fence the outbox too — otherwise a replay of this batch finds the
        # target fenced but ':c' missing and writes a spurious hole marker
        if changes_table is not None and fence_token:
            changes_table.append_rows([], fence_token=f"{fence_token}:c")
        stats = MergeStats(version=m.version + 1)
        stats.wall_ms = int((time.time() - t0) * 1000)
        return stats

    tb = set(touched_buckets)
    # bucket == -1 marks driver-side appends whose keys were never hashed
    # (LakeTable.append_rows) — they span all buckets and are always touched
    touched_files = [f for f in m.files if f.bucket in tb or f.bucket == -1]
    passthrough_files = [f for f in m.files if f.bucket not in tb and f.bucket != -1]

    target_sub = table._read_files(spark, m, touched_files)
    # manifest carries the old schema during this read; conform to the new one
    target_sub = conform(target_sub, new_schema)

    data_cols = [f.name for f in new_schema.fields]
    hidden = set(ALL_HIDDEN) if lsn_col is not None else set()
    val_cols = [c for c in data_cols if c not in key_cols and c not in hidden]

    t = target_sub.withColumn("__t", F.lit(True)).alias("t")
    s = src.withColumn("__s", F.lit(True)).alias("s")
    joined = t.join(
        s,
        on=[F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols],
        how="full_outer",
    )

    is_matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
    is_delete = F.col(f"s.{op_col}") == F.lit("D")

    acc_cols = set(sum_cols or [])
    if update_mode == "array_union":
        union_cols = set(array_union_cols or [])
        field_type = {f.name: f.dataType for f in new_schema.fields}
        new_val = {
            c: (
                F.when(
                    is_matched,
                    F.array_sort(
                        F.array_union(
                            F.coalesce(F.col(f"t.{c}"), F.array().cast(field_type[c])),
                            F.coalesce(F.col(f"s.{c}"), F.array().cast(field_type[c])),
                        )
                    ),
                # INSERT arm sorts too: storing a raw unsorted array would make
                # a later set-equal re-merge look changed (spurious 'updated'
                # action + outbox publication for a no-op)
                ).otherwise(F.array_sort(F.col(f"s.{c}")))
                if c in union_cols
                else F.col(f"s.{c}")
            )
            for c in val_cols
        }
    elif update_mode == "array_patch":
        # set-patch semantics for posting-list maintenance (lake/index.py):
        # target array col := sort(except(union(current, adds), dels)) — the
        # instruction columns come from the source row, the base from the
        # target; the insert arm starts from an empty base. Sorted storage
        # keeps set-equal states byte-equal (same rationale as array_union).
        pc = patch_cols or {}
        if not pc:
            # silently falling through would conform the (absent) target
            # arrays to NULL and overwrite every matched key's postings
            raise ValueError(
                "update_mode='array_patch' requires patch_cols "
                "({target: (add_col, del_col)})"
            )
        bad_targets = set(pc) - set(val_cols)
        if bad_targets:
            raise ValueError(
                f"patch_cols target(s) {sorted(bad_targets)} are not payload "
                "columns"
            )
        field_type = {f.name: f.dataType for f in new_schema.fields}

        def _patched(c: str):
            a, dl = pc[c]
            empty = F.array().cast(field_type[c])
            add = F.coalesce(F.col(f"s.{a}"), empty)
            rem = F.coalesce(F.col(f"s.{dl}"), empty)
            base = F.coalesce(F.col(f"t.{c}"), empty)
            return F.when(
                is_matched,
                F.array_sort(F.array_except(F.array_union(base, add), rem)),
            ).otherwise(F.array_sort(F.array_except(add, rem)))

        new_val = {
            c: (_patched(c) if c in pc else F.col(f"s.{c}"))
            for c in val_cols
        }
    elif update_mode == "replace":
        new_val = {c: F.col(f"s.{c}") for c in val_cols}
    elif update_mode == "partial":
        # column-level CDC: handled entirely inside the lsn-gated assembly
        # below (per-column version-vector resolution, not a whole-row win)
        if lsn_col is None:
            raise ValueError("update_mode='partial' requires lsn_col")
        if sum_cols:
            raise ValueError("sum_cols is not supported with update_mode='partial'")
        for need in (HIDDEN_COLV, HIDDEN_DLSN):
            if need not in data_cols:
                raise ValueError(
                    "update_mode='partial' requires the table to carry the "
                    f"hidden {HIDDEN_COLV}/{HIDDEN_DLSN} columns (create it "
                    "via CdcPipeline(update_mode='partial')) and the source "
                    "to be pre-folded with operators.lww.lww_fold_partial"
                )
        new_val = {c: F.col(f"s.{c}") for c in val_cols}  # placeholder; unused
    else:
        raise ValueError(f"unknown update_mode {update_mode!r}")
    # sum-accumulate numeric columns on match (the painless script's generality
    # over params.entrySet(): arrays union, counters ADD — ref: aggregator/
    # src/main/resources/append-fields.json iterates every param field). The
    # engine owns running totals; callers no longer re-derive them with a
    # second pass over the log.
    for c in acc_cols:
        if c not in val_cols:
            raise ValueError(f"sum_cols entry {c!r} is not a payload column")
        new_val[c] = F.when(
            is_matched,
            F.coalesce(F.col(f"t.{c}"), F.lit(0)) + F.coalesce(F.col(f"s.{c}"), F.lit(0)),
        ).otherwise(F.col(f"s.{c}"))

    old_struct = F.struct(*[F.col(f"t.{c}").alias(c) for c in val_cols])
    new_struct = F.struct(*[new_val[c].alias(c) for c in val_cols])
    changed = ~old_struct.eqNullSafe(new_struct)

    out_key = [
        F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k) for k in key_cols
    ]
    field_types = {f.name: f.dataType for f in new_schema.fields}

    if lsn_col is not None and update_mode == "partial":
        # -- column-level CDC resolution --------------------------------
        # Each payload column is an independent LWW register versioned by
        # the LSN of the event that last SET it (the per-column version
        # vector in the hidden map `_colv`), with one shared delete barrier
        # (`_dlsn`, the highest delete LSN ever observed for the key): a
        # column assignment exists only if it is newer than every delete.
        # This is what makes sparse-after-image apply correct under
        # OUT-OF-ORDER batches — a row-level LSN gate would drop a late-
        # arriving old assignment to a column no newer event ever set, and
        # would let a redelivered old assignment overwrite a newer one.
        NEG = F.lit(_MIN_LSN)
        s_only = F.col("__s").isNotNull() & F.col("__t").isNull()
        t_deleted = F.coalesce(F.col(f"t.{HIDDEN_DELETED}"), F.lit(False))
        t_lsn_raw = F.col(f"t.{HIDDEN_LSN}")
        s_lsn_raw = F.col(f"s.{HIDDEN_LSN}")
        t_lsn = F.coalesce(t_lsn_raw, NEG)
        s_lsn = F.coalesce(s_lsn_raw, NEG)
        s_dlsn = F.coalesce(F.col(f"s.{HIDDEN_DLSN}"), NEG)
        # the target's effective barrier: its persisted barrier, advanced to
        # its row LSN while tombstoned (the tombstone IS a delete memory)
        t_barrier = F.greatest(
            F.coalesce(F.col(f"t.{HIDDEN_DLSN}"), NEG),
            F.when(t_deleted, t_lsn).otherwise(NEG),
        )
        new_barrier = F.greatest(s_dlsn, t_barrier)
        # row liveness: the newest surviving upsert vs the newest delete —
        # LSNs are a total order per key, so strict compare decides
        live_upsert = F.greatest(
            F.when(F.col("__s").isNotNull() & ~is_delete, s_lsn).otherwise(NEG),
            F.when(F.col("__t").isNotNull() & ~t_deleted, t_lsn).otherwise(NEG),
        )
        new_deleted = new_barrier > live_upsert

        p_val: dict[str, F.Column] = {}
        p_lsn: dict[str, F.Column] = {}
        for c in val_cols:
            tl = F.try_element_at(F.col(f"t.{HIDDEN_COLV}"), F.lit(c))
            sl = F.try_element_at(F.col(f"s.{HIDDEN_COLV}"), F.lit(c))
            valid_t = tl.isNotNull() & (tl > s_dlsn)
            valid_s = sl.isNotNull() & (sl > t_barrier)
            use_src = valid_s & (~valid_t | (sl > tl))
            p_val[c] = F.when(use_src, F.col(f"s.{c}")).when(
                valid_t, F.col(f"t.{c}")
            )
            p_lsn[c] = F.when(use_src, sl).when(valid_t, tl)

        old_struct_p = F.struct(*[F.col(f"t.{c}").alias(c) for c in val_cols])
        new_struct_p = F.struct(*[p_val[c].alias(c) for c in val_cols])
        changed_p = ~old_struct_p.eqNullSafe(new_struct_p)

        action = (
            F.when(s_only & is_delete, F.lit("delete_missing"))
            .when(s_only, F.lit("inserted"))
            .when(is_matched & new_deleted & ~t_deleted, F.lit("deleted"))
            .when(is_matched & new_deleted, F.lit("noop"))
            .when(is_matched & (t_deleted | changed_p), F.lit("updated"))
            .when(is_matched & (s_lsn > t_lsn), F.lit("noop"))
            .when(is_matched, F.lit("stale"))
            .otherwise(F.lit("carried"))
        )
        colv_entries = [
            F.struct(F.lit(c).alias("key"), p_lsn[c].alias("value"))
            for c in val_cols
        ]
        new_colv = F.map_from_entries(
            F.filter(F.array(*colv_entries), lambda e: e["value"].isNotNull())
        )
        out_val = [
            F.when(new_deleted, F.lit(None).cast(field_types[c]))
            .otherwise(p_val[c])
            .alias(c)
            for c in val_cols
        ] + [
            F.greatest(t_lsn, s_lsn).alias(HIDDEN_LSN),
            new_deleted.alias(HIDDEN_DELETED),
            F.when(new_deleted, F.lit(None).cast(field_types[HIDDEN_COLV]))
            .otherwise(new_colv)
            .alias(HIDDEN_COLV),
            F.when(new_barrier > NEG, new_barrier).alias(HIDDEN_DLSN),
        ]
        result = (
            joined.select(*out_key, *out_val, action.alias(ACTION_COL))
            .withColumn(BUCKET_COL, bucket_expr(key_cols, m.num_buckets))
        )
    elif lsn_col is not None:
        s_only = F.col("__s").isNotNull() & F.col("__t").isNull()
        t_deleted = F.coalesce(F.col(f"t.{HIDDEN_DELETED}"), F.lit(False))
        fresh = is_matched & (
            F.col(f"s.{HIDDEN_LSN}")
            > F.coalesce(F.col(f"t.{HIDDEN_LSN}"), F.lit(_MIN_LSN))
        )
        use_s = fresh | s_only
        action = (
            F.when(s_only & is_delete, F.lit("delete_missing"))
            .when(s_only, F.lit("inserted"))
            .when(is_matched & ~fresh, F.lit("stale"))
            .when(fresh & is_delete & t_deleted, F.lit("noop"))
            .when(fresh & is_delete, F.lit("deleted"))
            .when(fresh & (t_deleted | changed), F.lit("updated"))
            .when(fresh, F.lit("noop"))
            .otherwise(F.lit("carried"))
        )
        out_val = [
            F.when(use_s & is_delete, F.lit(None).cast(field_types[c]))
            .when(use_s, new_val[c])
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
            for c in val_cols
        ] + [
            F.when(use_s, F.col(f"s.{HIDDEN_LSN}"))
            .otherwise(F.col(f"t.{HIDDEN_LSN}"))
            .alias(HIDDEN_LSN),
            F.when(use_s, is_delete).otherwise(t_deleted).alias(HIDDEN_DELETED),
        ]
        if HIDDEN_COLV in data_cols:
            # whole-row merge on a COLUMN-level (partial-mode) table — the DML
            # path (delete_where/update_where) and any mixed full-after-image
            # feed land here. Keep the per-column registers coherent: a row
            # replaced at LSN L states EVERY column at L (a later sparse event
            # older than L must lose those columns), and a delete advances the
            # persisted barrier so pre-delete sparse assignments stay dead.
            full_map = F.map_from_arrays(
                F.array(*[F.lit(c) for c in val_cols]),
                F.array_repeat(
                    F.col(f"s.{HIDDEN_LSN}").cast("long"), len(val_cols)
                ),
            )
            out_val += [
                F.when(
                    use_s & is_delete,
                    F.lit(None).cast(field_types[HIDDEN_COLV]),
                )
                .when(use_s, full_map)
                .otherwise(F.col(f"t.{HIDDEN_COLV}"))
                .alias(HIDDEN_COLV),
                F.when(
                    use_s & is_delete,
                    F.greatest(
                        F.coalesce(F.col(f"t.{HIDDEN_DLSN}"), F.lit(_MIN_LSN)),
                        F.col(f"s.{HIDDEN_LSN}"),
                    ),
                )
                .otherwise(F.col(f"t.{HIDDEN_DLSN}"))
                .alias(HIDDEN_DLSN),
            ]
        result = (
            joined.select(*out_key, *out_val, action.alias(ACTION_COL))
            .withColumn(BUCKET_COL, bucket_expr(key_cols, m.num_buckets))
        )
    else:
        action = (
            F.when(is_matched & is_delete, F.lit("deleted"))
            .when(is_matched & changed, F.lit("updated"))
            .when(is_matched, F.lit("noop"))
            .when(F.col("__s").isNotNull() & ~is_delete, F.lit("inserted"))
            .when(F.col("__s").isNotNull(), F.lit("delete_missing"))
            .otherwise(F.lit("carried"))
        )
        out_val = [
            F.when(
                F.col(ACTION_COL).isin("updated", "inserted"), new_val[c]
            ).otherwise(F.col(f"t.{c}")).alias(c)
            for c in val_cols
        ]
        result = (
            joined.withColumn(ACTION_COL, action)
            .select(*out_key, *out_val, F.col(ACTION_COL))
            .withColumn(BUCKET_COL, bucket_expr(key_cols, m.num_buckets))
        )
    # downstream change publication (ref: aggregator publishIds routes only
    # updated-not-noop ids to SNS, ConceptsAggregator.scala:120-124 +
    # TopicPublisher.scala:23-58) — here an appended outbox table partition the
    # next pipeline stage reads. Needs the per-row actions twice (outbox + main
    # write), so the merge result is cached only when the outbox is enabled.
    obs_x = None
    if observe_aggs:
        from pyspark.sql import Observation

        obs_x = Observation()
        named = [c.alias(n) for n, c in observe_aggs.items()]
        result = result.observe(obs_x, named[0], *named[1:])

    cached = None
    if changes_table is not None:
        result = cached = result.persist()

    try:
        stats = MergeStats(version=m.version + 1)
        if lsn_col is not None:
            # tombstones persist (LSN memory survives the delete); readers
            # filter them — so EVERY result row lands in the staged files, and
            # exact per-(bucket, action) lineage counts fall out of the write
            # itself: one 1-or-NULL tinyint indicator column per action rides
            # the staged parquet (RLE ≈ free, invisible to readers — reads use
            # the manifest schema), and the counts are recovered from the
            # footer null_counts the stat phase opens anyway. Zero observation
            # aggregates — the previous design's touched_buckets × 7 observe
            # metrics made Catalyst analysis the dominant per-batch cost
            # (measured at sf0.1/16 buckets: ~5 s/batch with the observation
            # vs ~2.3 s without; agg STYLE didn't matter, metric COUNT did).
            ind_cols = [f"__m_{a}" for a in _ACTIONS]
            keep = result.select(
                *data_cols,
                *[
                    F.when(F.col(ACTION_COL) == a, F.lit(1).cast("tinyint"))
                    .alias(f"__m_{a}")
                    for a in _ACTIONS
                ],
            )
            new_files, ind_counts = table.write_data_files(
                keep, _with_schemas(m, schemas), schema_id,
                metric_cols=ind_cols,
            )
            metrics = {
                f"c_{b}_{c[4:]}": n for (b, c), n in ind_counts.items()
            }
        else:
            # plain mode physically drops delete rows from the write, so their
            # counts cannot come from the staged files — keep a (small) packed
            # count_if observation for this path; it is not the CDC hot path
            from pyspark.sql import Observation

            n_act = len(_ACTIONS)
            act_pos = F.array_position(
                F.array(*[F.lit(a) for a in _ACTIONS]), F.col(ACTION_COL)
            )
            result = result.withColumn(
                "__mcode", (F.col(BUCKET_COL) * n_act + (act_pos - 1)).cast("long")
            )
            obs = Observation()
            count_aggs = [
                # coalesce: aggregates over an empty merge result yield NULL
                # and Observation.get cannot convert null metric rows
                F.coalesce(
                    F.count_if(F.col("__mcode") == (b * n_act + ai)), F.lit(0)
                ).alias(f"c_{b}_{_ACTIONS[ai]}")
                for b in touched_buckets
                for ai in range(n_act)
            ] or [F.count(F.lit(1)).alias("c_none")]
            result = result.observe(obs, count_aggs[0], *count_aggs[1:])
            keep = result.filter(
                ~F.col(ACTION_COL).isin("deleted", "delete_missing")
            ).select(*data_cols)
            new_files = table.write_data_files(
                keep, _with_schemas(m, schemas), schema_id
            )
            try:
                metrics = obs.get
            except Exception:
                # Spark quirk: observe + repartition + EMPTY result + AQE
                # loses the metrics row (verified: non-empty or AQE-off is
                # fine). The only reachable empty-result case here is
                # all-invalid events against never-written buckets — every
                # count is zero.
                metrics = {}

        per_bucket: dict[int, dict] = {}
        for b in touched_buckets:
            pb = {"bucket": b, "inserted": 0, "updated": 0, "deleted": 0,
                  "noop": 0, "stale": 0, "carried": 0, "delete_missing": 0}
            any_n = 0
            for a in _ACTIONS:
                n = int(metrics.get(f"c_{b}_{a}") or 0)
                pb[a] = n
                any_n += n
                setattr(stats, a, getattr(stats, a) + n)
            if any_n:
                per_bucket[b] = pb
        stats.by_bucket = [per_bucket[b] for b in sorted(per_bucket)]
        stats.touched_buckets = len(touched_buckets)
        stats.touched_files = len(touched_files)

        if obs_x is not None:
            try:
                stats.observed = dict(obs_x.get)
            except Exception:
                stats.observed = None  # lost metrics row — caller falls back

        table.commit(
            m,
            passthrough_files + new_files,
            schema_json=schema_json,
            schemas=schemas,
            fence_token=fence_token,
            properties=new_props,
            summary={
                "operation": "merge",
                "inserted": stats.inserted,
                "updated": stats.updated,
                "deleted": stats.deleted,
                "noop": stats.noop,
                "carried": stats.carried,
                "touched_buckets": stats.touched_buckets,
            },
        )

        # Outbox AFTER the target commit: a CommitConflict on the TARGET means
        # no outbox row is ever written for the losing attempt (the retry
        # recomputes both against the winner's snapshot), and the remaining
        # crash window (commit landed, outbox didn't) is closed by the fenced
        # hole marker on replay — see the fence-skip branch at the top.
        #
        # The outbox append gets its OWN retry loop: letting its
        # CommitConflict escape to merge_into's wrapper would re-enter the
        # whole merge, hit the (now-present) target fence, and degrade the
        # still-recomputable diff into a spurious hole marker while suppressing
        # the batch's lineage row (skipped=True). Here the diff rows are still
        # at hand — re-append against the outbox's new snapshot. On retry
        # exhaustion raise OutboxAppendError (NOT CommitConflict) so the
        # wrapper can't silently convert this healthy applied merge into a
        # hole marker + skipped stats: the caller sees a distinct, retryable
        # failure while the target commit stands.
        if changes_table is not None:
            from .table import CommitConflict

            changed_keys = result.filter(
                F.col(ACTION_COL).isin("inserted", "updated", "deleted")
            ).select(
                *key_cols,
                F.col(ACTION_COL).alias("action"),
                F.lit(fence_token).alias("fence_token"),
            )
            for attempt in range(4):
                try:
                    changes_table.append(
                        changed_keys,
                        fence_token=f"{fence_token}:c" if fence_token else None,
                    )
                    break
                except CommitConflict as e:
                    if attempt == 3:
                        raise OutboxAppendError(
                            f"outbox append for fence {fence_token!r} lost "
                            "the commit race 4 times; target merge IS "
                            "committed — re-run to land the outbox rows (the "
                            "fence-skip branch writes them or a hole marker)"
                        ) from e
    finally:
        if src_persisted:
            src.unpersist()
        if cached is not None:
            cached.unpersist()
    stats.wall_ms = int((time.time() - t0) * 1000)
    return stats


def _with_schemas(m: Manifest, schemas: dict[str, str]) -> Manifest:
    out = Manifest.from_json(m.to_json())
    out.schemas = schemas
    return out


# ---------------------------------------------------------------------------
# merge-on-read: append LWW'd deltas, resolve at read, fold via compaction
# ---------------------------------------------------------------------------
#
# Copy-on-write rewrites every touched bucket per batch — write amplification is
# table_size/batch_size when key-touch is uniform. MoR writes ONLY the batch
# (as bucketed delta files carrying the hidden _lsn/_deleted columns) and defers
# the merge: the read is one more LWW over base∪delta (identical total order),
# and compaction folds a bucket back to a single base generation when its delta
# count crosses a threshold. This is Iceberg's MoR/compaction shape re-expressed
# on the LWW engine — same FINAL_STATE oracle, a fraction of the write volume.

def _mor_append(
    table: LakeTable,
    m: Manifest,
    src,
    new_schema: StructType,
    schema_json: str,
    schemas: dict[str, str],
    schema_id: int,
    op_col: str,
    fence_token: str | None,
    t0: float,
    new_props: dict | None = None,
) -> MergeStats:
    data_cols = [f.name for f in new_schema.fields]
    val_cols = [
        c for c in data_cols
        if c not in m.key_cols and c not in ALL_HIDDEN
    ]
    field_types = {f.name: f.dataType for f in new_schema.fields}
    # tombstones carry no payload (matches the CoW delete arm)
    extra_hidden = []
    if HIDDEN_COLV in data_cols:
        # partial-mode delta: the register map rides the delta row (nulled on
        # tombstones, like payload) but the delete BARRIER must persist —
        # read-side register resolution folds it into B. A LIVE delta row
        # WITHOUT a register map is a whole-row statement (replace-mode
        # source on a register table — snapshot sync, DML): it states every
        # column at its row LSN, so synthesize the full map here; otherwise
        # the read-side fold would see no assignments and lose the values.
        full_map = F.map_from_arrays(
            F.array(*[F.lit(c) for c in val_cols]),
            F.array_repeat(F.col(HIDDEN_LSN).cast("long"), len(val_cols)),
        )
        extra_hidden = [
            F.when(
                F.col(HIDDEN_DELETED),
                F.lit(None).cast(field_types[HIDDEN_COLV]),
            )
            .otherwise(F.coalesce(F.col(HIDDEN_COLV), full_map))
            .alias(HIDDEN_COLV),
            F.col(HIDDEN_DLSN),
        ]
    keep = src.select(
        *m.key_cols,
        *[
            F.when(F.col(HIDDEN_DELETED), F.lit(None).cast(field_types[c]))
            .otherwise(F.col(c))
            .alias(c)
            for c in val_cols
        ],
        F.col(HIDDEN_LSN),
        F.col(HIDDEN_DELETED),
        *extra_hidden,
    )
    new_files = table.write_data_files(
        keep, _with_schemas(m, schemas), schema_id, kind="delta"
    )
    stats = MergeStats(version=m.version + 1)
    stats.by_bucket = [
        {"bucket": f.bucket, "inserted": 0, "updated": 0, "deleted": 0,
         "noop": 0, "stale": 0, "carried": 0, "delete_missing": 0,
         "delta_rows": f.rows}
        for f in sorted(new_files, key=lambda f: f.bucket)
    ]
    stats.updated = sum(f.rows for f in new_files)  # rows applied as deltas
    stats.touched_buckets = len({f.bucket for f in new_files})
    table.commit(
        m,
        m.files + new_files,
        schema_json=schema_json,
        schemas=schemas,
        fence_token=fence_token,
        properties=new_props,
        summary={
            "operation": "merge-mor",
            "delta_rows": stats.updated,
            "delta_files": len(new_files),
        },
    )
    stats.wall_ms = int((time.time() - t0) * 1000)
    return stats


def resolve_rows(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """ONE MoR read-resolution helper for the whole engine: whole-row LWW by
    hidden ``_lsn`` — or, when the rows carry the ``_colv`` register map
    (column-level / partial-mode tables), the per-column register fold
    (operators.lww.lww_fold_registers; associative, so delta-subset
    consolidation composes). Every site that folds base∪delta rows
    (read_merged, compact, compact_tiered, point lookups, pruned reads) goes
    through here so the two disciplines can never drift."""
    if HIDDEN_COLV in df.columns:
        from ..operators.lww import lww_fold_registers

        val_cols = [
            c for c in df.columns
            if c not in key_cols and c not in ALL_HIDDEN
        ]
        return lww_fold_registers(df, key_cols, val_cols)
    from ..operators.lww import lww_latest

    return lww_latest(df, key_cols, lsn_col=HIDDEN_LSN, op_col=None)


def read_merged(spark: SparkSession, table: LakeTable, version: int | None = None):
    """Snapshot read with MoR resolution: LWW by hidden _lsn over base∪delta.

    Buckets without deltas short-circuit (no aggregation); tombstones are KEPT
    (callers filter, same contract as the CoW read path)."""
    m = table.manifest(version)
    return table._read_files_resolved(spark, m, m.files)


def rescale_buckets(
    spark: SparkSession,
    table: LakeTable,
    new_num_buckets: int,
) -> Manifest:
    """Rewrite the table under a new bucket count — the answer to "would the
    partition strategy hold at 1000×?": as the key space grows, the bucket
    count evolves in one atomic commit (readers keep snapshot isolation; the
    swap is the same optimistic manifest commit as every other write). MoR
    deltas are LWW-resolved into the new base generation as part of the rewrite."""
    if new_num_buckets < 1:
        raise ValueError("new_num_buckets must be >= 1")
    m = table.manifest()
    if new_num_buckets == m.num_buckets:
        return m
    merged = read_merged(spark, table)
    new_base = Manifest.from_json(m.to_json())
    new_base.num_buckets = new_num_buckets
    sid = table._current_schema_id(new_base)
    files = table.write_data_files(merged, new_base, sid, kind="base")
    # new_base carries the new bucket count; commit() stamps committed_at_ms,
    # which version_as_of needs to place this snapshot in time
    return table.commit(
        new_base, files,
        summary={"operation": "rescale", "from": m.num_buckets,
                 "to": new_num_buckets, "rows": sum(f.rows for f in files)},
    )


def read_for_keys_df(
    spark: SparkSession,
    table: LakeTable,
    keys_df,
    version: int | None = None,
):
    """Set-oriented batched lookup: ``read_for_keys`` with the probe set as a
    DATAFRAME — nothing key-shaped ever lands on the driver, so the probe set
    can be as large as an index answer (millions of doc ids at 100 TB).

    Pruning: the probes' bucket ids are collected (bounded by num_buckets —
    metadata, not keys), files outside those buckets are never read, and the
    surviving files semi-join against the broadcast probe frame. Per-file
    min/max stat pruning needs driver-side key values and is deliberately
    skipped here — bucket pruning alone bounds the read, and the semi-join
    discards non-matches before any downstream work."""
    m = table.manifest(version)
    probe = keys_df.select(*m.key_cols).distinct()
    buckets = {
        int(r[0])
        for r in probe.select(
            bucket_expr(m.key_cols, m.num_buckets)
        ).distinct().collect()
    }
    files = [f for f in m.files if f.bucket in buckets or f.bucket == -1]
    if not files:
        return spark.createDataFrame([], m.schema)
    df = table._read_files(spark, m, files).join(
        F.broadcast(probe), on=list(m.key_cols), how="left_semi"
    )
    if any(f.kind == "delta" for f in files):
        df = resolve_rows(df, m.key_cols)
    return df


def read_for_keys(
    spark: SparkSession,
    table: LakeTable,
    keys: list,
    version: int | None = None,
):
    """Batched point lookup (the reference's `_mget`, recorder/MultiGetFlow.scala:
    20-53, done with storage statistics): prune to the buckets the keys hash to,
    then drop files whose [min_key, max_key] range excludes every key — only the
    surviving files are scanned, with a residual IN filter. MoR deltas in the
    touched buckets are LWW-resolved.

    Probe keys are routed on the driver (``bucket_of``, the exact twin of
    ``bucket_expr``), so planning the lookup runs no Spark job: on a table
    without deltas the lookup is the one job that reads the surviving files.
    Key types the twin does not cover (float, double, decimal, binary,
    timestamp) are routed by one extra Spark job over the probe keys."""
    m = table.manifest(version)
    if not keys:
        return spark.createDataFrame([], m.schema)

    # Coerce probe values into each key column's native domain up front:
    # before typed stats, both sides were stringified, so callers passing
    # '42' against a bigint key silently worked — now that stats compare in
    # the column's domain, an uncoerced str-vs-int comparison would raise
    # mid-prune. Parseable values are converted; garbage, and integers outside
    # the column's range, get a clear error naming the column instead of a
    # TypeError from a stat comparison or a struct.error from bucket routing.
    def _coerce_probe(v, col):
        dt = m.schema[col].dataType
        try:
            if isinstance(dt, StringType):
                return v if isinstance(v, str) else str(v)
            bits = _INT_BITS.get(type(dt))
            if bits:
                n = v if isinstance(v, int) and not isinstance(v, bool) else int(v)
                if not -(1 << (bits - 1)) <= n < 1 << (bits - 1):
                    raise ValueError(f"outside the {bits}-bit range")
                return n
            if isinstance(dt, (FloatType, DoubleType)):
                return v if isinstance(v, float) else float(v)
            if v is not None and (
                isinstance(dt, BooleanType) and not isinstance(v, bool)
                or isinstance(dt, DateType) and not isinstance(v, datetime.date)
            ):
                raise TypeError(type(v).__name__)
        except (TypeError, ValueError) as e:
            raise ValueError(
                f"probe value {v!r} is not coercible to key column "
                f"{col!r} ({dt.simpleString()})"
            ) from e
        return v

    multi = len(m.key_cols) > 1
    if multi:
        # composite key: each probe is a tuple over ALL key columns (a scalar
        # probes only a prefix and would hash to the wrong bucket)
        bad = [k for k in keys if not isinstance(k, (tuple, list))
               or len(k) != len(m.key_cols)]
        if bad:
            raise ValueError(
                f"composite-key table {m.key_cols} requires full key tuples, "
                f"got {bad[:3]!r}"
            )
        keys = [
            tuple(_coerce_probe(v, c) for v, c in zip(k, m.key_cols))
            for k in keys
        ]
        probes = keys
    else:
        keys = [_coerce_probe(k, m.key_cols[0]) for k in keys]
        probes = [(k,) for k in keys]
    key_types = [m.schema[c].dataType for c in m.key_cols]

    def probe_df() -> DataFrame:
        return spark.createDataFrame(probes, ", ".join(
            f"{c} {dt.simpleString()}" for c, dt in zip(m.key_cols, key_types)
        ))

    buckets = {bucket_of(k, key_types, m.num_buckets) for k in probes}
    if None in buckets:  # a key type without a driver-side twin
        buckets = {
            int(r[0])
            for r in probe_df().select(
                bucket_expr(m.key_cols, m.num_buckets)
            ).collect()
        }
    # Manifest min/max stats cover the FIRST key column, kept in their native
    # domain (str for string stats, int/float for numeric — _parquet_stats).
    # A file is range-prunable only when its stat type matches the key column's
    # comparison domain; cross-domain comparison (e.g. lexicographic order on
    # stringified numbers: '99' > '100') silently drops matching rows, so any
    # mismatch — including stats from pre-typed-stats manifests — falls back
    # to bucket pruning only for that file.
    key0 = m.key_cols[0]
    key_dt = m.schema[key0].dataType
    if isinstance(key_dt, StringType):
        stat_domain: type | tuple = str
    elif isinstance(key_dt, (*_INT_BITS, FloatType, DoubleType)):
        stat_domain = (int, float)
    else:
        stat_domain = ()  # no sound stat comparison for this key type
    first_vals = [k[0] if multi else k for k in keys]
    cmp_keys = sorted(
        str(k) for k in first_vals
    ) if stat_domain is str else sorted(first_vals)
    lo, hi = cmp_keys[0], cmp_keys[-1]

    def file_may_contain(f: DataFileEntry) -> bool:
        if f.bucket != -1 and f.bucket not in buckets:
            return False  # -1 = driver-side append spanning all buckets
        if (
            not stat_domain
            or not isinstance(f.min_key, stat_domain)
            or not isinstance(f.max_key, stat_domain)
            or isinstance(f.min_key, bool)
        ):
            return True  # no usable stats in the key's domain → must read
        return not (f.max_key < lo or f.min_key > hi) and any(
            f.min_key <= k <= f.max_key for k in cmp_keys
        )

    files = [f for f in m.files if file_may_contain(f)]
    if not files:
        return spark.createDataFrame([], m.schema)
    base_df = table._read_files(spark, m, files)
    # Two probe regimes. SMALL lists become a scan predicate (pushable to
    # parquet row-group stats — the true point-lookup path). LARGE lists —
    # e.g. an index lookup fanning one token into thousands of posting slots
    # — must NOT become an expression: a multi-key OR-chain is a
    # deeply-nested tree (StackOverflow at ~10^4 keys, seen at sf0.1) and a
    # 10^5-literal IN bloats analysis; a broadcast LEFT SEMI against the
    # probe frame is the scalable shape (one hash join over the pruned
    # files), which is what Spark would rewrite a giant IN into anyway.
    MAX_EXPR_KEYS = 256
    if len(keys) > MAX_EXPR_KEYS:
        df = base_df.join(
            F.broadcast(probe_df()), on=list(m.key_cols), how="left_semi"
        )
    else:
        if multi:
            # an OR of per-tuple conjunctions (isin cannot build struct
            # literals); bounded by MAX_EXPR_KEYS so tree depth stays trivial
            from functools import reduce as _reduce

            residual = _reduce(
                lambda a, b: a | b,
                [
                    _reduce(
                        lambda a, b: a & b,
                        [F.col(c) == F.lit(v) for c, v in zip(m.key_cols, k)],
                    )
                    for k in keys
                ],
            )
        else:
            residual = F.col(key0).isin(list(keys))
        df = base_df.filter(residual)
    if any(f.kind == "delta" for f in files):
        df = resolve_rows(df, m.key_cols)
    return df


def read_appended_since(
    spark: SparkSession,
    table: LakeTable,
    from_version: int,
    to_version: int | None = None,
) -> tuple[DataFrame, int]:
    """Incremental read of an append-only table (changes outbox / lineage):
    rows in data files added strictly after ``from_version`` up to
    ``to_version`` (default: current snapshot). Returns (rows, to_version) —
    the caller persists ``to_version`` as its cursor for exactly-once
    downstream consumption, the engine-side analogue of the reference's SNS
    subscribers (ref: aggregator/TopicPublisher.scala:23-58 — but replayable:
    a crashed consumer re-reads the same version range and gets the same rows).
    """
    m_to = table.manifest(to_version)
    if from_version < 0:
        raise ValueError("from_version must be >= 0")
    if from_version > m_to.version:
        raise ValueError(
            f"from_version {from_version} is newer than snapshot {m_to.version}"
        )
    seen = {f.path for f in table.manifest(from_version).files}
    new_files = [f for f in m_to.files if f.path not in seen]
    return table._read_files(spark, m_to, new_files), m_to.version


# lost manifest races a compaction re-plans through before it gives up
_MAINTENANCE_RETRIES = 2


def compact(
    spark: SparkSession,
    table: LakeTable,
    max_delta_files_per_bucket: int = 4,
) -> int:
    """Fold buckets whose delta-file count exceeds the threshold back to a single
    base generation. Idempotent; concurrent writers are protected by the
    optimistic manifest commit, and a lost CAS race re-plans against the
    winner's manifest (same discipline as merge_into — a concurrent DML or
    view-refresh commit landing mid-compaction must not surface as an error
    for maintenance work). Returns the number of compacted buckets."""
    from .table import CommitConflict

    attempt = 0
    while True:
        m = table.manifest()
        per_bucket: dict[int, int] = {}
        for f in m.files:
            if f.kind == "delta":
                per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
        targets = {b for b, n in per_bucket.items() if n > max_delta_files_per_bucket}
        if not targets:
            return 0
        victim_files = [f for f in m.files if f.bucket in targets]
        keep_files = [f for f in m.files if f.bucket not in targets]
        resolved = resolve_rows(
            table._read_files(spark, m, victim_files), m.key_cols
        )
        sid = table._current_schema_id(m)
        new_files = table.write_data_files(resolved, m, sid, kind="base")
        try:
            table.commit(
                m,
                keep_files + new_files,
                summary={
                    "operation": "compact",
                    "buckets": sorted(targets),
                    "files_removed": len(victim_files),
                    "files_added": len(new_files),
                },
            )
        except CommitConflict:
            if attempt >= _MAINTENANCE_RETRIES:
                raise
            attempt += 1
            continue
        return len(targets)


def compact_tiered(
    spark: SparkSession,
    table: LakeTable,
    fanout: int = 4,
) -> dict:
    """Size-tiered MoR maintenance (LSM/STCS discipline) — the scale-safe
    replacement for :func:`compact`'s fixed-count trigger.

    Why: with a fixed delta-COUNT threshold, a steady batch cadence trips
    every bucket every ``threshold+1`` batches and :func:`compact` rewrites
    the bucket's FULL base each time — amortized per-batch write cost grows
    linearly with table size, i.e. O(table²) total I/O over a long replay
    (measured by ``tools/scale_bench.py --scenario endurance``: compaction
    spikes 15.7s → 38.0s → 52.9s as the table grew under constant 1M-event
    batches). Two-level policy instead:

    - **consolidate**: within a bucket, group delta files into size tiers
      (``tier = floor(log_fanout(rows))``); any tier holding > ``fanout``
      files merges into ONE delta (LWW among themselves — associative, so
      read-time base∪delta resolution is unchanged). Cost is O(the pile),
      never O(bucket); each byte is rewritten O(log_fanout(base/batch))
      times total.
    - **full fold**: only when a bucket's accumulated delta rows reach its
      base rows does the base get rewritten —
      by then the rewrite is proportional to the new bytes absorbed, so
      base rewrites are amortized O(1) per ingested byte.

    Trade vs :func:`compact`: a bucket carries up to ``fanout`` files per
    tier (O(fanout·log) read fan-in, still bounded) instead of ≤ threshold.
    Tombstones are retained in consolidated deltas AND folded bases (stale
    redeliveries must stay dead), identical to :func:`compact`.

    All selected buckets are processed in at most TWO Spark jobs (one write
    for every consolidation, one for every fold — rows can't cross buckets,
    so one bucket-partitioned write resolves each bucket independently) and
    ONE manifest commit. Idempotent; a CAS loss re-plans against the winner.

    Returns ``{"consolidated": [buckets], "folded": [buckets]}``.
    """
    import math

    from .table import CommitConflict

    fanout = max(fanout, 2)  # log-base of the tier function
    attempt = 0
    while True:
        m = table.manifest()
        base_rows: dict[int, int] = {}
        deltas: dict[int, list[DataFileEntry]] = {}
        for f in m.files:
            if f.kind == "delta":
                deltas.setdefault(f.bucket, []).append(f)
            else:
                base_rows[f.bucket] = base_rows.get(f.bucket, 0) + f.rows

        fold_buckets: set[int] = set()
        consolidate: dict[int, list[DataFileEntry]] = {}
        for b, pile in deltas.items():
            drows = sum(f.rows for f in pile)
            brows = base_rows.get(b, 0)
            # the empty-base arm requires a pile deeper than the fanout so a
            # lone fresh delta is not re-folded every batch while tiny
            if drows >= brows and (
                brows > 0 or len(pile) > fanout
            ):
                fold_buckets.add(b)
                continue
            tiers: dict[int, list[DataFileEntry]] = {}
            for f in pile:
                t = int(math.log(max(f.rows, 1) + 1, fanout))
                tiers.setdefault(t, []).append(f)
            picked = [f for fs in tiers.values() if len(fs) > fanout for f in fs]
            if picked:
                consolidate[b] = picked

        if not fold_buckets and not consolidate:
            return {"consolidated": [], "folded": []}

        sid = table._current_schema_id(m)
        removed: set[str] = set()
        new_files: list[DataFileEntry] = []
        if consolidate:
            victims = [f for fs in consolidate.values() for f in fs]
            removed.update(f.path for f in victims)
            resolved = resolve_rows(
                table._read_files(spark, m, victims), m.key_cols
            )
            new_files += table.write_data_files(resolved, m, sid, kind="delta")
        if fold_buckets:
            victims = [f for f in m.files if f.bucket in fold_buckets]
            removed.update(f.path for f in victims)
            resolved = resolve_rows(
                table._read_files(spark, m, victims), m.key_cols
            )
            new_files += table.write_data_files(resolved, m, sid, kind="base")
        keep = [f for f in m.files if f.path not in removed]
        try:
            table.commit(
                m,
                keep + new_files,
                summary={
                    "operation": "compact",
                    "mode": "tiered",
                    "buckets": sorted(fold_buckets | set(consolidate)),
                    "files_removed": len(removed),
                    "files_added": len(new_files),
                },
            )
        except CommitConflict:
            if attempt >= _MAINTENANCE_RETRIES:
                raise
            attempt += 1
            continue
        return {
            "consolidated": sorted(consolidate),
            "folded": sorted(fold_buckets),
        }
