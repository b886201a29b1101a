"""Incremental materialized views: exactly-once, resumable delta refresh.

A downstream aggregate over a CDC-maintained base table has two refresh
strategies: recompute from the base (O(table) per refresh — untenable at
100 TB) or consume the base's change feed. This module implements the second
as a first-class engine surface: an :class:`IncrementalAggView` is an
aggregate lake table maintained PURELY from the base's per-commit change
surface (the changed buckets of each commit span, read at both endpoints via
``lake/diff.live_pair``), never by re-reading the whole base.

Exactly-once without a side channel: each applied base span merges into
the view table with fence token ``ivm:<v>``, and the refresh loop is the
shared change-feed follower (``lake/diff.follow``: fence cursor, stepwise or
coalesced spans, re-derive on a lost commit race). Each step's delta merge
is exact: +row at the new snapshot, −row at the old, sum-accumulated via the
merge's ``sum_cols`` (no read-modify-write of the view by the caller).
Because the maintained aggregates are group homomorphisms, the delta needs
NO per-key change classification: unchanged rows cancel in the ± sum, so the
refresh plan is two changed-bucket scans feeding one partial aggregation —
no join, and the only shuffle is the O(groups × partitions) combine (see
``_delta_span``).

Maintenance commits on the base (compaction, bucket rescale, z-order
cluster) produce an empty logical diff — and cost nothing to walk through:
``live_pair``'s maintenance-aware span walk (diff.data_steps)
excludes their all-bucket file churn outright, so a span containing one
reads ZERO buckets instead of the whole table. A base ROLLBACK is
forward-history (it commits a NEW version restoring the old state), so the
view heals through it as an ordinary diff — no special case. For a view
created late over a base with a long history, ``full_refresh()`` bootstraps
in one recompute instead of walking every historical version, and sets the
cursor to the base's current version.

Delta-able aggregates only (count/sum — anything expressible as a group
homomorphism over +row/−row). Min/max are NOT delta-able under deletes by
design; use the recompute path for those. Sums IGNORE NULLs and report 0 for
a group with no non-null values (COUNT-like semantics on both the delta and
recompute paths — a NULL-able sum cannot round-trip through ± deltas).

Scale: each refresh step costs O(changed buckets of that commit) for the diff
plus one merge into the (small) view table; a consumer that falls N commits
behind pays the N diffs, never a base scan.

ref: the reference's downstream consumers re-read the whole ES index or
listen to an id-only topic (aggregator/.../TopicPublisher.scala:18-33) —
exact incremental maintenance is not expressible there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .diff import follow, live_pair, read_live
from .merge import merge_into
from .table import LakeTable, fence_cursor, visible_fields

FENCE_PREFIX = "ivm:"


class IncrementalAggView:
    """A per-group (count, sums) aggregate over a base lake table, maintained
    incrementally from the base's commit history.

    ``group_cols``: view key = grouping columns of the base payload.
    ``sum_cols``:   {view_column: base_column} sums over base payload columns.
    A ``n_rows`` count column is always maintained.

    ``expand`` generalizes the view from aggregate-over-rows to
    aggregate-over-FLATMAP-of-rows: a deterministic, row-local function
    mapping a DataFrame of base rows to contribution rows (0..n per input
    row) that ``group_cols``/``sum_cols`` then reference. The ± fold stays
    exact because an unchanged base row expands to the identical contribution
    set on both sides of the span and cancels term-by-term in the sum — the
    group-homomorphism argument is untouched. ``expand`` MUST be pure and
    depend only on the row (no corpus context); ``expand_spec`` (a caller
    string identifying the expansion + its parameters) is persisted with the
    spec so reopening with a different expansion is refused, and
    ``group_fields`` supplies the StructFields of group columns the base
    schema cannot describe.
    """

    def __init__(
        self,
        spark: SparkSession,
        base: LakeTable,
        view_path: str,
        group_cols: list[str],
        sum_cols: dict[str, str] | None = None,
        num_buckets: int = 4,
        expand=None,
        expand_spec: str | None = None,
        group_fields: list[StructField] | None = None,
    ):
        import json

        self.spark = spark
        self.base = base
        self.group_cols = list(group_cols)
        self.sum_cols = dict(sum_cols or {})
        self._expand = expand
        if (expand is None) != (expand_spec is None):
            raise ValueError("expand and expand_spec must be given together")
        base_m = base.manifest()
        base_schema = base_m.schema
        self._base_keys = set(base_m.key_cols)
        if expand is None:
            # constructor-time validation: every referenced column must be a
            # VISIBLE base column (hidden engine columns are not aggregatable
            # surfaces), caught here with a clear error instead of an
            # unresolved old_<col> AnalysisException deep inside the first
            # refresh. With expand, columns name the EXPANSION's output — the
            # base schema cannot validate them, group_fields declares them.
            visible = {f.name for f in visible_fields(base_schema)}
            missing = [c for c in self.group_cols if c not in visible]
            missing += [s for s in self.sum_cols.values() if s not in visible]
            if missing:
                raise ValueError(
                    f"view references column(s) {sorted(set(missing))} not in "
                    f"the base table's visible schema {sorted(visible)}"
                )
        clash = (set(self.sum_cols) | {"n_rows"}) & set(self.group_cols)
        if clash:
            raise ValueError(f"output column(s) {sorted(clash)} collide with group columns")
        if expand is None:
            fields = [
                StructField(c, base_schema[c].dataType, True)
                for c in group_cols
            ]
        else:
            by_name = {f.name: f for f in (group_fields or [])}
            missing = [c for c in group_cols if c not in by_name]
            if missing:
                raise ValueError(
                    f"expand views must declare group_fields for {missing}"
                )
            fields = [
                StructField(c, by_name[c].dataType, True) for c in group_cols
            ]
        fields.append(StructField("n_rows", LongType(), True))
        fields += [
            StructField(out, LongType(), True) for out in self.sum_cols
        ]
        self._schema = StructType(fields)
        self._num_buckets = num_buckets
        self._path = view_path
        # the spec is a LOGICAL property of the stored aggregates: reopening
        # with a different grouping or sum mapping would silently fold wrong
        # deltas into existing rows — persist it at create, enforce on reopen
        # (same discipline as TokenIndex.num_shards)
        spec_obj = {"group_cols": self.group_cols, "sum_cols": self.sum_cols}
        if expand_spec is not None:
            spec_obj["expand_spec"] = expand_spec
        spec = json.dumps(spec_obj, sort_keys=True)
        self.table = LakeTable.create(
            view_path,
            self._schema,
            group_cols,
            num_buckets=num_buckets,
            if_not_exists=True,
            properties={"ivm_spec": spec},
        )
        stored = (self.table.manifest().properties or {}).get("ivm_spec")
        if stored is not None and stored != spec:
            raise ValueError(
                f"view at {view_path} was created with spec {stored}, "
                f"reopened with {spec} — refusing to fold mismatched deltas"
            )

    # ------------------------------------------------------------------

    def applied_version(self) -> int:
        """Highest base version already folded into the view (fence state)."""
        return fence_cursor(self.table.manifest(), FENCE_PREFIX)

    def _delta_span(self, from_version: int, to_version: int) -> DataFrame:
        """±contribution rows between two base snapshots, JOIN-FREE.

        The view's aggregates are group homomorphisms over +row/−row (the
        module-docstring restriction), so the delta does NOT need per-key
        change classification: every live row of the span's CHANGED buckets
        contributes (+1, +values) at ``to_version`` and (−1, −values) at
        ``from_version``, and rows identical across the span cancel exactly
        in the sum. That replaces ``snapshot_diff``'s per-key full-outer
        join — a shuffle of every row in the changed buckets — with two
        scans feeding one partial aggregation; the only exchange left is the
        O(groups × partitions) combine. Telescoping over a multi-version
        span is the same statement (intermediate states never appear).
        """
        old, new = live_pair(self.spark, self.base, from_version, to_version)
        if self._expand is not None:
            # a deterministic row-local flatMap commutes with the ± fold:
            # unchanged rows expand identically at both snapshots and cancel
            old, new = self._expand(old), self._expand(new)
        zero = F.lit(0).cast("long")

        def side(df: DataFrame, sign: int) -> DataFrame:
            return df.select(
                *self.group_cols,
                F.lit(sign).cast("long").alias("n_rows"),
                *[
                    # NULL-ignoring sums: a NULL value contributes 0 (see
                    # module docstring — NULL sums cannot round-trip ±)
                    (sign * F.coalesce(F.col(src).cast("long"), zero)).alias(
                        out
                    )
                    for out, src in self.sum_cols.items()
                ],
            )

        agg_cols = ["n_rows", *self.sum_cols]
        net_zero = F.lit(True)
        for c in agg_cols:
            net_zero = net_zero & (F.col(c) == 0)
        return (
            side(new, 1)
            .unionByName(side(old, -1))
            .groupBy(*self.group_cols)
            .agg(*[F.sum(c).alias(c) for c in agg_cols])
            # groups whose changed-bucket rows all cancel would merge as
            # no-op zero rows — drop them before the write
            .filter(~net_zero)
            .withColumn("op", F.lit("U"))
        )

    def refresh(
        self, up_to_version: int | None = None, coalesce: bool = False
    ) -> int:
        """Fold every unapplied base commit into the view, one fenced merge per
        version (resumable: a crash mid-refresh loses nothing; re-running skips
        already-fenced versions). Returns the number of versions applied.

        ``coalesce=True`` folds the whole unapplied span as ONE diff + ONE
        fenced merge: per-commit deltas telescope exactly (the diff of v_a→v_c
        equals the sum of the per-version diffs — intermediate states cancel),
        so a consumer that fell 1000 versions behind pays one diff over the
        span's changed buckets instead of 1000 diffs. Loop and concurrency
        discipline: ``lake/diff.follow``."""
        return follow(
            self.base, self.table, FENCE_PREFIX, self._step,
            up_to_version, coalesce,
        )

    def _step(self, cur: int, nxt: int, fence: str) -> bool:
        # a CLASSIC view table is small by construction (one row per
        # grouping-column combination) — declare every bucket touched so
        # the merge skips its bucket-discovery job (a persist + distinct
        # + collect that would otherwise be the refresh's extra
        # scheduling barrier). An EXPANDED view's group cardinality is
        # unbounded (e.g. one row per distinct window hash) — declaring
        # all buckets touched would rewrite the WHOLE index table on
        # every refresh, O(index) instead of O(delta); let the merge
        # discover the delta's actual buckets instead.
        bucket_kwargs: dict = {}
        if self._expand is None:
            nb = self.table.manifest().num_buckets
            bucket_kwargs = dict(
                touched_buckets=list(range(nb)),
                touched_num_buckets=nb,
            )
        stats = merge_into(
            self.spark,
            self.table,
            self._delta_span(cur, nxt),
            sum_cols=["n_rows", *self.sum_cols],
            fence_token=fence,
            **bucket_kwargs,
        )
        return not stats.skipped

    def read(self) -> DataFrame:
        """The live view: groups whose row count is positive (a group whose
        rows all net away keeps a zero row — sum-accumulate never deletes)."""
        return self.table.read(self.spark).filter(F.col("n_rows") > 0).select(
            *self.group_cols, "n_rows", *self.sum_cols
        )

    def recompute(self, version: int | None = None) -> DataFrame:
        """The declarative spec: full recompute over the base's LIVE rows (for
        bootstrap validation, post-rollback rebuilds, and tests). Uses the
        MoR-resolving reader — a raw ``LakeTable.read`` would double-count
        keys whose base row is shadowed by an uncompacted delta file."""
        df = read_live(self.spark, self.base, self.base.manifest(version))
        if self._expand is not None:
            df = self._expand(df)
        return df.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.coalesce(
                    F.sum(F.col(src).cast("long")), F.lit(0).cast("long")
                ).alias(out)
                for out, src in self.sum_cols.items()
            ],
        )

    def full_refresh(self, version: int | None = None) -> None:
        """Rebuild the view from the base in ONE recompute: bootstrap for a
        view created late over a long base history (refresh() would walk
        every historical version), or a recovery hammer. Implemented as a
        single atomic overwrite commit on the EXISTING view table (readers
        never observe a missing or partial view; the table's snapshot history
        is preserved) carrying fence ``ivm:<current base version>`` — which
        becomes the new cursor, since the cursor is max over fences.

        ``version`` pins the bootstrap at a historical base snapshot (the
        fence becomes ``ivm:<version>``): the view then folds forward from
        there with ``refresh()``. This is the consistent-bootstrap primitive —
        a view created while writers are live snapshots a FIXED version and
        catches up incrementally, never observing a torn in-between state."""
        snap = version if version is not None else self.base.current_version()
        if self.applied_version() > snap:
            raise RuntimeError(
                f"view cursor {self.applied_version()} is ahead of base "
                f"version {snap} — recreate the view at a fresh path"
            )
        rows = self.recompute(version=snap)
        self.table.overwrite(rows, fence_token=f"{FENCE_PREFIX}{snap}")
