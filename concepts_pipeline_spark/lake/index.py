"""Inverted token index — a secondary index over the CDC target's token
arrays, maintained incrementally from the base table's commit history.

"Which documents contain token t?" is unanswerable at 100 TB without an
index: the token arrays are the dominant bytes and a predicate scan decodes
all of them. This module maintains the classic inverted-file answer as a lake
table of SHARDED POSTING LISTS:

    (token int, shard int, doc_ids array<string>)   keyed by (token, shard)

- ``shard = xxhash64(doc_id) % num_shards`` bounds every posting row: a token
  that appears in 10^9 documents becomes ``num_shards`` rows of ~10^9/shards
  ids each, never one unbounded row — and posting updates for one commit
  spread across shards/buckets instead of hammering one key.
- **Adaptive splitting for the Zipf head** (``max_postings``): a fixed shard
  count is wrong for natural-language tokens — a stop word's document
  frequency is orders of magnitude above the median, so ANY static
  ``num_shards`` leaves its posting cells unbounded at scale. When a refresh
  leaves a cell above ``max_postings``, the token's shard space DOUBLES
  (linear-hashing style): per-token extra bits are kept in the manifest
  property ``shard_bits``; slot ``s`` rehashes into ``s`` and
  ``s + num_shards·2^bits`` on one extra hash bit, and the rewritten posting
  rows commit in the SAME atomic manifest swap as the new bits map — routing
  state can never disagree with stored data. Lookups stay point reads
  (``num_shards · 2^bits(token)`` keys); cold tokens stay at 2^0.
- Maintenance is CDF-driven, through the shared change-feed follower
  (``lake/diff.follow``: fence cursor, stepwise or coalesced spans,
  re-derive on a lost commit race): per span, diff with pre-images →
  exploded (token, doc_id) pairs → adds = new∖old, dels = old∖new → ONE
  fenced merge in ``array_patch`` mode (posting := sort(except(union(current,
  adds), dels))). Maintenance commits fold as empty diffs. Cost per commit:
  O(changed docs × tokens/doc), never a base re-scan.
- Lookup is the engine's own stat-pruned point read: the slot keys
  bucket-prune to a handful of files; no scan of the index, let alone the
  base.

The reference has exactly one index shape (ES's own inverted index, built by
the store); here the ENGINE owns the index as a derived table with the same
exactly-once/lineage guarantees as any other target.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .diff import follow, read_live, snapshot_diff
from .merge import merge_into, read_for_keys
from .table import CommitConflict, LakeTable, fence_cursor, retry_on_conflict

FENCE_PREFIX = "tix:"

# a split that fails to shrink a cell past this many doublings means the
# extra-bit hash is degenerate for that token's doc_ids — stop, don't spin
_MAX_EXTRA_BITS = 24


class TokenIndex:
    """Sharded inverted index over an ``array`` column of a CDC lake table."""

    def __init__(
        self,
        spark: SparkSession,
        base: LakeTable,
        index_path: str,
        tokens_col: str = "tokens",
        doc_col: str = "doc_id",
        num_shards: int = 16,
        num_buckets: int = 16,
        max_postings: int | None = None,
    ):
        self.spark = spark
        self.base = base
        self.tokens_col = tokens_col
        self.doc_col = doc_col
        self.max_postings = max_postings
        schema = StructType(
            [
                StructField("token", IntegerType(), False),
                StructField("shard", IntegerType(), False),
                StructField("doc_ids", ArrayType(StringType()), True),
            ]
        )
        self.table = LakeTable.create(
            index_path, schema, ["token", "shard"],
            num_buckets=num_buckets, if_not_exists=True,
            properties={
                "num_shards": num_shards,
                "tokens_col": tokens_col,
                "doc_col": doc_col,
                # lookup-heavy table: key-sorted files give tight row-group
                # token min/max, so a point probe skips row groups
                "sort_on_write": True,
            },
        )
        # shard count is a PHYSICAL property of the stored postings: reopening
        # with a different count would route deletes to the wrong shard row
        # and leave stale pairs behind — always adopt the stored value
        props = self.table.manifest().properties or {}
        stored = props.get("num_shards")
        self.num_shards = int(stored) if stored is not None else num_shards
        # the indexed columns are LOGICAL spec: folding diffs of a different
        # column into existing postings silently corrupts the index — refuse
        for prop, want in (("tokens_col", tokens_col), ("doc_col", doc_col)):
            have = props.get(prop)
            if have is not None and have != want:
                raise ValueError(
                    f"index at {index_path} was created over {prop}={have!r}, "
                    f"reopened with {want!r} — refusing to fold mismatched diffs"
                )
        self._bits = self._load_bits(props)

    # ------------------------------------------------------------------
    # shard routing: base slot from xxhash64(doc), per-token extra bits
    # from an independent hash dimension (so a split re-uses no base bits)
    # ------------------------------------------------------------------

    @staticmethod
    def _load_bits(props: dict) -> dict[int, int]:
        raw = (props or {}).get("shard_bits")
        return {int(k): int(v) for k, v in json.loads(raw).items()} if raw else {}

    def _extra_hash(self, doc):
        return F.xxhash64(doc, F.lit("tix-split"))

    def _nslots_expr(self, token_col, bits: dict[int, int]):
        """token → 2^bits(token) as a column (the Zipf-head map is small —
        a literal map expression, no join in the patch plan)."""
        if not bits:
            return F.lit(1)
        m = F.create_map(
            *[F.lit(x) for kv in bits.items() for x in (int(kv[0]), 1 << int(kv[1]))]
        )
        return F.coalesce(m[token_col], F.lit(1))

    def _shard(self, doc, token_col=None, bits: dict[int, int] | None = None):
        base = F.pmod(F.xxhash64(doc), F.lit(self.num_shards))
        n = self._nslots_expr(
            token_col if token_col is not None else F.col("token"),
            self._bits if bits is None else bits,
        )
        extra = F.pmod(self._extra_hash(doc), n)
        return (base + F.lit(self.num_shards) * extra).cast("int")

    def _slots(self, token: int, bits: int | None = None) -> list[tuple[int, int]]:
        b = self._bits.get(int(token), 0) if bits is None else bits
        return [
            (int(token), base + self.num_shards * e)
            for e in range(1 << b)
            for base in range(self.num_shards)
        ]

    def applied_version(self) -> int:
        return fence_cursor(self.table.manifest(), FENCE_PREFIX)

    def _pairs(self, d: DataFrame, tokens_col: str) -> DataFrame:
        """Distinct (token, doc_id) pairs from a diff side."""
        return (
            d.select(
                F.explode(F.col(tokens_col)).alias("__tok"),
                F.col(self.doc_col).alias("doc_id"),
            )
            .select(F.col("__tok").cast("int").alias("token"), "doc_id")
            .distinct()
        )

    def _patch_expr(self, d: DataFrame) -> DataFrame:
        """(token, shard, add_ids, del_ids) patch from one diff span.

        adds = new∖old and dels = old∖new in ONE (token, doc) aggregation
        over side-tagged raw pairs (no per-side distinct, no subtract — those
        cost 4 shuffles; this costs one, plus the (token, shard) regroup):
        max(side flags) collapses in-array multiplicity, and a token present
        on BOTH sides nets to no patch."""
        new_raw = d.filter(F.col("change_type") != "delete").select(
            F.explode(F.col(self.tokens_col)).alias("token"),
            F.col(self.doc_col).alias("doc_id"),
            F.lit(1).alias("__n"),
            F.lit(0).alias("__o"),
        )
        old_raw = d.filter(F.col("change_type") != "insert").select(
            F.explode(F.col(f"old_{self.tokens_col}")).alias("token"),
            F.col(self.doc_col).alias("doc_id"),
            F.lit(0).alias("__n"),
            F.lit(1).alias("__o"),
        )
        delta = (
            new_raw.unionByName(old_raw)
            .select(F.col("token").cast("int").alias("token"),
                    "doc_id", "__n", "__o")
            .groupBy("token", "doc_id")
            .agg(F.max("__n").alias("__n"), F.max("__o").alias("__o"))
            .filter(F.col("__n") != F.col("__o"))
        )
        return (
            delta.groupBy(
                "token",
                self._shard(F.col("doc_id"), F.col("token")).alias("shard"),
            )
            .agg(
                F.sort_array(
                    F.collect_set(
                        F.when(F.col("__n") > F.col("__o"), F.col("doc_id"))
                    )
                ).alias("add_ids"),
                F.sort_array(
                    F.collect_set(
                        F.when(F.col("__o") > F.col("__n"), F.col("doc_id"))
                    )
                ).alias("del_ids"),
            )
            .withColumn("op", F.lit("U"))
        )

    def refresh(
        self, up_to_version: int | None = None, coalesce: bool = False
    ) -> int:
        """Fold every unapplied base commit into the index — one diff + one
        fenced array_patch merge per version (resumable, exactly-once), then
        split any posting cell the merge pushed past ``max_postings``.

        ``coalesce=True`` folds the whole unapplied span as ONE diff + ONE
        fenced merge (the same telescoping argument as IncrementalAggView:
        the pair delta is NET membership change, old-at-span-start vs
        new-at-span-end, so intermediate churn cancels — a token added then
        removed inside the span patches nothing). Loop and concurrency
        discipline: ``lake/diff.follow``."""
        return follow(
            self.base, self.table, FENCE_PREFIX, self._step,
            up_to_version, coalesce,
        )

    def _step(self, cur: int, nxt: int, fence: str) -> bool:
        # bits may have advanced in another process — adopt the stored map
        self._bits = self._load_bits(self.table.manifest().properties)
        # both sides of the pair union read the diff — persist it so the
        # diff subtree runs once (the merge persists the patch itself)
        d = snapshot_diff(
            self.spark, self.base, cur, nxt, include_old=True
        ).persist()
        # oversize detection rides the merge's own write job (zero extra
        # jobs): when the observed count is 0 the split probe — a full
        # read of every touched bucket's postings — is skipped entirely.
        # coalesce() because count_if over an empty merge result is NULL
        # and Observation.get refuses null metric rows.
        obs = (
            {
                "oversized": F.coalesce(
                    F.count_if(F.size("doc_ids") > int(self.max_postings)),
                    F.lit(0),
                )
            }
            if self.max_postings is not None
            else None
        )
        try:
            stats = merge_into(
                self.spark,
                self.table,
                self._patch_expr(d),
                update_mode="array_patch",
                patch_cols={"doc_ids": ("add_ids", "del_ids")},
                fence_token=fence,
                observe_aggs=obs,
            )
        finally:
            d.unpersist(blocking=False)
        if stats.skipped:
            return False
        if self.max_postings is not None:
            ov = (stats.observed or {}).get("oversized")
            # None = observation lost (empty-result quirk) — fall back to
            # the probe, never assume zero
            if ov is None or int(ov) > 0:
                try:
                    self._split_oversized(
                        {pb["bucket"] for pb in stats.by_bucket}
                    )
                except CommitConflict as e:
                    # the patch already committed: a split that exhausted its
                    # retries is an error, not a lost step for follow to
                    # re-derive
                    raise RuntimeError(
                        f"posting split after {fence} lost its commit race"
                    ) from e
        return True

    # ------------------------------------------------------------------
    # adaptive splitting
    # ------------------------------------------------------------------

    def _oversized_tokens(self, buckets: set[int]) -> list[int]:
        """Tokens with any posting cell above the bound, checked over the
        bucket subset a merge just touched (never a full index scan)."""
        m = self.table.manifest()
        files = [f for f in m.files if f.bucket in buckets or f.bucket == -1]
        if not files:
            return []
        df = self.table._read_files(self.spark, m, files)
        rows = (
            df.filter(F.size("doc_ids") > int(self.max_postings))
            .select("token")
            .distinct()
            .collect()
        )
        return [int(r["token"]) for r in rows]

    def _split_oversized(self, touched_buckets: set[int]) -> int:
        """Linear-hashing growth for hot tokens: double each oversized token's
        shard space and rewrite its posting rows, atomically with the new
        ``shard_bits`` map. Loops because one doubling may not suffice for a
        token far past the bound; each pass re-reads REAL sizes, so the
        procedure is idempotent across crashes with no extra fencing. Each
        pass is one statement under ``retry_on_conflict``: a lost race
        re-reads the stored map, the oversized tokens and their postings —
        re-committing the losing pass's patch and map would overwrite a
        racer's postings and splits."""

        def split_pass(buckets: set[int]) -> tuple[int, set[int]] | None:
            # (tokens split, buckets touched), or None when none is left
            self._bits = self._load_bits(self.table.manifest().properties)
            tokens = [
                t for t in self._oversized_tokens(buckets)
                if self._bits.get(t, 0) < _MAX_EXTRA_BITS
            ]
            if not tokens:
                return None
            old_bits = {t: self._bits.get(t, 0) for t in tokens}
            new_bits = {t: b + 1 for t, b in old_bits.items()}

            old_keys = [
                k for t in tokens for k in self._slots(t, old_bits[t])
            ]
            current = read_for_keys(self.spark, self.table, old_keys)
            exploded = current.select(
                "token", F.explode("doc_ids").alias("doc_id")
            )
            regrouped = exploded.groupBy(
                "token",
                self._shard(F.col("doc_id"), F.col("token"), bits=new_bits).alias(
                    "shard"
                ),
            ).agg(F.sort_array(F.collect_set("doc_id")).alias("doc_ids"))
            # every slot of the NEW shard space gets a row — a slot whose ids
            # all moved away must be overwritten to empty, or its stale copy
            # would double-count on read
            all_slots = [
                k for t in tokens for k in self._slots(t, new_bits[t])
            ]
            slot_df = self.spark.createDataFrame(
                all_slots, "token int, shard int"
            )
            patch = slot_df.join(regrouped, ["token", "shard"], "left").select(
                "token",
                "shard",
                F.coalesce(
                    "doc_ids", F.array().cast("array<string>")
                ).alias("doc_ids"),
                F.lit("U").alias("op"),
            )
            bits_after = {**self._bits, **new_bits}
            stats = merge_into(
                self.spark,
                self.table,
                patch,
                update_mode="replace",
                set_properties={
                    "shard_bits": json.dumps(
                        {str(k): v for k, v in sorted(bits_after.items())}
                    )
                },
            )
            self._bits = bits_after
            return len(tokens), {pb["bucket"] for pb in stats.by_bucket}

        splits = 0
        buckets = set(touched_buckets)
        for _ in range(_MAX_EXTRA_BITS):
            done = retry_on_conflict(lambda: split_pass(buckets))
            if done is None:
                return splits
            n, buckets = done
            splits += n
        return splits

    # ------------------------------------------------------------------

    def lookup(self, tokens: list[int]) -> DataFrame:
        """(token, doc_id) rows for the probed tokens — a bucket+stat-pruned
        point read of each token's slot keys, no scan.

        The routing map is re-read from the committed manifest on every probe
        (one local JSON read, no Spark job): a long-lived reader instance
        racing an out-of-process split would otherwise probe only the old slot
        space — split slots are overwritten to subsets/empty, so stale routing
        silently misses the postings that moved to the new slots."""
        self._bits = self._load_bits(self.table.manifest().properties)
        keys = [k for t in tokens for k in self._slots(int(t))]
        got = read_for_keys(self.spark, self.table, keys)
        return got.filter(F.size("doc_ids") > 0).select(
            "token", F.explode("doc_ids").alias("doc_id")
        )

    def search(self, tokens: list[int], mode: str = "any") -> DataFrame:
        """Documents matching a probe token set, answered ENTIRELY from the
        index (no base scan, no token-array decode): ``mode='any'`` returns
        docs containing at least one probe token, ``'all'`` docs containing
        every probe token. Output: (doc_id, n_matched).

        Scale shape: one point read of the probes' slot keys (bucket + stat
        pruned), one explode of just those posting cells, one partial-agg
        count per doc — cost is O(df of the probed tokens), independent of
        table size. The ES analogue is the terms query the reference delegates
        to its store; here the engine owns it."""
        if mode not in ("any", "all"):
            raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
        probes = sorted({int(t) for t in tokens})
        hits = self.lookup(probes).groupBy("doc_id").agg(
            F.count_distinct("token").alias("n_matched")
        )
        if mode == "all":
            hits = hits.filter(F.col("n_matched") == len(probes))
        return hits

    def search_ranked(self, tokens: list[int]) -> DataFrame:
        """IDF-ranked search answered ENTIRELY from the index: every doc
        matching at least one probe token, scored by the sum of the matched
        tokens' BM25 idf — ``ln(1 + (N − df + 0.5)/(df + 0.5))`` with ``N``
        the live doc count and ``df`` the token's document frequency. Output:
        (doc_id, n_matched, score), score rounded to 6dp (float gate).

        Everything the score needs is index/metadata-resident: ``df`` is the
        probed tokens' posting sizes (already point-read for the match), and
        ``N`` comes from the base manifest's live_rows footer stats — zero
        data files opened (falls back to one MoR-resolving count only when
        stats can't answer). ``N`` is read AT the index's applied version,
        not the base head: postings and df reflect the last folded commit,
        so a lagging index must score against the same snapshot or idf
        shifts by ln((N'+1)/(N+1)) per matched token and docs with different
        match counts can swap rank. Scale shape: the same O(df of probed tokens)
        point read as ``search``, one tiny groupBy-token aggregation
        broadcast back onto the pairs, one partial-agg per doc. This is the
        ranked terms query the reference delegates to ES's BM25
        (ref: recorder/MultiGetFlow.scala:20-53 fetches by id only; scoring
        lives in the store) — here the engine owns the ranking."""
        probes = sorted({int(t) for t in tokens})
        pairs = self.lookup(probes)  # distinct (token, doc_id) by construction
        at = self.applied_version()
        n_live = self.base.count_live(at)
        if n_live is None:
            n_live = read_live(
                self.spark, self.base, self.base.manifest(at)
            ).count()
        n = F.lit(float(n_live))
        df_col = F.col("df").cast("double")
        idf = (
            pairs.groupBy("token")
            .agg(F.count("*").alias("df"))
            .select(
                "token",
                F.log(F.lit(1.0) + (n - df_col + 0.5) / (df_col + 0.5)).alias("idf"),
            )
        )
        return (
            pairs.join(F.broadcast(idf), "token")
            .groupBy("doc_id")
            .agg(
                F.count_distinct("token").alias("n_matched"),
                F.round(F.sum("idf"), 6).alias("score"),
            )
        )

    def read_all(self) -> DataFrame:
        """The full index content as (token, doc_id) rows (gate/test surface)."""
        return (
            self.table.read(self.spark)
            .filter(F.size("doc_ids") > 0)
            .select("token", F.explode("doc_ids").alias("doc_id"))
        )

    def recompute(self) -> DataFrame:
        """Declarative spec: distinct (token, doc_id) over the base's live
        rows (MoR-resolving reader)."""
        live = read_live(self.spark, self.base, self.base.manifest())
        return self._pairs(live, self.tokens_col)

    def max_cell_size(self) -> int:
        """Largest posting cell in the index (test/ops surface)."""
        r = (
            self.table.read(self.spark)
            .agg(F.max(F.size("doc_ids")).alias("m"))
            .first()
        )
        return int(r["m"] or 0)
