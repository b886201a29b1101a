"""Incrementally-maintained substring-duplication index.

Batch substring dedup (operators/substring.py) pays one corpus-wide window
groupBy per run — O(total tokens) every time, untenable as recurring curation
over a 100 TB CDC-maintained table. This module makes the duplicated-hash set
a DERIVED SURFACE of the lake table instead: a :class:`DupHashIndex` maintains
the per-window-hash occurrence count PURELY from the base's per-commit change
surface, so keeping substring-dedup state current costs O(changed buckets of
the commit), never a corpus scan.

The machinery is the generalized :class:`~..lake.view.IncrementalAggView`
with a row-local flatMap expansion: each live row expands to its k-token
window hashes, counts fold ± across a commit span (an unchanged document
expands to the identical window multiset at both snapshot endpoints and
cancels exactly), and the view table IS the hash→count state — exactly-once,
fenced, resumable, rollback-healing, telescoping over lagging spans, all
inherited. ``duplicated_hashes()`` is then a filter over maintained state and
:meth:`span_profile` / :meth:`flag_docs` answer corpus-wide duplication
questions for ANY row subset (typically a commit's changed docs) without
re-aggregating the corpus.

Scale shape at 10^10 rows: refresh reads only the span's changed buckets
(twice), expansion is a map-only explode, and the only shuffle is the
hash-count combine; the index table is bucketed by win_hash so the
duplicated-hash read prunes. The semi-join in span_profile is
broadcast-able whenever the true-duplicate hash set is small relative to
the probe side — the common curation case.

ref: no reference counterpart — the reference dedups whole records by key
only (aggregator/.../ConceptsAggregator.scala:110-118); this is the
incremental-maintenance extension of the Lee-et-al substring family the
training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField

from ..operators.substring import (
    duplicate_span_stats,
    duplicate_substring_spans,
    token_window_hashes,
)
from .diff import read_live
from .table import LakeTable
from .view import IncrementalAggView


class DupHashIndex:
    """Window-hash occurrence counts over a base lake table, maintained
    incrementally; the substring-dedup analogue of the token inverted index.

    ``tokens_col``/``k``/``min_count`` are LOGICAL properties of the stored
    counts — they ride the view's persisted spec, and reopening with
    different values is refused (folding k=8 deltas into k=4 counts would be
    silent corruption).
    """

    def __init__(
        self,
        spark: SparkSession,
        base: LakeTable,
        path: str,
        tokens_col: str = "tokens",
        k: int = 8,
        min_count: int = 2,
        num_buckets: int = 8,
        hash_fn: str = "xxhash64",
    ):
        from pyspark.sql.types import LongType

        self.spark = spark
        self.base = base
        self.tokens_col = tokens_col
        self.k = int(k)
        self.min_count = int(min_count)
        # xxhash64 default: the index hashes EVERY window of every changed
        # bucket on EVERY refresh — native array hashing (no per-window
        # string materialization) is the recurring-maintenance fast path;
        # 'md5' keeps the SQL-oracle-replayable family (operators default)
        self.hash_fn = hash_fn
        key_cols = base.manifest().key_cols
        if len(key_cols) != 1:
            raise ValueError(
                f"DupHashIndex needs a single-column base key, got {key_cols}"
            )
        self._key = key_cols[0]

        def expand(df: DataFrame) -> DataFrame:
            return token_window_hashes(
                df, self.tokens_col, self._key, k=self.k,
                hash_fn=self.hash_fn,
            ).select("win_hash")

        hash_type = LongType() if hash_fn == "xxhash64" else StringType()
        self.view = IncrementalAggView(
            spark,
            base,
            path,
            group_cols=["win_hash"],
            expand=expand,
            expand_spec=(
                f"dup-windows:col={tokens_col}:k={self.k}"
                f":min_count={self.min_count}:hash={hash_fn}"
            ),
            group_fields=[StructField("win_hash", hash_type, True)],
            num_buckets=num_buckets,
        )

    # ------------------------------------------------------------------
    # maintenance (delegated to the view: fenced, resumable, telescoping)

    def refresh(self, up_to_version: int | None = None, coalesce: bool = False) -> int:
        return self.view.refresh(up_to_version=up_to_version, coalesce=coalesce)

    def full_refresh(self, version: int | None = None) -> None:
        self.view.full_refresh(version=version)

    def applied_version(self) -> int:
        return self.view.applied_version()

    # ------------------------------------------------------------------
    # reads over maintained state

    def duplicated_hashes(self) -> DataFrame:
        """win_hash rows whose corpus-wide occurrence count (at the applied
        base version) reaches min_count — the substring-dedup mark set."""
        return (
            self.view.read()
            .filter(F.col("n_rows") >= self.min_count)
            .select("win_hash")
        )

    def span_profile(self, docs: DataFrame | None = None) -> DataFrame:
        """Per-document duplication profile (n_tok, dup_tokens, n_spans,
        dup_frac) answered from MAINTAINED counts: ``docs`` may be any row
        subset (a commit's changed docs); None profiles the whole live base
        at the index's applied version. Matches the batch
        ``duplicate_span_stats`` over the same snapshot exactly."""
        if docs is None:
            docs = read_live(
                self.spark, self.base, self.base.manifest(self.applied_version())
            )
        return duplicate_span_stats(
            docs,
            self.tokens_col,
            self._key,
            k=self.k,
            min_count=self.min_count,
            dup_hashes=self.duplicated_hashes(),
            hash_fn=self.hash_fn,
        )

    def spans(self, docs: DataFrame | None = None) -> DataFrame:
        """Maximal duplicated spans for ``docs`` (default: the whole live
        base at the applied version), marked against maintained counts."""
        if docs is None:
            docs = read_live(
                self.spark, self.base, self.base.manifest(self.applied_version())
            )
        return duplicate_substring_spans(
            docs,
            self.tokens_col,
            self._key,
            k=self.k,
            min_count=self.min_count,
            dup_hashes=self.duplicated_hashes(),
            hash_fn=self.hash_fn,
        )

    def flag_docs(self, max_dup_frac: float, docs: DataFrame | None = None) -> DataFrame:
        """Documents whose duplicated-token fraction exceeds the threshold —
        the curation drop-list, computable per-commit against maintained
        state instead of per-corpus."""
        return self.span_profile(docs).filter(
            F.col("dup_frac") > max_dup_frac
        )
