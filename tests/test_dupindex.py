"""DupHashIndex: substring-dedup state maintained incrementally from the
base table's commit history (lake/dupindex.py) — duplicated-hash set, span
profile, and drop-list must equal the batch recompute at every step, across
updates that create/destroy duplication, deletes, maintenance commits, and
reopen-with-different-spec refusal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.lake.dupindex import DupHashIndex
from concepts_pipeline_spark.lake.merge import compact
from concepts_pipeline_spark.operators.substring import (
    duplicate_span_stats,
    duplicate_substring_spans,
)
from tests.test_lake_table import TOKENS_SCHEMA

K = 3


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, lsn long, op string, tokens array<int>, "
        "n_tok int, source string",
    )


def _pipe(spark, tmp_path, name="t", **kw):
    return CdcPipeline(
        spark, str(tmp_path / name), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4, **kw,
    )


def _ix(spark, pipe, tmp_path, name="dupix", **kw):
    return DupHashIndex(
        spark, pipe.target, str(tmp_path / name), k=K, **kw
    )


def _live(spark, pipe):
    return pipe.final_state().select("doc_id", "tokens")


def _hashes(df):
    return {r.win_hash for r in df.collect()}


def _profile_map(df):
    return {
        r.doc_id: (r.n_tok, r.dup_tokens, r.n_spans, r.dup_frac)
        for r in df.collect()
    }


def _assert_matches_batch(spark, pipe, ix):
    """The exactness bar: maintained state answers == batch recompute."""
    live = _live(spark, pipe)
    got = _profile_map(ix.span_profile(live))
    want = _profile_map(duplicate_span_stats(live, "tokens", "doc_id", k=K))
    assert got == want
    # and the whole-base default (reads live rows itself)
    assert _profile_map(ix.span_profile()) == want


def test_index_tracks_dup_creation_and_destruction(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    shared = [7, 8, 9, 10]  # one shared >=K run between a and b
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", shared + [1], 5, "web"),
            ("b", 2, "I", [2] + shared, 5, "web"),
            ("c", 3, "I", [11, 12, 13, 14], 4, "web"),
        ]),
        fence_token="b0",
    )
    ix = _ix(spark, pipe, tmp_path)
    assert ix.refresh() >= 1
    assert ix.applied_version() == pipe.target.current_version()
    # the shared run's K-windows are duplicated; c contributes none
    dup0 = _hashes(ix.duplicated_hashes())
    assert len(dup0) == len(shared) - K + 1
    _assert_matches_batch(spark, pipe, ix)
    prof = _profile_map(ix.span_profile())
    assert prof["a"][1] == len(shared) and prof["b"][1] == len(shared)
    assert prof["c"][1] == 0

    # destroy the duplication: b rewrites its tokens entirely
    pipe.apply_batch(
        _batch(spark, [("b", 10, "U", [20, 21, 22, 23], 4, "web")]),
        fence_token="b1",
    )
    assert ix.refresh() >= 1
    assert _hashes(ix.duplicated_hashes()) == set()
    _assert_matches_batch(spark, pipe, ix)

    # re-create it via a THIRD doc matching c, then delete c again
    pipe.apply_batch(
        _batch(spark, [("d", 20, "I", [11, 12, 13, 14], 4, "web")]),
        fence_token="b2",
    )
    pipe.apply_batch(
        _batch(spark, [("d", 30, "D", None, None, None)]),
        fence_token="b3",
    )
    assert ix.refresh() >= 2
    assert _hashes(ix.duplicated_hashes()) == set()
    _assert_matches_batch(spark, pipe, ix)


def test_index_refresh_resumable_and_telescoping(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    run = [1, 2, 3]
    for i in range(4):
        pipe.apply_batch(
            _batch(spark, [
                (f"k{i}", 100 + i, "I", run + [50 + i], 4, "web"),
            ]),
            fence_token=f"b{i}",
        )
    head = pipe.target.current_version()
    ix = _ix(spark, pipe, tmp_path)
    # partial refresh (crash simulation), then continue, then telescoped peer
    assert ix.refresh(up_to_version=head - 2) >= 1
    mid = _hashes(ix.duplicated_hashes())
    assert ix.refresh() >= 1
    assert ix.refresh() == 0  # idempotent
    full = _hashes(ix.duplicated_hashes())
    assert mid <= full and len(full) == 1  # the [1,2,3] window
    _assert_matches_batch(spark, pipe, ix)

    ix2 = _ix(spark, pipe, tmp_path, name="dupix2")
    assert ix2.refresh(coalesce=True) >= 1
    assert _hashes(ix2.duplicated_hashes()) == full


def test_index_skips_maintenance_commits(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, strategy="mor")
    shared = [4, 5, 6]
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", shared, 3, "web"),
            ("b", 2, "I", shared, 3, "web"),
        ]),
        fence_token="b0",
    )
    ix = _ix(spark, pipe, tmp_path)
    ix.refresh()
    before = _hashes(ix.duplicated_hashes())
    assert len(before) == 1
    compact(spark, pipe.target, max_delta_files_per_bucket=0)  # +1 no-op version
    assert ix.refresh() >= 1  # walks the version, folds an empty delta
    assert _hashes(ix.duplicated_hashes()) == before
    _assert_matches_batch(spark, pipe, ix)


def test_index_subset_profile_and_flags(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    boiler = [9, 9, 9, 9]
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", boiler + [1, 2, 3, 4, 5, 6, 7, 8], 12, "web"),
            ("b", 2, "I", boiler, 4, "web"),
            ("c", 3, "I", [30, 31, 32], 3, "web"),
        ]),
        fence_token="b0",
    )
    ix = _ix(spark, pipe, tmp_path)
    ix.refresh()
    # subset profiling: only doc b probed, but duplication is corpus-wide
    sub = _live(spark, pipe).filter(F.col("doc_id") == "b")
    got = _profile_map(ix.span_profile(sub))
    assert set(got) == {"b"} and got["b"][1] == 4
    # drop-list: b is 100% duplicated, a only 1/3, c clean
    flagged = {r.doc_id for r in ix.flag_docs(0.5).collect()}
    assert flagged == {"b"}


def test_index_reopen_with_different_spec_refused(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1, 2, 3], 3, "web")]),
        fence_token="b0",
    )
    ix = _ix(spark, pipe, tmp_path)
    ix.refresh()
    with pytest.raises(ValueError, match="spec"):
        DupHashIndex(spark, pipe.target, str(tmp_path / "dupix"), k=K + 1)


def test_expanded_view_requires_group_fields_and_spec(spark, tmp_path):
    from concepts_pipeline_spark.lake.view import IncrementalAggView

    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1, 2], 2, "web")]),
        fence_token="b0",
    )
    with pytest.raises(ValueError, match="expand_spec"):
        IncrementalAggView(
            spark, pipe.target, str(tmp_path / "v"),
            group_cols=["tok"], expand=lambda df: df,
        )
    with pytest.raises(ValueError, match="group_fields"):
        IncrementalAggView(
            spark, pipe.target, str(tmp_path / "v"),
            group_cols=["tok"], expand=lambda df: df,
            expand_spec="x",
        )


def test_expanded_view_token_histogram(spark, tmp_path):
    """The expansion hook is generic: a per-token-id histogram maintained
    incrementally equals its recompute across update/delete commits."""
    from pyspark.sql.types import IntegerType, StructField

    from concepts_pipeline_spark.lake.view import IncrementalAggView

    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1, 1, 2], 3, "web"),
            ("b", 2, "I", [2, 3], 2, "web"),
        ]),
        fence_token="b0",
    )
    pipe.apply_batch(
        _batch(spark, [
            ("a", 10, "U", [3, 3], 2, "web"),
            ("b", 11, "D", None, None, None),
        ]),
        fence_token="b1",
    )
    view = IncrementalAggView(
        spark, pipe.target, str(tmp_path / "hist"),
        group_cols=["tok"],
        expand=lambda df: df.select(F.explode("tokens").alias("tok")),
        expand_spec="token-histogram:v1",
        group_fields=[StructField("tok", IntegerType(), True)],
    )
    view.refresh()
    got = {r.tok: r.n_rows for r in view.read().collect()}
    assert got == {3: 2}
    want = {r.tok: r.n_rows for r in view.recompute().filter(F.col("n_rows") > 0).collect()}
    assert got == want


def test_index_refresh_rewrites_only_touched_buckets(spark, tmp_path):
    """The expanded view must NOT declare every index bucket touched (that
    would rewrite the whole hash-count table per refresh): a one-doc commit
    leaves untouched index buckets' data files byte-identical (same paths)."""
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [
            (f"d{i}", i + 1, "I", [100 * i, 100 * i + 1, 100 * i + 2], 3, "web")
            for i in range(24)
        ]),
        fence_token="b0",
    )
    ix = _ix(spark, pipe, tmp_path, num_buckets=8)
    ix.refresh()
    before = {f.path for f in ix.view.table.manifest().files}
    assert len({f.bucket for f in ix.view.table.manifest().files}) >= 4

    pipe.apply_batch(
        _batch(spark, [("d0", 100, "U", [0, 1, 2, 3], 4, "web")]),
        fence_token="b1",
    )
    ix.refresh()
    after = {f.path for f in ix.view.table.manifest().files}
    # the one changed doc touches a handful of window hashes → most index
    # bucket files must be carried over unchanged
    assert len(before & after) >= len(before) // 2
    _assert_matches_batch(spark, pipe, ix)


def test_index_hash_modes_agree(spark, tmp_path):
    """xxhash64 (fast path, native array hashing) and md5 (SQL-replayable)
    index modes produce identical profiles — same trade as dedup.py's
    minhash/simhash hash families."""
    pipe = _pipe(spark, tmp_path)
    shared = [5, 6, 7, 8]
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", shared + [1], 5, "web"),
            ("b", 2, "I", [2] + shared, 5, "web"),
            ("c", 3, "I", [11, 12, 13], 3, "web"),
        ]),
        fence_token="b0",
    )
    fast = _ix(spark, pipe, tmp_path, name="fast")  # xxhash64 default
    slow = _ix(spark, pipe, tmp_path, name="slow", hash_fn="md5")
    fast.refresh()
    slow.refresh()
    assert _profile_map(fast.span_profile()) == _profile_map(slow.span_profile())
    # hash TYPES differ (long vs string) even though decisions agree
    assert fast.view.table.manifest().schema["win_hash"].dataType.typeName() == "long"
    assert slow.view.table.manifest().schema["win_hash"].dataType.typeName() == "string"
