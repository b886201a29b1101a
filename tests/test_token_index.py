"""TokenIndex: incrementally-maintained sharded inverted index — posting
correctness across inserts/updates/deletes, resumable refresh, bucket-pruned
lookup, and the array_patch merge mode it rides on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.lake import LakeTable
from concepts_pipeline_spark.lake.index import TokenIndex
from concepts_pipeline_spark.lake.merge import merge_into
from tests.test_lake_table import TOKENS_SCHEMA


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, lsn long, op string, tokens array<int>, "
        "n_tok int, source string",
    )


def _pipe(spark, tmp_path, name="t"):
    return CdcPipeline(
        spark, str(tmp_path / name), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4,
    )


def pairs(df):
    return {(r["token"], r["doc_id"]) for r in df.collect()}


def test_index_tracks_full_document_lifecycle(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [7, 8], 2, "s"),
            ("b", 2, "I", [8, 9], 2, "s"),
        ]),
        fence_token="b0",
    )
    ix = TokenIndex(spark, pipe.target, str(tmp_path / "ix"), num_shards=4)
    assert ix.refresh() == 1
    assert pairs(ix.read_all()) == {(7, "a"), (8, "a"), (8, "b"), (9, "b")}

    # update changes a's tokens (7 dropped, 5 added, 8 kept); b deleted
    pipe.apply_batch(
        _batch(spark, [
            ("a", 10, "U", [5, 8], 2, "s"),
            ("b", 11, "D", None, None, None),
        ]),
        fence_token="b1",
    )
    assert ix.refresh() == 1
    want = {(5, "a"), (8, "a")}
    assert pairs(ix.read_all()) == want
    assert pairs(ix.recompute()) == want
    assert ix.refresh() == 0  # idempotent

    # bucket-pruned lookup: probed tokens only, misses empty
    assert pairs(ix.lookup([8, 9, 42])) == {(8, "a")}


def test_index_refresh_resumes_from_fence_cursor(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, name="tr")
    for i in range(3):
        pipe.apply_batch(
            _batch(spark, [(f"k{i}", 10 + i, "I", [i, 100], 2, "s")]),
            fence_token=f"b{i}",
        )
    ix = TokenIndex(spark, pipe.target, str(tmp_path / "ixr"), num_shards=4)
    assert ix.refresh(up_to_version=1) == 1          # partial (crash analogue)
    assert pairs(ix.lookup([100])) == {(100, "k0")}
    assert ix.refresh() == 2                          # resumes, folds the rest
    assert pairs(ix.lookup([100])) == {
        (100, "k0"), (100, "k1"), (100, "k2"),
    }
    assert pairs(ix.read_all()) == pairs(ix.recompute())


def test_index_shards_bound_posting_rows(spark, tmp_path):
    """A token present in many docs spreads across shards — no single posting
    row holds more than its shard's docs."""
    pipe = _pipe(spark, tmp_path, name="ts")
    rows = [(f"d{i}", i + 1, "I", [777], 1, "s") for i in range(40)]
    pipe.apply_batch(_batch(spark, rows), fence_token="s0")
    ix = TokenIndex(spark, pipe.target, str(tmp_path / "ixs"), num_shards=8)
    ix.refresh()
    posting = ix.table.read(spark).filter(F.col("token") == 777)
    sizes = [r["n"] for r in posting.select(F.size("doc_ids").alias("n")).collect()]
    assert sum(sizes) == 40
    assert len(sizes) > 1 and max(sizes) < 40  # genuinely sharded


def test_array_patch_merge_mode_direct(spark, tmp_path):
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("k", StringType(), False),
        StructField("vals", ArrayType(IntegerType()), True),
    ])
    t = LakeTable.create(str(tmp_path / "ap"), schema, ["k"], num_buckets=2)
    patch = spark.createDataFrame(
        [("a", [3, 1], []), ("b", [2], [9])],
        "k string, add_ids array<int>, del_ids array<int>",
    ).withColumn("op", F.lit("U"))
    merge_into(spark, t, patch, update_mode="array_patch",
               patch_cols={"vals": ("add_ids", "del_ids")}, fence_token="p0")
    got = {r["k"]: r["vals"] for r in t.read(spark).collect()}
    assert got == {"a": [1, 3], "b": [2]}   # insert arm: sorted, dels applied

    patch2 = spark.createDataFrame(
        [("a", [2], [3]), ("b", [], [2])],
        "k string, add_ids array<int>, del_ids array<int>",
    ).withColumn("op", F.lit("U"))
    merge_into(spark, t, patch2, update_mode="array_patch",
               patch_cols={"vals": ("add_ids", "del_ids")}, fence_token="p1")
    got = {r["k"]: r["vals"] for r in t.read(spark).collect()}
    assert got == {"a": [1, 2], "b": []}    # matched arm: union then except

    # a no-op patch classifies noop (no spurious rewrite of the value)
    stats = merge_into(
        spark, t,
        spark.createDataFrame(
            [("a", [], [])], "k string, add_ids array<int>, del_ids array<int>"
        ).withColumn("op", F.lit("U")),
        update_mode="array_patch",
        patch_cols={"vals": ("add_ids", "del_ids")}, fence_token="p2",
    )
    assert stats.noop == 1 and stats.updated == 0

    import pytest

    with pytest.raises(ValueError, match="not payload"):
        merge_into(
            spark, t, patch, update_mode="array_patch",
            patch_cols={"nope": ("add_ids", "del_ids")}, fence_token="p3",
        )


def test_index_adopts_stored_shard_count_on_reopen(spark, tmp_path):
    """num_shards is a physical property of the stored postings: a reopen
    with a different ctor value must adopt the stored count, or deletes would
    route to the wrong shard row and leave stale pairs."""
    pipe = _pipe(spark, tmp_path, name="tp")
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [5], 1, "s"), ("b", 2, "I", [5], 1, "s")]),
        fence_token="p0",
    )
    ix = TokenIndex(spark, pipe.target, str(tmp_path / "ixp"), num_shards=4)
    ix.refresh()
    # reopen with a DIFFERENT ctor value: stored 4 wins
    ix2 = TokenIndex(spark, pipe.target, str(tmp_path / "ixp"), num_shards=16)
    assert ix2.num_shards == 4
    pipe.apply_batch(
        _batch(spark, [("a", 9, "D", None, None, None)]), fence_token="p1"
    )
    ix2.refresh()
    assert pairs(ix2.read_all()) == {(5, "b")}  # delete landed, no stale pair


def test_array_patch_requires_patch_cols(spark, tmp_path):
    import pytest
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("k", StringType(), False),
        StructField("vals", ArrayType(IntegerType()), True),
    ])
    t = LakeTable.create(str(tmp_path / "apg"), schema, ["k"], num_buckets=2)
    src = spark.createDataFrame(
        [("a", [1], [])], "k string, add_ids array<int>, del_ids array<int>"
    ).withColumn("op", F.lit("U"))
    with pytest.raises(ValueError, match="requires patch_cols"):
        merge_into(spark, t, src, update_mode="array_patch", fence_token="g0")


def test_index_spec_mismatch_refused_on_reopen(spark, tmp_path):
    import pytest

    pipe = _pipe(spark, tmp_path, name="ts")
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [7], 1, "s")]), fence_token="b0"
    )
    ix = TokenIndex(spark, pipe.target, str(tmp_path / "ixs"), num_shards=4)
    ix.refresh()
    with pytest.raises(ValueError, match="tokens_col"):
        TokenIndex(
            spark, pipe.target, str(tmp_path / "ixs"),
            tokens_col="n_tok", num_shards=4,
        )


def test_hot_token_posting_cells_stay_bounded(spark, tmp_path):
    """The Zipf-head scenario VERDICT r3 flagged: one token in >50% of docs.
    With max_postings set, adaptive splitting must keep EVERY posting cell at
    or under the bound, while content stays exactly equal to the recompute
    spec and lookups keep working across the split."""
    n_docs = 120
    rows = []
    for i in range(n_docs):
        toks = [999] if i % 2 == 0 else [999, i]  # 999 in every doc; half get a rare token too
        rows.append((f"d{i}", i + 1, "I", toks, len(toks), "s"))
    pipe = _pipe(spark, tmp_path, name="th")
    pipe.apply_batch(_batch(spark, rows), fence_token="b0")

    bound = 8
    ix = TokenIndex(
        spark, pipe.target, str(tmp_path / "ixh"),
        num_shards=2, max_postings=bound,
    )
    ix.refresh()
    assert ix.max_cell_size() <= bound
    assert ix._bits.get(999, 0) >= 1  # the hot token actually split
    # content is exactly the declarative spec
    assert pairs(ix.read_all()) == pairs(ix.recompute())
    # bits map survived persistence: a fresh handle lookups correctly
    ix2 = TokenIndex(
        spark, pipe.target, str(tmp_path / "ixh"),
        num_shards=2, max_postings=bound,
    )
    assert len(pairs(ix2.lookup([999]))) == n_docs

    # post-split maintenance: delete a doc and update another — dels must
    # route to the SPLIT slots (a mis-route would leave a stale pair behind)
    pipe.apply_batch(
        _batch(spark, [
            ("d0", 1000, "D", None, None, None),
            ("d1", 1001, "U", [42], 1, "s"),
        ]),
        fence_token="b1",
    )
    ix2.refresh()
    got = pairs(ix2.read_all())
    assert got == pairs(ix2.recompute())
    assert ("d0" not in {d for _, d in got})
    assert (999, "d1") not in got and (42, "d1") in got
    assert ix2.max_cell_size() <= bound


def test_index_search_any_and_all(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, name="tsrch")
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1, 2, 3], 3, "s"),
            ("b", 2, "I", [2, 3], 2, "s"),
            ("c", 3, "I", [3], 1, "s"),
            ("d", 4, "I", [9], 1, "s"),
        ]),
        fence_token="b0",
    )
    ix = TokenIndex(spark, pipe.target, str(tmp_path / "ixq"), num_shards=4)
    ix.refresh()
    any_hits = {r["doc_id"]: r["n_matched"] for r in ix.search([1, 2]).collect()}
    assert any_hits == {"a": 2, "b": 1}
    all_hits = {r["doc_id"] for r in ix.search([2, 3], mode="all").collect()}
    assert all_hits == {"a", "b"}
    assert ix.search([2, 3, 9], mode="all").count() == 0
    import pytest

    with pytest.raises(ValueError, match="mode"):
        ix.search([1], mode="nope")


def test_index_search_ranked_bm25_idf(spark, tmp_path):
    """search_ranked scores docs by summed BM25 idf over matched probes, with
    df from the probed posting sizes and N from base manifest footer stats —
    verified against a hand-computed expectation."""
    import math

    pipe = _pipe(spark, tmp_path, name="trank")
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1, 2, 3], 3, "s"),
            ("b", 2, "I", [2, 3], 2, "s"),
            ("c", 3, "I", [3], 1, "s"),
            ("d", 4, "I", [9], 1, "s"),
        ]),
        fence_token="b0",
    )
    ix = TokenIndex(spark, pipe.target, str(tmp_path / "ixrank"), num_shards=4)
    ix.refresh()

    def idf(n, df):
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    got = {
        r["doc_id"]: (r["n_matched"], r["score"])
        for r in ix.search_ranked([1, 2]).collect()
    }
    # N=4 live docs; df(1)=1, df(2)=2
    assert got == {
        "a": (2, round(idf(4, 1) + idf(4, 2), 6)),
        "b": (1, round(idf(4, 2), 6)),
    }
    # rare token outranks common one: probe {1, 3} on doc a vs c
    got2 = {r["doc_id"]: r["score"] for r in ix.search_ranked([1, 3]).collect()}
    assert got2["c"] == round(idf(4, 3), 6)  # df(3)=3: docs a, b, c
    assert got2["a"] > got2["c"]

    # a delete changes both df and N — but only AFTER the index folds it:
    # a lagging index scores against ITS applied snapshot (N pinned to the
    # applied version), never mixing head-count N with stale-postings df
    pipe.apply_batch(
        _batch(spark, [("b", 10, "D", None, None, None)]), fence_token="b1"
    )
    stale = {
        r["doc_id"]: (r["n_matched"], r["score"])
        for r in ix.search_ranked([2]).collect()
    }
    assert stale == {
        "a": (1, round(idf(4, 2), 6)),
        "b": (1, round(idf(4, 2), 6)),
    }
    ix.refresh()
    got3 = {
        r["doc_id"]: (r["n_matched"], r["score"])
        for r in ix.search_ranked([2]).collect()
    }
    assert got3 == {"a": (1, round(idf(3, 1), 6))}


def test_long_lived_reader_sees_out_of_process_splits(spark, tmp_path):
    """A reader handle constructed BEFORE another process splits a hot token
    must not probe the old slot space: the split overwrote old slots to
    subsets/empty, so stale routing silently drops the postings that moved.
    lookup() reloads shard_bits from the committed manifest per probe."""
    n_docs = 120
    rows = [(f"d{i}", i + 1, "I", [999], 1, "s") for i in range(n_docs)]
    pipe = _pipe(spark, tmp_path, name="tsr")
    pipe.apply_batch(_batch(spark, rows), fence_token="b0")

    # the long-lived reader: opened against the pre-split index (empty bits)
    reader = TokenIndex(spark, pipe.target, str(tmp_path / "ixsr"), num_shards=2)
    # the "other process": same table, splitting enabled, builds + splits
    writer = TokenIndex(
        spark, pipe.target, str(tmp_path / "ixsr"),
        num_shards=2, max_postings=16,
    )
    writer.refresh()
    assert writer._bits.get(999, 0) >= 1  # split actually happened
    assert reader._bits == {}             # reader's cache is stale by design
    got = {d for _, d in pairs(reader.lookup([999]))}
    assert len(got) == n_docs
    # search rides lookup, so it inherits the reload
    assert reader.search([999]).count() == n_docs


def test_coalesced_refresh_telescopes_to_stepwise_result(spark, tmp_path):
    """One span diff + one fenced merge must land the same index as N
    stepwise folds: the pair delta is NET membership change, so a token
    added then removed inside the span patches nothing."""
    pipe = _pipe(spark, tmp_path, name="tc")
    batches = [
        [("a", 1, "I", [7, 8], 2, "s"), ("b", 2, "I", [8, 9], 2, "s")],
        [("a", 10, "U", [5, 8], 2, "s"), ("c", 11, "I", [7], 1, "s")],
        [("b", 20, "D", None, None, None), ("c", 21, "U", [9, 5], 2, "s")],
        # churn that must cancel across the span: d inserted then deleted
        [("d", 30, "I", [8, 99], 2, "s")],
        [("d", 40, "D", None, None, None), ("a", 41, "U", [5], 1, "s")],
    ]
    for i, rows in enumerate(batches):
        pipe.apply_batch(_batch(spark, rows), fence_token=f"b{i}")

    step = TokenIndex(spark, pipe.target, str(tmp_path / "ix-step"), num_shards=4)
    assert step.refresh() == 5  # five versions, five folds

    tele = TokenIndex(spark, pipe.target, str(tmp_path / "ix-tele"), num_shards=4)
    assert tele.refresh(coalesce=True) == 5  # five versions, ONE fold
    assert tele.applied_version() == step.applied_version()

    want = pairs(step.read_all())
    assert pairs(tele.read_all()) == want == pairs(tele.recompute())
    assert 99 not in {t for t, _ in want}  # span-interior churn cancelled
    assert tele.refresh(coalesce=True) == 0  # cursor at head: no-op


def test_coalesced_refresh_still_splits_hot_tokens(spark, tmp_path):
    """The adaptive linear-hashing split must run off the coalesced merge's
    touched buckets exactly as it does stepwise."""
    pipe = _pipe(spark, tmp_path, name="ts")
    rows = [(f"d{i}", i + 1, "I", [999], 1, "s") for i in range(96)]
    for b in range(3):  # three commits, so the span is real
        pipe.apply_batch(_batch(spark, rows[b * 32:(b + 1) * 32]),
                         fence_token=f"b{b}")
    ix = TokenIndex(
        spark, pipe.target, str(tmp_path / "ix-split"),
        num_shards=2, max_postings=16,
    )
    assert ix.refresh(coalesce=True) == 3
    assert ix._bits.get(999, 0) >= 1
    assert {d for _, d in pairs(ix.lookup([999]))} == {f"d{i}" for i in range(96)}
    assert ix.max_cell_size() <= 16


def test_refresh_skips_split_probe_when_merge_observes_no_oversize(
    spark, tmp_path, monkeypatch
):
    """The oversized-cell check rides the patch merge's own write job
    (merge_into observe_aggs): when it reports 0 the probe — a read of every
    touched bucket's postings — must not run at all."""
    pipe = _pipe(spark, tmp_path, name="tp")
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1, 2], 2, "s"),
                       ("b", 2, "I", [2, 3], 2, "s")]),
        fence_token="b0",
    )
    ix = TokenIndex(
        spark, pipe.target, str(tmp_path / "ix-probe"),
        num_shards=4, max_postings=100,  # nothing can cross the bound
    )

    def boom(self, buckets):
        raise AssertionError("probe ran despite observed oversized == 0")

    monkeypatch.setattr(TokenIndex, "_oversized_tokens", boom)
    assert ix.refresh() == 1  # would raise if the probe executed
    assert pairs(ix.read_all()) == {(1, "a"), (2, "a"), (2, "b"), (3, "b")}


def test_merge_observe_aggs_contract(spark, tmp_path):
    """observe_aggs values come back in MergeStats.observed with zero extra
    jobs (CoW), and MoR refuses them loudly (the merged row never
    materializes at delta-write time, so the aggregate would be a lie)."""
    import pytest

    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("k", StringType(), False),
        StructField("v", IntegerType(), True),
    ])
    t = LakeTable.create(str(tmp_path / "obs"), schema, ["k"], num_buckets=2)
    src = spark.createDataFrame(
        [("a", 5, "I"), ("b", 50, "I")], "k string, v int, op string"
    )
    stats = merge_into(
        spark, t, src,
        observe_aggs={
            "big": F.coalesce(F.count_if(F.col("v") > 10), F.lit(0)),
            "vsum": F.coalesce(F.sum("v"), F.lit(0)),
        },
    )
    assert stats.observed == {"big": 1, "vsum": 55}

    t2 = LakeTable.create(str(tmp_path / "obs2"), schema, ["k"], num_buckets=2)
    src2 = spark.createDataFrame(
        [("a", 5, "I", 1)], "k string, v int, op string, lsn long"
    )
    with pytest.raises(ValueError, match="merge-on-read"):
        merge_into(
            spark, t2, src2, lsn_col="lsn", strategy="mor",
            observe_aggs={"n": F.count(F.lit(1))},
        )


@pytest.mark.parametrize("coalesce", [False, True])
def test_index_refresh_rederives_after_losing_race(
    spark, tmp_path, monkeypatch, coalesce
):
    """A refresher whose fenced merge loses the commit race to a second
    refresher on the same index re-derives its span from the winner's
    cursor — stepwise and coalesced alike — instead of raising or folding
    the winner's versions a second time."""
    import concepts_pipeline_spark.lake.index as index_mod
    from concepts_pipeline_spark.lake.table import CommitConflict

    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"], num_buckets=2,
    )
    for i in range(3):
        pipe.apply_batch(
            _batch(spark, [(f"k{i}", 10 + i, "I", [i, 100], 2, "s")]),
            fence_token=f"b{i}",
        )
    path = str(tmp_path / "ix")
    loser = TokenIndex(spark, pipe.target, path, num_shards=2, num_buckets=2)
    winner = TokenIndex(spark, pipe.target, path, num_shards=2, num_buckets=2)

    real = index_mod.merge_into
    state = {"fired": False}

    def racing(*a, **kw):
        if not state["fired"]:
            state["fired"] = True
            winner.refresh()  # lands every version before the loser commits
            raise CommitConflict("simulated lost manifest swap")
        return real(*a, **kw)

    monkeypatch.setattr(index_mod, "merge_into", racing)
    assert loser.refresh(coalesce=coalesce) == 0
    assert pairs(loser.read_all()) == pairs(loser.recompute())
