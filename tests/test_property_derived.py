"""Property-based DERIVED-TABLE correctness (hypothesis): for ANY event
sequence, ANY batch partitioning, random MoR compaction interleavings, and
random refresh points, the array_patch-maintained TokenIndex and the
sum_cols-maintained IncrementalAggView both equal a pure-Python fold of the
same events — the composition (LWW x MoR x compaction x CDF diff x patch/sum
merges) where a subtle interaction would hide (VERDICT r3 next-round #7).

A hot token rides every event with a tiny max_postings so adaptive shard
splitting interleaves with the patch merges too.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.lake.index import TokenIndex
from concepts_pipeline_spark.lake.merge import compact
from concepts_pipeline_spark.lake.view import IncrementalAggView

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)

LOG_DDL = ("lsn long, op string, doc_id string, tokens array<int>, "
           "n_tok int, source string")

KEYS = ["a", "b", "c", "d", "e"]
HOT = 7  # appears in every non-delete event → must split under max_postings

event = st.tuples(
    st.sampled_from(KEYS),                        # doc_id
    st.sampled_from(["I", "U", "U", "D"]),        # op (updates dominate)
    st.lists(st.integers(0, 9), max_size=3),      # extra tokens
    st.sampled_from(["s0", "s1"]),                # source
)
events_list = st.lists(event, min_size=2, max_size=24)
splits = st.lists(st.integers(0, 3), min_size=1, max_size=4)
# per-batch maintenance decisions: (compact_after?, refresh_after?)
maint = st.lists(st.tuples(st.booleans(), st.booleans()), min_size=4, max_size=4)


def python_fold(rows):
    """LSN-ordered fold → final state {doc: (tokens tuple, n_tok, source)}."""
    state: dict = {}
    for lsn, op, doc, toks, n_tok, src in sorted(rows):
        state[doc] = None if op == "D" else (tuple(toks), n_tok, src)
    return {k: v for k, v in state.items() if v is not None}


@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
    ],
)
@given(evs=events_list, split=splits, maint=maint)
def test_index_and_view_match_python_fold_under_mor_compaction(
    spark, tmp_path_factory, evs, split, maint
):
    tmp = tmp_path_factory.mktemp("derivedprop")
    pipe = CdcPipeline(
        spark, str(tmp / "t"), SCHEMA, ["doc_id"],
        num_buckets=2, strategy="mor",
    )
    ix = TokenIndex(
        spark, pipe.target, str(tmp / "ix"),
        num_shards=2, num_buckets=2, max_postings=3,
    )
    view = IncrementalAggView(
        spark, pipe.target, str(tmp / "v"),
        group_cols=["source"], sum_cols={"tok_sum": "n_tok"}, num_buckets=2,
    )

    rows = []
    for i, (doc, op, toks, src) in enumerate(evs):
        toks = sorted(set(toks) | {HOT})
        if op == "D":
            rows.append((i, "D", doc, None, None, None))
        else:
            rows.append((i, op, doc, toks, len(toks), src))

    n_batches = max(split) + 1
    for b in range(n_batches):
        batch = [rows[i] for i in range(len(rows))
                 if split[i % len(split)] == b]
        pipe.apply_batch(
            spark.createDataFrame(batch or [], LOG_DDL),
            fence_token=f"b{b}",
        )
        do_compact, do_refresh = maint[b % len(maint)]
        if do_compact:
            compact(spark, pipe.target, max_delta_files_per_bucket=0)
        if do_refresh:
            ix.refresh()
            view.refresh(coalesce=bool(b % 2))

    ix.refresh()
    view.refresh()

    want_state = python_fold(rows)
    want_pairs = {
        (t, doc) for doc, (toks, _, _) in want_state.items() for t in toks
    }
    got_pairs = {(r["token"], r["doc_id"]) for r in ix.read_all().collect()}
    assert got_pairs == want_pairs
    assert ix.max_cell_size() <= 3

    want_view: dict = {}
    for _, (_, n_tok, src) in want_state.items():
        n, s = want_view.get(src, (0, 0))
        want_view[src] = (n + 1, s + n_tok)
    got_view = {
        r["source"]: (r["n_rows"], r["tok_sum"]) for r in view.read().collect()
    }
    assert got_view == want_view
