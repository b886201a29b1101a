"""Property-based column-DDL x CDC composition (hypothesis): for ANY event
sequence, ANY batch split, and ANY placement of a RENAME and/or DROP between
batches, the final state equals a pure-Python fold that applies the same
schema timeline — the interleaving where a read-side remap or tombstone bug
would corrupt silently."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from tests.test_lake_table import TOKENS_SCHEMA

KEYS = ["a", "b", "c", "d"]

event = st.tuples(
    st.sampled_from(KEYS),
    st.sampled_from(["I", "U", "U", "D"]),
    st.lists(st.integers(0, 9), min_size=1, max_size=3),
    st.sampled_from(["s0", "s1"]),
)
events_list = st.lists(event, min_size=3, max_size=18)
N_BATCHES = 3


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
    ],
)
@given(
    evs=events_list,
    split=st.lists(st.integers(0, N_BATCHES - 1), min_size=1, max_size=4),
    rename_pos=st.integers(0, N_BATCHES),   # N_BATCHES = never
    drop_pos=st.integers(0, N_BATCHES),
)
def test_ddl_interleaved_replay_matches_python_fold(
    spark, tmp_path_factory, evs, split, rename_pos, drop_pos
):
    tmp = tmp_path_factory.mktemp("ddlprop")
    pipe = CdcPipeline(
        spark, str(tmp / "t"), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=2,
    )
    rows = []
    for i, (doc, op, toks, src) in enumerate(evs):
        if op == "D":
            rows.append((i, "D", doc, None, None, None))
        else:
            rows.append((i, op, doc, toks, len(toks), src))

    src_col, n_tok_live = "source", True
    for b in range(N_BATCHES):
        if rename_pos == b:
            pipe.target.rename_column("source", "origin")
            src_col = "origin"
        if drop_pos == b and n_tok_live:
            pipe.target.drop_column("n_tok")
            n_tok_live = False
        batch = [rows[i] for i in range(len(rows))
                 if split[i % len(split)] == b]
        cols = ["lsn long", "op string", "doc_id string",
                "tokens array<int>"]
        tuples = []
        for lsn, op, doc, toks, n_tok, src in batch:
            t = [lsn, op, doc, toks]
            if n_tok_live:
                t.append(n_tok)
            t.append(src)
            tuples.append(tuple(t))
        ddl = ", ".join(
            cols
            + (["n_tok int"] if n_tok_live else [])
            + [f"{src_col} string"]
        )
        pipe.apply_batch(
            spark.createDataFrame(tuples or [], ddl), fence_token=f"b{b}"
        )

    # python fold under the same schema timeline: the value written to the
    # source-named column is the same regardless of its name; n_tok of rows
    # written BEFORE the drop disappears with the column (reads conform)
    state: dict = {}
    for lsn, op, doc, toks, n_tok, src in sorted(rows):
        state[doc] = None if op == "D" else (tuple(toks), n_tok, src)
    want = {}
    for doc, v in state.items():
        if v is None:
            continue
        toks, n_tok, src = v
        row = {"tokens": toks, src_col: src}
        if n_tok_live:
            row["n_tok"] = n_tok
        want[doc] = row

    out = pipe.final_state()
    expect_cols = {"doc_id", "tokens", src_col} | (
        {"n_tok"} if n_tok_live else set()
    )
    assert set(out.columns) == expect_cols
    got = {}
    for r in out.collect():
        row = {"tokens": tuple(r["tokens"]), src_col: r[src_col]}
        if n_tok_live:
            row["n_tok"] = r["n_tok"]
        got[r["doc_id"]] = row
    assert got == want
