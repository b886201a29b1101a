"""Property-based quarantine-redrive correctness (hypothesis): for ANY event
sequence, ANY batch partitioning, and ANY redrive point with a widened vocab,
the engine equals a pure-Python simulation in which every event applies under
LWW the moment it becomes valid — i.e. arrival order (original batch vs later
redrive) must be invisible, quarantined events must never be lost, and
redriven events overwritten in the meantime must stay dead (no zombies)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from tests.test_property_cdc import LOG_DDL, SCHEMA

KEYS = ["a", "b", "c"]
SMALL_VOCAB = 100
BIG_VOCAB = 1000

event = st.tuples(
    st.sampled_from(KEYS),
    st.sampled_from(["I", "U", "D"]),
    # token values straddle the small bound: some events quarantine first
    st.lists(st.integers(0, 400), min_size=1, max_size=3),
)
events_list = st.lists(event, min_size=2, max_size=20)


def fold(rows, vocab):
    """LWW fold over events valid under ``vocab`` (op D always valid)."""
    state: dict = {}
    for lsn, op, doc, toks, n_tok, src in sorted(rows):
        if op != "D" and (toks is None or any(t >= vocab for t in toks)):
            continue
        state[doc] = None if op == "D" else (tuple(toks), n_tok, src)
    return {k: v for k, v in state.items() if v is not None}


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(evs=events_list, n_batches=st.integers(1, 3), redrive_all=st.booleans())
def test_redrive_equals_validity_at_apply_time(
    spark, tmp_path_factory, evs, n_batches, redrive_all
):
    rows = [
        (lsn, op, doc, None if op == "D" else toks,
         None if op == "D" else len(toks), "s")
        for lsn, (doc, op, toks) in enumerate(evs)
    ]
    root = tmp_path_factory.mktemp("rdprop")
    pipe = CdcPipeline(
        spark, str(root / "t"), SCHEMA, ["doc_id"],
        quarantine_path=str(root / "q"),
        num_buckets=2, vocab_size=SMALL_VOCAB,
    )
    for b in range(n_batches):
        batch = [r for i, r in enumerate(rows) if i % n_batches == b]
        pipe.apply_batch(spark.createDataFrame(batch, LOG_DDL), f"p:{b}")

    got = {r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["source"])
           for r in pipe.final_state().collect()}
    assert got == fold(rows, SMALL_VOCAB)

    # redrive under the widened vocab: the engine must now equal the fold in
    # which validity used the BIG bound from the start — the LWW order, not
    # the arrival order, decides every key
    reasons = ["token_out_of_vocab"] if not redrive_all else None
    pipe.redrive_quarantine("rq:0", reasons=reasons, vocab_size=BIG_VOCAB)
    got = {r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["source"])
           for r in pipe.final_state().collect()}
    assert got == fold(rows, BIG_VOCAB)
