"""Property-based write-audit-publish correctness (hypothesis): for ANY event
sequence, ANY batch partitioning, ANY interleaving of direct applies and
WAP-staged applies, and ANY audit verdict per WAP batch, the final state
equals a pure-Python LSN-ordered fold over exactly the PUBLISHED batches —
rejected batches contribute nothing and leave no residue (version, branches,
fences). This is where a fork/publish bookkeeping bug (stale fork base, fence
leak, branch file reuse) would corrupt silently."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from concepts_pipeline_spark.cdc.apply import BatchAuditError, CdcPipeline
from tests.test_property_cdc import LOG_DDL, SCHEMA, python_oracle

KEYS = ["a", "b", "c"]

event = st.tuples(
    st.sampled_from(KEYS),
    st.sampled_from(["I", "U", "D"]),
    st.lists(st.integers(0, 100), min_size=1, max_size=3),
)
events_list = st.lists(event, min_size=1, max_size=24)
# per-batch plan: (wap?, audit_verdict) — a direct apply ignores the verdict
batch_plan = st.lists(
    st.tuples(st.booleans(), st.booleans()), min_size=1, max_size=4
)


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(evs=events_list, plan=batch_plan)
def test_wap_interleaved_replay_matches_python_fold(
    spark, tmp_path_factory, evs, plan
):
    rows = [
        (lsn, op, doc, None if op == "D" else toks,
         None if op == "D" else len(toks), "s")
        for lsn, (doc, op, toks) in enumerate(evs)
    ]
    root = tmp_path_factory.mktemp("wapprop")
    pipe = CdcPipeline(
        spark, str(root / "t"), SCHEMA, ["doc_id"],
        quarantine_path=str(root / "q"),
        num_buckets=2,
    )
    accepted: list = []
    n_batches = len(plan)
    for b, (use_wap, verdict) in enumerate(plan):
        batch_rows = [r for i, r in enumerate(rows) if i % n_batches == b]
        batch = spark.createDataFrame(batch_rows, LOG_DDL)
        if not use_wap:
            pipe.apply_batch(batch, fence_token=f"p:{b}")
            accepted.extend(batch_rows)
            continue
        v_before = pipe.target.current_version()
        if verdict:
            pipe.apply_batch_wap(batch, fence_token=f"p:{b}",
                                 audit=lambda s, br, r: True)
            accepted.extend(batch_rows)
        else:
            try:
                pipe.apply_batch_wap(batch, fence_token=f"p:{b}",
                                     audit=lambda s, br, r: False)
            except BatchAuditError:
                pass
            else:
                raise AssertionError("rejected WAP batch did not raise")
            assert pipe.target.current_version() == v_before
            assert not pipe.target.has_fence_token(f"p:{b}")
        assert pipe.target.list_branches() == []

    got = {
        r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in pipe.final_state().collect()
    }
    assert got == python_oracle(accepted)
