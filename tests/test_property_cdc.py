"""Property-based CDC correctness (hypothesis): for ANY event sequence and ANY
batch partitioning, replay through the engine (both strategies) equals a
pure-Python LSN-ordered fold. Mirrors the reference's generative test style
(SURVEY §5) with real randomized semantics instead of fixed fixtures."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from concepts_pipeline_spark.cdc.apply import CdcPipeline

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

KEYS = ["a", "b", "c", "d"]

event = st.tuples(
    st.sampled_from(KEYS),                       # doc_id
    st.sampled_from(["I", "U", "D"]),            # op
    st.lists(st.integers(0, 100), min_size=1, max_size=4),  # tokens
    st.booleans(),                               # malformed n_tok?
)
events_list = st.lists(event, min_size=1, max_size=30)
# batch assignment: index i goes to batch splits[i % len(splits)]
splits = st.lists(st.integers(0, 2), min_size=1, max_size=4)


def python_oracle(rows):
    """LSN-ordered fold over VALID events; deletes tombstone."""
    state: dict = {}
    for lsn, op, doc, toks, n_tok, src in sorted(rows):
        if op != "D" and (toks is None or n_tok != len(toks)):
            continue  # quarantined
        if op == "D":
            state[doc] = None
        else:
            state[doc] = (tuple(toks), n_tok, src)
    return {k: v for k, v in state.items() if v is not None}


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(evs=events_list, split=splits, strategy=st.sampled_from(["cow", "mor"]))
def test_any_replay_matches_python_fold(spark, tmp_path_factory, evs, split, strategy):
    rows = []
    for lsn, (doc, op, toks, bad) in enumerate(evs):
        if op == "D":
            rows.append((lsn, op, doc, None, None, "s"))
        else:
            n = len(toks) + (1 if bad else 0)
            rows.append((lsn, op, doc, toks, n, "s"))

    root = tmp_path_factory.mktemp("prop")
    pipe = CdcPipeline(
        spark, str(root / "t"), SCHEMA, ["doc_id"],
        quarantine_path=str(root / "q"),
        num_buckets=2, strategy=strategy,
    )
    n_batches = max(split) + 1
    for b in range(n_batches):
        batch_rows = [r for i, r in enumerate(rows) if split[i % len(split)] == b]
        batch = spark.createDataFrame(batch_rows, LOG_DDL) if batch_rows else \
            spark.createDataFrame([], LOG_DDL)
        pipe.apply_batch(batch, fence_token=f"p:{b}")

    got = {
        r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in pipe.final_state().collect()
    }
    assert got == python_oracle(rows)
