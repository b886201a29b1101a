"""IncrementalAggView: exactly-once resumable delta refresh of a downstream
aggregate, equal to full recompute at every step — including across
group-moving updates, deletes, compaction no-op commits, and a crash-resume
(partial refresh then continue)."""

from __future__ import annotations

from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.lake.merge import compact
from concepts_pipeline_spark.lake.view import IncrementalAggView
from tests.test_lake_table import TOKENS_SCHEMA


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


def _view(spark, pipe, tmp_path, name="v"):
    return IncrementalAggView(
        spark, pipe.target, str(tmp_path / name),
        group_cols=["source"], sum_cols={"tok_sum": "n_tok"},
    )


def as_map(df):
    return {
        r["source"]: (r["n_rows"], r["tok_sum"]) for r in df.collect()
    }


def test_view_tracks_inserts_updates_deletes_and_group_moves(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1, 2], 2, "web"),
            ("b", 2, "I", [3], 1, "web"),
            ("c", 3, "I", [4, 5, 6], 3, "book"),
        ]),
        fence_token="b0",
    )
    pipe.apply_batch(
        _batch(spark, [
            ("a", 10, "U", [9, 9, 9], 3, "book"),  # moves web -> book
            ("b", 11, "D", None, None, None),      # delete from web
            ("d", 12, "I", [7], 1, "web"),
        ]),
        fence_token="b1",
    )
    view = _view(spark, pipe, tmp_path)
    assert view.refresh() == view.applied_version() == 2
    got = as_map(view.read())
    assert got == {"web": (1, 1), "book": (2, 6)}
    # the exactness bar: incremental == recompute
    assert got == as_map(view.recompute())
    # idempotent: nothing new to fold
    assert view.refresh() == 0
    assert as_map(view.read()) == got


def test_view_refresh_is_resumable_and_skips_maintenance_commits(
    spark, tmp_path
):
    pipe = _pipe(spark, tmp_path, strategy="mor")
    for i in range(3):
        pipe.apply_batch(
            _batch(spark, [
                (f"k{i}", 100 + i, "I", [i], 1, f"s{i % 2}"),
            ]),
            fence_token=f"m{i}",
        )
    compact(spark, pipe.target, max_delta_files_per_bucket=0)  # +1 version
    view = _view(spark, pipe, tmp_path)
    # crash-resume: fold only the first two commits, then continue
    assert view.refresh(up_to_version=2) == 2
    mid = as_map(view.read())
    assert mid == {"s0": (1, 1), "s1": (1, 1)}
    # resumes from fence state; the compaction commit folds as an empty diff
    assert view.refresh() == 2
    assert as_map(view.read()) == as_map(view.recompute()) == {
        "s0": (2, 2), "s1": (1, 1),
    }


def test_view_zero_rows_group_hidden(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "web")]), fence_token="z0"
    )
    pipe.apply_batch(
        _batch(spark, [("a", 2, "D", None, None, None)]), fence_token="z1"
    )
    view = _view(spark, pipe, tmp_path)
    view.refresh()
    assert as_map(view.read()) == {}
    assert view.table.read(spark).count() == 1  # zero row retained internally


def test_streaming_cascade_view_survives_crash_between_apply_and_refresh(
    spark, tmp_path
):
    """The cascade worst case: the stream dies AFTER a target commit but
    BEFORE the downstream view folded it. On restart the view's fence cursor
    folds the missed commits before new ones — the whole chain stays
    exactly-once with no double counting."""
    import pytest

    from concepts_pipeline_spark.cdc import generate_change_log
    from concepts_pipeline_spark.streaming import run_stream

    log_dir = str(tmp_path / "log")
    generate_change_log(
        spark, num_events=1500, num_keys=120, seed=7, num_batches=4,
        max_tokens=8, dup_pct=5, malformed_pct=3,
    ).drop("batch_id").repartition(6).write.mode("overwrite").parquet(
        f"file://{log_dir}"
    )

    pipe = _pipe(spark, tmp_path, name="t2",
                 quarantine_path=str(tmp_path / "q2"))
    view = _view(spark, pipe, tmp_path, name="v2")
    ckpt = str(tmp_path / "ckpt2")

    class Crash(RuntimeError):
        pass

    state = {"n": 0}

    def refresh_then_crash(batch_id, res):
        state["n"] += 1
        if state["n"] == 2:
            raise Crash("died after apply, before view refresh")
        view.refresh()

    h1 = run_stream(
        spark, pipe, log_dir, ckpt, name="cascade",
        max_files_per_trigger=2, after_batch=refresh_then_crash,
    )
    with pytest.raises(Exception):
        h1.query.awaitTermination()
    assert view.applied_version() < pipe.target.current_version()  # view lags

    pipe2 = _pipe(spark, tmp_path, name="t2",
                  quarantine_path=str(tmp_path / "q2"))
    view2 = _view(spark, pipe2, tmp_path, name="v2")
    h2 = run_stream(
        spark, pipe2, log_dir, ckpt, name="cascade",
        max_files_per_trigger=2,
        after_batch=lambda b, r: view2.refresh(),
    )
    h2.query.awaitTermination()
    assert view2.applied_version() == pipe2.target.current_version()
    assert as_map(view2.read()) == as_map(view2.recompute())


def test_view_matches_recompute_on_uncompacted_mor_base(spark, tmp_path):
    """recompute() must MoR-resolve: overlapping keys across MoR batches leave
    base rows shadowed by uncompacted delta files — a raw read would double
    count them."""
    pipe = _pipe(spark, tmp_path, name="tm", strategy="mor")
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1], 1, "web"),
            ("b", 2, "I", [1, 2], 2, "web"),
        ]),
        fence_token="m0",
    )
    pipe.apply_batch(
        _batch(spark, [
            ("a", 10, "U", [9] * 5, 5, "web"),   # shadows base row for a
            ("b", 11, "D", None, None, None),    # tombstone shadows b
        ]),
        fence_token="m1",
    )
    view = _view(spark, pipe, tmp_path, name="vm")
    view.refresh()
    got = as_map(view.read())
    assert got == {"web": (1, 5)}           # a updated, b deleted
    assert got == as_map(view.recompute())  # no compaction ran


def test_view_heals_through_rollback_and_full_refresh_bootstraps(
    spark, tmp_path
):
    pipe = _pipe(spark, tmp_path, name="tr")
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "web")]), fence_token="r0"
    )
    pipe.apply_batch(
        _batch(spark, [("b", 2, "I", [1, 2], 2, "book")]), fence_token="r1"
    )
    view = _view(spark, pipe, tmp_path, name="vr")
    view.refresh()
    assert as_map(view.read()) == {"web": (1, 1), "book": (1, 2)}

    # rollback is forward-history: a NEW version restoring v1's state — the
    # view heals through it as an ordinary incremental diff (b un-inserted)
    pipe.target.rollback(1)
    assert pipe.target.current_version() == 3
    assert view.refresh() == 1
    assert as_map(view.read()) == as_map(view.recompute()) == {"web": (1, 1)}

    # full_refresh = one-shot bootstrap for a view created late over an
    # existing history; incremental refresh continues from its cursor
    late = IncrementalAggView(
        spark, pipe.target, str(tmp_path / "vr-late"),
        group_cols=["source"], sum_cols={"tok_sum": "n_tok"},
    )
    late.full_refresh()
    assert late.applied_version() == pipe.target.current_version()
    assert as_map(late.read()) == {"web": (1, 1)}
    pipe.apply_batch(
        _batch(spark, [("c", 9, "I", [3], 1, "web")]), fence_token="r2"
    )
    late.refresh()
    assert as_map(late.read()) == as_map(late.recompute()) == {"web": (2, 2)}


def test_coalesced_refresh_across_rollback_over_rescale(spark, tmp_path):
    """A rollback past a rescale is a DATA commit that restores the old
    bucket count: its file diff mixes two bucket numberings, so the span
    walk must not answer for it. A coalesced span over rescale + rollback
    must still see the rolled-back key deleted."""
    from concepts_pipeline_spark.lake.diff import span_data_buckets
    from concepts_pipeline_spark.lake.merge import rescale_buckets
    from concepts_pipeline_spark.lake.table import bucket_expr

    # k: a key whose 4-bucket id has no 2-bucket twin (>= 2) and is not
    # a's — the ids a mixed-numbering diff could report instead
    cands = spark.createDataFrame(
        [(f"k{i}",) for i in range(32)] + [("a",)], "doc_id string"
    ).select("doc_id", bucket_expr(["doc_id"], 4).alias("b"))
    b4 = {r["doc_id"]: r["b"] for r in cands.collect()}
    k = next(d for d, b in sorted(b4.items()) if b >= 2 and b != b4["a"])

    pipe = _pipe(spark, tmp_path, name="rr")
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "web")]), fence_token="r0"
    )
    pipe.apply_batch(
        _batch(spark, [(k, 2, "I", [1, 2], 2, "book")]), fence_token="r1"
    )
    view = _view(spark, pipe, tmp_path, name="vrr")
    assert view.refresh() == 2
    v_k = pipe.target.current_version()
    rescale_buckets(spark, pipe.target, 2)
    pipe.target.rollback(1)  # back to 4 buckets, k gone
    v_rb = pipe.target.current_version()

    m = pipe.target.manifest
    got = span_data_buckets(pipe.target, m(v_k), m(v_rb))
    assert got is None or b4[k] in got
    assert view.refresh(coalesce=True) == v_rb - v_k
    assert as_map(view.read()) == as_map(view.recompute()) == {"web": (1, 1)}


def test_view_null_sums_count_as_zero_both_paths(spark, tmp_path):
    """A group whose summed column is entirely NULL reports 0 on BOTH the
    delta and recompute paths (NULL sums cannot round-trip through ± deltas)."""
    from concepts_pipeline_spark.lake import LakeTable
    from concepts_pipeline_spark.lake.merge import merge_into
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType([
        StructField("k", StringType(), False),
        StructField("grp", StringType(), True),
        StructField("x", IntegerType(), True),
    ])
    base = LakeTable.create(str(tmp_path / "nb"), schema, ["k"], num_buckets=2)
    view = IncrementalAggView(
        spark, base, str(tmp_path / "nv"), group_cols=["grp"],
        sum_cols={"x_sum": "x"},
    )
    for i, fence in enumerate(["n0", "n1"]):
        rows = spark.createDataFrame(
            [(f"k{i}", "g", None)], schema
        ).withColumn("op", F.lit("U"))
        merge_into(spark, base, rows, fence_token=fence)
    view.refresh()
    inc = {r["grp"]: (r["n_rows"], r["x_sum"]) for r in view.read().collect()}
    full = {r["grp"]: (r["n_rows"], r["x_sum"]) for r in view.recompute().collect()}
    assert inc == full == {"g": (2, 0)}


def test_coalesced_refresh_telescopes_exactly(spark, tmp_path):
    """Per-commit deltas telescope: one coalesced diff over the whole span
    must land the identical view as version-by-version refresh — including
    across a key that is inserted, updated, moved between groups, and
    deleted within the span (intermediate states cancel)."""
    pipe = _pipe(spark, tmp_path, name="tc")
    batches = [
        [("a", 1, "I", [1], 1, "web"), ("b", 2, "I", [2, 2], 2, "book")],
        [("a", 10, "U", [3] * 3, 3, "book")],   # a moves web -> book
        [("b", 11, "D", None, None, None), ("c", 12, "I", [4], 1, "web")],
        [("a", 20, "D", None, None, None)],     # a's whole life cancels
    ]
    for i, rows in enumerate(batches):
        pipe.apply_batch(_batch(spark, rows), fence_token=f"t{i}")

    stepwise = _view(spark, pipe, tmp_path, name="v-step")
    assert stepwise.refresh() == 4
    lumped = _view(spark, pipe, tmp_path, name="v-lump")
    assert lumped.refresh(coalesce=True) == 4
    assert (
        as_map(stepwise.read())
        == as_map(lumped.read())
        == as_map(lumped.recompute())
        == {"web": (1, 1)}
    )
    # both cursors sit at the span end; nothing further to fold either way
    assert lumped.applied_version() == stepwise.applied_version() == 4
    assert lumped.refresh(coalesce=True) == 0 and stepwise.refresh() == 0


def test_coalesced_refresh_recomputes_after_losing_race(
    spark, tmp_path, monkeypatch
):
    """A coalesced refresher whose span commit loses to a concurrent stepwise
    refresher must re-derive the REMAINING span from the winner's fences —
    re-applying the original span would double-count the interior deltas."""
    import concepts_pipeline_spark.lake.view as view_mod
    from concepts_pipeline_spark.lake.table import CommitConflict

    pipe = _pipe(spark, tmp_path, name="race")
    for i in range(4):
        pipe.apply_batch(
            _batch(spark, [(f"k{i}", 10 + i, "I", [i], 1, "s")]),
            fence_token=f"r{i}",
        )
    racer = _view(spark, pipe, tmp_path, name="v-race")
    slow = IncrementalAggView(
        spark, pipe.target, str(tmp_path / "v-race"),
        group_cols=["source"], sum_cols={"tok_sum": "n_tok"},
    )

    real = view_mod.merge_into
    state = {"n": 0}

    def flaky(spark_, table, batch, **kw):
        if state["n"] == 0:
            state["n"] += 1
            # the stepwise racer lands v1..v2 before our span 0->4 commits
            racer.refresh(up_to_version=2)
            raise CommitConflict("simulated lost manifest swap")
        return real(spark_, table, batch, **kw)

    monkeypatch.setattr(view_mod, "merge_into", flaky)
    # slow applies only the remainder (2->4), not the whole 0->4 span
    assert slow.refresh(coalesce=True) == 2
    assert as_map(slow.read()) == as_map(slow.recompute()) == {
        "s": (4, 4),
    }


def test_view_spec_persisted_and_reopen_mismatch_refused(spark, tmp_path):
    """The view spec (group_cols + sum_cols mapping) is stored in table
    properties at create time; reopening the same path with a different spec
    must raise instead of silently folding wrong deltas (corrupt aggregates)."""
    import pytest

    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "web")]), fence_token="b0"
    )
    v = _view(spark, pipe, tmp_path)
    v.refresh()
    # same spec reopens fine and keeps the cursor
    again = _view(spark, pipe, tmp_path)
    assert again.applied_version() == v.applied_version()
    # same output column name, DIFFERENT base column — the silent-corruption case
    with pytest.raises(ValueError, match="spec"):
        IncrementalAggView(
            spark, pipe.target, str(tmp_path / "v"),
            group_cols=["source"], sum_cols={"tok_sum": "doc_id"},
        )
    # different grouping
    with pytest.raises(ValueError, match="spec"):
        IncrementalAggView(
            spark, pipe.target, str(tmp_path / "v"),
            group_cols=["doc_id"], sum_cols={"tok_sum": "n_tok"},
        )


def test_view_validates_columns_at_construction(spark, tmp_path):
    import pytest

    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "web")]), fence_token="b0"
    )
    with pytest.raises(ValueError, match="not in the base"):
        IncrementalAggView(
            spark, pipe.target, str(tmp_path / "bad1"),
            group_cols=["nope"], sum_cols={},
        )
    with pytest.raises(ValueError, match="not in the base"):
        IncrementalAggView(
            spark, pipe.target, str(tmp_path / "bad2"),
            group_cols=["source"], sum_cols={"s": "_lsn"},
        )
    with pytest.raises(ValueError, match="collide"):
        IncrementalAggView(
            spark, pipe.target, str(tmp_path / "bad3"),
            group_cols=["source"], sum_cols={"source": "n_tok"},
        )


def test_view_grouped_by_key_column(spark, tmp_path):
    """Grouping by a base KEY column works: the key is the row identity
    (identical pre/post image), so the minus side reads it directly."""
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1, 2], 2, "web"),
            ("b", 2, "I", [3], 1, "web"),
        ]),
        fence_token="b0",
    )
    v = IncrementalAggView(
        spark, pipe.target, str(tmp_path / "perdoc"),
        group_cols=["doc_id"], sum_cols={"tok_sum": "n_tok"},
    )
    v.refresh()
    pipe.apply_batch(
        _batch(spark, [
            ("a", 10, "U", [9], 1, "web"),
            ("b", 11, "D", None, None, None),
        ]),
        fence_token="b1",
    )
    v.refresh()
    got = {r["doc_id"]: (r["n_rows"], r["tok_sum"]) for r in v.read().collect()}
    assert got == {"a": (1, 1)}
    want = {r["doc_id"]: (r["n_rows"], r["tok_sum"]) for r in v.recompute().collect()}
    assert got == want


def test_delta_span_plan_is_join_free(spark, tmp_path):
    """The refresh delta is a group homomorphism fold: two changed-bucket
    scans into ONE aggregation. No per-key join may appear anywhere in the
    plan — the join-free formulation is what keeps a 10^10-event refresh from
    shuffling every row of the changed buckets by key."""
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1, 2], 2, "web"),
            ("b", 2, "I", [3], 1, "book"),
        ]),
        fence_token="b0",
    )
    pipe.apply_batch(
        _batch(spark, [("a", 10, "U", [9], 1, "web")]),
        fence_token="b1",
    )
    view = _view(spark, pipe, tmp_path)
    plan = view._delta_span(1, 2)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_full_refresh_pinned_version_then_catch_up(spark, tmp_path):
    """Consistent bootstrap: full_refresh(version=v) snapshots a FIXED base
    version (the cursor becomes v even when the base head is ahead), and a
    subsequent refresh() folds exactly the v->head span — final state equals
    the declarative recompute at head. This is the path
    `tools/scale_bench.py --scenario view` times at the crossover commit size."""
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1, 2], 2, "web"),
            ("b", 2, "I", [3], 1, "book"),
        ]),
        fence_token="b0",
    )
    v1 = pipe.target.current_version()
    pipe.apply_batch(
        _batch(spark, [
            ("a", 10, "U", [9], 1, "book"),   # group move after the pin
            ("c", 11, "I", [7, 8], 2, "web"),
            ("b", 12, "D", None, None, None),
        ]),
        fence_token="b1",
    )
    v2 = pipe.target.current_version()
    assert v2 > v1

    view = _view(spark, pipe, tmp_path)
    view.full_refresh(version=v1)
    assert view.applied_version() == v1
    # bootstrap state is the v1 aggregate, not the head's
    assert as_map(view.read()) == {"web": (1, 2), "book": (1, 1)}

    assert view.refresh() == v2 - v1
    assert view.applied_version() == v2
    assert as_map(view.read()) == as_map(view.recompute(version=v2))
    # idempotent: nothing left to fold
    assert view.refresh() == 0
