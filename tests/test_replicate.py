"""Replica convergence: stepwise vs coalesced, delete propagation, resume,
re-bucketing independence, and no-regression under stale span replays."""

from __future__ import annotations

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.lake.replicate import Replica
from tests.test_lake_table import TOKENS_SCHEMA


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, lsn long, op string, tokens array<int>, "
        "n_tok int, source string",
    )


def _pipe(spark, tmp_path, name="p"):
    return CdcPipeline(
        spark, str(tmp_path / name), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4,
    )


def logical(df):
    return {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"])
        for r in df.collect()
    }


def test_replica_converges_and_resumes(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1], 1, "s"),
            ("b", 2, "I", [2, 2], 2, "s"),
        ]),
        fence_token="b0",
    )
    pipe.apply_batch(
        _batch(spark, [
            ("a", 10, "U", [9], 1, "t"),
            ("b", 11, "D", None, None, None),
            ("c", 12, "I", [3], 1, "s"),
        ]),
        fence_token="b1",
    )
    rep = Replica(spark, pipe.target, str(tmp_path / "r"), num_buckets=2)
    assert rep.refresh(up_to_version=1) == 1     # partial (crash analogue)
    assert set(logical(rep.read())) == {"a", "b"}
    assert rep.refresh() == 1                     # resumes from cursor
    want = logical(pipe.final_state())
    assert logical(rep.read()) == want == {
        "a": ([9], 1, "t"), "c": ([3], 1, "s"),
    }
    assert rep.refresh() == 0                     # idempotent
    # replaying an old span (e.g. a second replicator racing behind) cannot
    # regress: fences skip it outright
    rep2 = Replica(spark, pipe.target, str(tmp_path / "r"))
    assert rep2.refresh(up_to_version=1) == 0
    assert logical(rep2.read()) == want


def test_replica_coalesced_equals_stepwise(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, name="p2")
    for i, rows in enumerate([
        [("k", 1, "I", [1], 1, "s")],
        [("k", 2, "U", [2], 1, "s")],
        [("k", 3, "D", None, None, None)],
        [("k", 4, "I", [4], 1, "s")],   # full lifecycle inside the span
    ]):
        pipe.apply_batch(_batch(spark, rows), fence_token=f"c{i}")
    step = Replica(spark, pipe.target, str(tmp_path / "rs"))
    assert step.refresh() == 4
    lump = Replica(spark, pipe.target, str(tmp_path / "rl"))
    assert lump.refresh(coalesce=True) == 4
    assert (
        logical(step.read())
        == logical(lump.read())
        == {"k": ([4], 1, "s")}
    )


def test_replica_coalesced_race_cannot_resurrect_interior_dead_key(
    spark, tmp_path, monkeypatch
):
    """The coalesced-span hazard: key k lives and dies INSIDE the span, so a
    stale narrow span (0→1, where k is live) applied after a wider one (0→3,
    where k is dead) would resurrect k. The mirror path has no LWW memory —
    it REPLACES bucket contents — so the protection is the manifest CAS: the
    loser derived its span against a pre-winner manifest, and its commit must
    lose the swap and re-derive from the winner's fences."""
    import concepts_pipeline_spark.lake.diff as diff_mod

    pipe = _pipe(spark, tmp_path, name="pz")
    for i, rows in enumerate([
        [("k", 1, "I", [1], 1, "s")],      # v1: k born
        [("k", 2, "D", None, None, None)], # v2: k dies (inside any wide span)
        [("x", 3, "I", [7], 1, "s")],      # v3
    ]):
        pipe.apply_batch(_batch(spark, rows), fence_token=f"z{i}")

    shared = str(tmp_path / "rz")
    loser = Replica(spark, pipe.target, shared)
    winner = Replica(spark, pipe.target, shared)

    real = diff_mod.read_live
    state = {"fired": False}

    def interleaved(*a, **kw):
        # fire the wide refresher exactly once, while the loser's 0→1 span
        # has already read its base manifest but not yet committed
        if not state["fired"]:
            state["fired"] = True
            winner.refresh(coalesce=True)  # converges 0→3 first
        return real(*a, **kw)

    monkeypatch.setattr(diff_mod, "read_live", interleaved)
    assert loser.refresh(up_to_version=1, coalesce=True) == 0
    assert logical(loser.read()) == {"x": ([7], 1, "s")}  # k stays dead


def test_mirror_cursor_guard_rejects_stale_span(spark, tmp_path):
    """The other race window: a refresher that derived its span BEFORE the
    winner committed but reads the replica manifest AFTER — the manifest CAS
    alone cannot catch that (the base is current), so the mirror re-derives
    the cursor from the very manifest it will CAS against and refuses a span
    that no longer starts at it."""
    pipe = _pipe(spark, tmp_path, name="pg")
    for i, rows in enumerate([
        [("k", 1, "I", [1], 1, "s")],
        [("k", 2, "D", None, None, None)],
        [("x", 3, "I", [7], 1, "s")],
    ]):
        pipe.apply_batch(_batch(spark, rows), fence_token=f"g{i}")
    shared = str(tmp_path / "rg")
    loser = Replica(spark, pipe.target, shared)
    winner = Replica(spark, pipe.target, shared)
    winner.refresh(coalesce=True)  # cursor → 3
    rnb = loser.table.manifest().num_buckets
    tb = loser._touched_replica_buckets(0, 1, rnb)
    assert loser._try_mirror(0, 1, tb, rnb) is False  # stale span refused
    assert logical(loser.read()) == {"x": ([7], 1, "s")}


def test_mirror_rescale_guard_rejects_stale_bucket_ids(spark, tmp_path):
    """Touched-bucket ids are only meaningful under the bucket count they
    were mapped with: a replica-side rescale between the span derivation and
    the mirror's manifest read renumbers every bucket, and replacing by stale
    id would rewrite the WRONG buckets — the commit CAS (against the
    post-rescale manifest) cannot catch it. The mirror must compare the
    observed count against the CAS manifest and report a lost race so the
    caller re-derives; the subsequent refresh still converges."""
    from concepts_pipeline_spark.lake.merge import rescale_buckets
    from concepts_pipeline_spark.lake.replicate import verify_replica

    pipe = _pipe(spark, tmp_path, name="prs")
    pipe.apply_batch(
        _batch(spark, [
            ("a", 1, "I", [1], 1, "s"),
            ("b", 2, "I", [2], 1, "s"),
        ]),
        fence_token="r0",
    )
    rep = Replica(spark, pipe.target, str(tmp_path / "rrs"), num_buckets=4)
    rep.refresh()
    pipe.apply_batch(
        _batch(spark, [("c", 3, "I", [3], 1, "t")]), fence_token="r1"
    )
    cur = rep.applied_version()
    nxt = pipe.target.current_version()
    rnb_old = rep.table.manifest().num_buckets
    tb_old = rep._touched_replica_buckets(cur, nxt, rnb_old)
    rescale_buckets(spark, rep.table, 8)  # renumbers every replica bucket
    assert rep._try_mirror(cur, nxt, tb_old, rnb_old) is False
    assert rep.refresh() > 0  # re-derives under the new numbering
    assert verify_replica(spark, pipe.target, rep)["match"]


def test_logical_digest_and_verify_replica(spark, tmp_path):
    """The replication checksum: digest is invariant to bucket layout and
    physical generations, detects a single-row divergence, and verify_replica
    compares at the replica's APPLIED version (not the racing head). A
    user column named _score is replicated and covered by the digest."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from concepts_pipeline_spark.lake.replicate import (
        Replica, logical_digest, verify_replica,
    )
    from concepts_pipeline_spark.lake.merge import merge_into
    from concepts_pipeline_spark.lake.table import LakeTable
    from tests.test_branch import SRC_SCHEMA, TARGET_SCHEMA, _events

    t = LakeTable.create(
        str(tmp_path / "p"),
        StructType(TARGET_SCHEMA.fields + [
            StructField("_score", DoubleType(), True),
            StructField("_lsn", LongType(), True),
        ]),
        ["doc_id"], 4,
    )

    def events(rows, score=0.5):
        return _events(spark, rows).withColumn("_score", F.lit(score))

    merge_into(spark, t, events([("a", [1], 1, "s", "U", 1),
                                 ("b", [2], 1, "s", "U", 1)]),
               fence_token="c1", lsn_col="lsn")
    rep = Replica(spark, t, str(tmp_path / "r"), num_buckets=2)  # different layout
    rep.refresh()
    out = verify_replica(spark, t, rep)
    assert out["match"] and out["primary"]["rows"] == 2

    # primary advances; the replica lags but still verifies at ITS version
    merge_into(spark, t, events([("c", [3], 1, "s", "U", 2)]),
               fence_token="c2", lsn_col="lsn")
    assert verify_replica(spark, t, rep)["match"]
    rep.refresh()
    assert verify_replica(spark, t, rep)["match"]
    assert {r["_score"] for r in rep.table.read(spark).collect()} == {0.5}

    # a divergent replica is caught, even when only _score differs
    merge_into(spark, rep.table,
               events([("c", [3], 1, "s", "U", 99)], score=9.5),
               fence_token="rogue", lsn_col="lsn")
    assert not verify_replica(spark, t, rep)["match"]


def test_manifest_derived_touched_buckets(spark, tmp_path):
    """Harmonic bucket counts skip the merge's discovery pass entirely: the
    touched replica buckets come from manifest arithmetic and must be a
    sound superset in every direction (equal / divisor / multiple), with
    non-harmonic counts falling back to data discovery (None)."""
    pipe = _pipe(spark, tmp_path)  # primary: 4 buckets
    pipe.apply_batch(
        _batch(spark, [(f"d{i}", i + 1, "I", [i], 1, "s") for i in range(12)]),
        fence_token="b0",
    )
    pipe.apply_batch(
        _batch(spark, [("d0", 20, "U", [99], 1, "t"),
                       ("d7", 21, "D", None, None, None)]),
        fence_token="b1",
    )
    want = logical(pipe.final_state())

    captured = []
    import concepts_pipeline_spark.lake.replicate as rp
    real = rp.merge_into

    def spy(*a, **kw):
        captured.append(kw.get("touched_buckets"))
        return real(*a, **kw)

    rp.merge_into = spy
    try:
        for nb, name in ((4, "eq"), (2, "div"), (8, "mul"), (3, "odd")):
            captured.clear()
            rep = Replica(spark, pipe.target, str(tmp_path / f"r-{name}"),
                          num_buckets=nb)
            rep.refresh()
            assert logical(rep.read()) == want, name
            if nb == 3:
                assert captured == [None, None], "non-harmonic must discover"
            else:
                assert all(tb is not None for tb in captured), name
                # superset soundness is implied by state equality above; also
                # check ids are in range
                assert all(0 <= b < nb for tb in captured for b in tb), name
    finally:
        rp.merge_into = real


def test_replication_across_primary_rescale_span(spark, tmp_path):
    """A primary rescale_buckets commit inside the replicated span renumbers
    every bucket — the manifest-derived touched set must degrade to a sound
    superset (it marks all buckets changed), and both stepwise and coalesced
    replication must still converge to the primary's logical state."""
    from concepts_pipeline_spark.lake.merge import rescale_buckets

    pipe = _pipe(spark, tmp_path)  # 4 buckets
    pipe.apply_batch(
        _batch(spark, [(f"d{i}", i + 1, "I", [i], 1, "s") for i in range(10)]),
        fence_token="b0",
    )
    rescale_buckets(spark, pipe.target, 8)          # renumbers everything
    pipe.apply_batch(
        _batch(spark, [("d1", 30, "U", [42], 1, "t"),
                       ("d2", 31, "D", None, None, None)]),
        fence_token="b1",
    )
    want = logical(pipe.final_state())

    step = Replica(spark, pipe.target, str(tmp_path / "rs"), num_buckets=2)
    assert step.refresh() == 3  # data, rescale (empty diff), data
    assert logical(step.read()) == want

    tele = Replica(spark, pipe.target, str(tmp_path / "rt"), num_buckets=2)
    assert tele.refresh(coalesce=True) == 3
    assert logical(tele.read()) == want


def test_replica_side_rescale_between_refreshes(spark, tmp_path):
    """Rescaling the REPLICA invalidates any bucket ids computed under the
    old numbering — merge_into's touched_num_buckets guard must force
    rediscovery rather than prune with stale ids (which would resurrect or
    double keys)."""
    from concepts_pipeline_spark.lake.merge import rescale_buckets

    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [(f"d{i}", i + 1, "I", [i], 1, "s") for i in range(10)]),
        fence_token="b0",
    )
    rep = Replica(spark, pipe.target, str(tmp_path / "rr"), num_buckets=2)
    rep.refresh()
    rescale_buckets(spark, rep.table, 6)  # replica now 6 buckets, primary 4
    pipe.apply_batch(
        _batch(spark, [("d3", 40, "U", [7, 7], 2, "t"),
                       ("d4", 41, "D", None, None, None)]),
        fence_token="b1",
    )
    # 6 % 4 != 0 and 4 % 6 != 0: non-harmonic now — must fall back cleanly
    assert rep.refresh() == 1
    assert logical(rep.read()) == logical(pipe.final_state())


def test_primary_compaction_is_empty_replica_commit(spark, tmp_path):
    """A primary compaction churns files (flagging buckets in the manifest
    diff) but is a logical no-op — the manifest-derived touched set must be
    EMPTY for that version, not a pure-carry rewrite of the replica."""
    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.lake.merge import compact
    import concepts_pipeline_spark.lake.replicate as rp
    from tests.test_lake_table import TOKENS_SCHEMA

    pipe = CdcPipeline(
        spark, str(tmp_path / "pm"), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4, strategy="mor",
    )
    for b in range(3):
        pipe.apply_batch(
            _batch(spark, [(f"d{i}", b * 100 + i + 1, "I" if b == 0 else "U",
                            [b, i], 2, "s") for i in range(8)]),
            fence_token=f"b{b}",
        )
    rep = Replica(spark, pipe.target, str(tmp_path / "rc"), num_buckets=2)
    rep.refresh()
    want = logical(rep.read())

    assert compact(spark, pipe.target, max_delta_files_per_bucket=1) > 0

    files_before = {f.path for f in rep.table.manifest().files}
    assert rep.refresh() == 1  # the compaction version
    m = rep.table.manifest()
    assert (m.summary or {}).get("empty_span") is True
    assert {f.path for f in m.files} == files_before, (
        "compaction must fold as an empty commit, not a replica rewrite"
    )
    assert logical(rep.read()) == want


def test_mirror_taken_and_schema_drift_falls_back_to_merge(spark, tmp_path):
    """The common refresh is the zero-join bucket mirror (visible in the
    replica's commit summary); a span crossing a primary schema evolution is
    ineligible (the mirror must not guess at evolution) and falls back to the
    diff+merge path, which evolves the replica — after which mirroring
    resumes."""
    pipe = _pipe(spark, tmp_path, name="pe")
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "s"), ("b", 2, "I", [2], 1, "t")]),
        fence_token="e0",
    )
    rep = Replica(spark, pipe.target, str(tmp_path / "re"))
    assert rep.refresh() == 1
    m = rep.table.manifest()
    assert (m.summary or {}).get("operation") == "replicate_mirror"

    # widen the primary: a batch carrying a new column evolves its schema
    wide = spark.createDataFrame(
        [("a", 10, "U", [9], 1, "s", 42)],
        "doc_id string, lsn long, op string, tokens array<int>, "
        "n_tok int, source string, extra int",
    )
    pipe.apply_batch(wide, fence_token="e1")
    assert rep.refresh() == 1
    m = rep.table.manifest()
    assert (m.summary or {}).get("operation") == "merge"  # fallback path
    assert "extra" in [f.name for f in m.schema.fields]
    got = {r["doc_id"]: r["extra"] for r in rep.read().collect()}
    assert got == {"a": 42, "b": None}

    # schemas agree again: the next span mirrors
    pipe.apply_batch(
        _batch_wide(spark, [("c", 20, "I", [3], 1, "u", None)]),
        fence_token="e2",
    )
    assert rep.refresh() == 1
    assert (rep.table.manifest().summary or {}).get("operation") == (
        "replicate_mirror"
    )
    assert logical_wide(rep.read()) == {
        "a": ([9], 1, "s", 42), "b": ([2], 1, "t", None),
        "c": ([3], 1, "u", None),
    }


def _batch_wide(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, lsn long, op string, tokens array<int>, "
        "n_tok int, source string, extra int",
    )


def logical_wide(df):
    return {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"], r["extra"])
        for r in df.collect()
    }


def test_replica_refresh_rederives_after_losing_race(
    spark, tmp_path, monkeypatch
):
    """The diff+merge path (3 replica buckets against 2 primary ones: not
    harmonic, so no mirror) loses its fenced merge to a second replicator on
    the same path: it re-derives from the winner's cursor, applies nothing
    itself, and the replica still equals the primary."""
    import concepts_pipeline_spark.lake.replicate as repl_mod
    from concepts_pipeline_spark.lake.table import CommitConflict

    pipe = CdcPipeline(
        spark, str(tmp_path / "p"), TOKENS_SCHEMA, ["doc_id"], num_buckets=2,
    )
    for i, rows in enumerate([
        [("a", 1, "I", [1], 1, "s"), ("b", 2, "I", [2], 1, "s")],
        [("a", 3, "U", [9], 1, "s"), ("b", 4, "D", None, None, None)],
        [("c", 5, "I", [7], 1, "t")],
    ]):
        pipe.apply_batch(_batch(spark, rows), fence_token=f"q{i}")
    shared = str(tmp_path / "r")
    loser = Replica(spark, pipe.target, shared, num_buckets=3)
    winner = Replica(spark, pipe.target, shared, num_buckets=3)

    real = repl_mod.merge_into
    state = {"fired": False}

    def racing(*a, **kw):
        if not state["fired"]:
            state["fired"] = True
            winner.refresh()  # converges every version before the loser
            raise CommitConflict("simulated lost manifest swap")
        return real(*a, **kw)

    monkeypatch.setattr(repl_mod, "merge_into", racing)
    assert loser.refresh() == 0
    assert logical(loser.read()) == logical(pipe.final_state())
