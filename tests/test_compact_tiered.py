"""Size-tiered MoR compaction (lake/merge.compact_tiered): consolidation
must never change the visible state, must NOT rewrite the base while the
delta pile is small relative to it (the O(table²) failure mode of the
fixed-count trigger, measured by `tools/scale_bench.py --scenario
endurance`), and must fold to base once delta volume reaches the ratio gate.
Tiered is the only automatic mode (CdcPipeline(auto_compact_max_deltas=...))."""

from __future__ import annotations

from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.cdc.generator import generate_change_log
from concepts_pipeline_spark.lake.merge import compact, compact_tiered
from tests.test_mor import SCHEMA, make_pipe, replay, state

LOG = ("doc_id string, lsn long, op string, tokens array<int>, "
       "n_tok int, source string")


def _delta_files(table):
    return [f for f in table.manifest().files if f.kind == "delta"]


def _base_paths(table):
    return {f.path for f in table.manifest().files if f.kind == "base"}


def test_consolidation_preserves_state_and_spares_base(spark, tmp_path):
    """A big base + a pile of small same-tier deltas: tiered compaction
    merges the pile into one delta per bucket and leaves every base file
    byte-identical (same manifest paths) — the property the fixed-count
    compact() lacks. The same holds for a pipeline's automatic compaction
    with no mode given (tiered is the default and only mode)."""
    mor = CdcPipeline(spark, str(tmp_path / "m"), SCHEMA, ["doc_id"],
                      num_buckets=2, strategy="mor")
    auto = CdcPipeline(spark, str(tmp_path / "a"), SCHEMA, ["doc_id"],
                       num_buckets=2, strategy="mor",
                       auto_compact_max_deltas=4)
    # big first batch -> fold it to base via a full-ratio trip
    big = spark.createDataFrame(
        [(f"k{i}", i + 1, "I", [i], 1, "s") for i in range(400)], LOG)
    for p in (mor, auto):
        p.apply_batch(big, fence_token="b0")
        compact(spark, p.target, max_delta_files_per_bucket=0)
    base0 = _base_paths(mor.target)
    auto_base0 = _base_paths(auto.target)
    assert base0 and not _delta_files(mor.target)

    # five tiny batches (same size tier, > fanout=4) against the 400-row base
    for b in range(5):
        small = spark.createDataFrame(
            [(f"k{i}", 1000 + b * 10 + i, "U", [b, i], 2, "s")
             for i in range(6)], LOG)
        mor.apply_batch(small, fence_token=f"s{b}")
        auto.apply_batch(small, fence_token=f"s{b}")
    before = state(mor.final_state())
    assert _base_paths(auto.target) == auto_base0  # auto pass spared base
    assert state(auto.final_state()) == before
    assert len(_delta_files(mor.target)) == 10  # 5 batches x 2 buckets

    r = compact_tiered(spark, mor.target, fanout=4)
    assert r["folded"] == []          # 30 delta rows << 400 base rows
    assert sorted(r["consolidated"]) == [0, 1]
    assert _base_paths(mor.target) == base0  # base untouched
    piles = _delta_files(mor.target)
    assert len(piles) == 2            # one consolidated delta per bucket
    assert state(mor.final_state()) == before
    # idempotent: nothing left past any trigger
    assert compact_tiered(spark, mor.target, fanout=4) == {
        "consolidated": [], "folded": []}


def test_ratio_gate_folds_to_base(spark, tmp_path):
    """Once accumulated delta rows reach the base's, the bucket folds —
    the amortized-base-rewrite arm."""
    mor = CdcPipeline(spark, str(tmp_path / "m"), SCHEMA, ["doc_id"],
                      num_buckets=2, strategy="mor")
    mor.apply_batch(spark.createDataFrame(
        [(f"k{i}", i + 1, "I", [i], 1, "s") for i in range(20)], LOG),
        fence_token="b0")
    compact(spark, mor.target, max_delta_files_per_bucket=0)
    assert not _delta_files(mor.target)
    # one delta batch as large as the base trips the ratio gate
    mor.apply_batch(spark.createDataFrame(
        [(f"k{i}", 100 + i, "U", [9, i], 2, "s") for i in range(20)], LOG),
        fence_token="b1")
    r = compact_tiered(spark, mor.target, fanout=4)
    assert set(r["folded"]) and not _delta_files(mor.target)
    got = state(mor.final_state())
    assert got["k3"] == ((9, 3), 2, "s")


def test_tombstones_survive_consolidation(spark, tmp_path):
    """A delete consolidated into a merged delta must keep shadowing the
    base AND killing stale redeliveries (the merge discipline's contract)."""
    mor = CdcPipeline(spark, str(tmp_path / "m"), SCHEMA, ["doc_id"],
                      num_buckets=1, strategy="mor")
    mor.apply_batch(spark.createDataFrame(
        [(f"k{i}", i + 1, "I", [i], 1, "s") for i in range(50)], LOG),
        fence_token="b0")
    compact(spark, mor.target, max_delta_files_per_bucket=0)
    for b, ev in enumerate([
        [("k1", 100, "D", None, None, "s")],
        [("k2", 101, "U", [7], 1, "s")],
        [("k3", 102, "U", [8], 1, "s")],
        [("k4", 103, "U", [9], 1, "s")],
        [("k5", 104, "U", [5], 1, "s")],
    ]):
        mor.apply_batch(spark.createDataFrame(ev, LOG), fence_token=f"d{b}")
    r = compact_tiered(spark, mor.target, fanout=4)
    assert r["consolidated"] == [0] and r["folded"] == []
    live = state(mor.final_state())
    assert "k1" not in live and live["k2"] == ((7,), 1, "s")
    # stale redelivery of the pre-delete image loses against the consolidated
    # tombstone's LSN
    mor.apply_batch(spark.createDataFrame(
        [("k1", 2, "U", [1], 1, "s")], LOG), fence_token="stale")
    assert "k1" not in state(mor.final_state())


def test_auto_compact_tiered_replay_equals_plain(spark, tmp_path):
    """End-to-end: a generated replay under auto_compact_mode='tiered'
    matches the uncompacted twin's final state, with the per-bucket delta
    pile bounded (O(fanout x tiers), not O(batches))."""
    log = generate_change_log(
        spark, num_events=4000, num_keys=400, seed=21, num_batches=8
    ).persist()
    tiered = CdcPipeline(spark, str(tmp_path / "t"), SCHEMA, ["doc_id"],
                         num_buckets=4, strategy="mor",
                         auto_compact_max_deltas=2,
                         auto_compact_mode="tiered")
    plain = make_pipe(spark, tmp_path, "mor", "p")
    replay(spark, tiered, log, batches=8)
    replay(spark, plain, log, batches=8)
    want = state(plain.final_state())
    assert state(tiered.final_state()) == want
    per_bucket: dict[int, int] = {}
    for f in _delta_files(tiered.target):
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    # 8 batches with fanout 2: an unbounded pile would hold 8 per bucket
    assert not per_bucket or max(per_bucket.values()) < 8
    log.unpersist()


def test_mode_validation(spark, tmp_path):
    import pytest

    # "full" (the fixed-count fold after every batch) is no longer a mode
    for mode in ("nope", "full"):
        with pytest.raises(ValueError, match="auto_compact_mode"):
            CdcPipeline(spark, str(tmp_path / "x"), SCHEMA, ["doc_id"],
                        strategy="mor", auto_compact_max_deltas=2,
                        auto_compact_mode=mode)
