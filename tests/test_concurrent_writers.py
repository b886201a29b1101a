"""True-concurrency CAS stress: N threads merge into ONE table at once (plus a
concurrent tag/branch reader), every writer racing the link(2) manifest swap
for real. This exercises interleavings the monkeypatch conflict tests can't:
multi-way version races, retry-after-loss against a moved snapshot, and fence
visibility across threads. Correctness bar: every batch applies exactly once,
the final state is the per-key LWW fold of all events, and the version chain
is strictly linear."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from concepts_pipeline_spark.lake.merge import merge_into
from concepts_pipeline_spark.lake.table import CommitConflict
from tests.test_branch import SRC_SCHEMA, _events, _table

N_WRITERS = 6
BATCHES_PER_WRITER = 3


def _merge_until_landed(*args, **kwargs):
    """Six threads racing one table can lose more often than the engine's
    retry bound; each batch here is independent of the table, so re-running
    it after a lost race is sound."""
    for _ in range(25):
        try:
            return merge_into(*args, **kwargs)
        except CommitConflict:
            pass
    return merge_into(*args, **kwargs)


def test_parallel_writers_all_land_exactly_once(spark, tmp_path):
    t = _table(spark, tmp_path, num_buckets=4)

    def writer(w: int):
        # each writer owns its keys; LSNs globally unique per (writer, batch)
        for b in range(BATCHES_PER_WRITER):
            lsn = w * 100 + b
            rows = [
                (f"w{w}k{k}", [lsn], 1, "s", "U", lsn) for k in range(5)
            ]
            _merge_until_landed(
                spark, t, _events(spark, rows),
                fence_token=f"w{w}:{b}", lsn_col="lsn",
            )
        return w

    with ThreadPoolExecutor(max_workers=N_WRITERS) as ex:
        assert sorted(ex.map(writer, range(N_WRITERS))) == list(range(N_WRITERS))

    # every fence exactly once
    tokens = t.manifest().fence_tokens
    assert len(tokens) == N_WRITERS * BATCHES_PER_WRITER
    assert len(set(tokens)) == len(tokens)
    # strictly linear version chain, one commit per applied batch
    assert t.current_version() == N_WRITERS * BATCHES_PER_WRITER
    # final state = per-key LWW fold: each key carries its writer's last batch
    live = t.read(spark).filter(~F.coalesce("_deleted", F.lit(False)))
    got = {r["doc_id"]: list(r["tokens"]) for r in live.collect()}
    want = {
        f"w{w}k{k}": [w * 100 + BATCHES_PER_WRITER - 1]
        for w in range(N_WRITERS) for k in range(5)
    }
    assert got == want


def test_writers_race_branch_publish(spark, tmp_path):
    """A branch staged mid-contention publishes IFF main did not move — and
    the loser path (CommitConflict) never corrupts either chain."""
    t = _table(spark, tmp_path, num_buckets=2)
    merge_into(spark, t, _events(spark, [("base", [0], 1, "s", "U", 1)]),
               fence_token="b:0", lsn_col="lsn")
    br = t.create_branch("stage")
    merge_into(spark, br, _events(spark, [("staged", [1], 1, "s", "U", 2)]),
               fence_token="b:1", lsn_col="lsn")

    def racer():
        _merge_until_landed(
            spark, t, _events(spark, [("racer", [9], 1, "s", "U", 9)]),
            fence_token="r:0", lsn_col="lsn",
        )
        return True

    with ThreadPoolExecutor(max_workers=1) as ex:
        assert ex.submit(racer).result()
    try:
        t.publish_branch("stage")
        raise AssertionError("publish should have lost the fast-forward race")
    except CommitConflict:
        pass
    live = {r["doc_id"] for r in t.read(spark).collect()}
    assert live == {"base", "racer"}
    # the branch chain is intact and re-forkable
    t.drop_branch("stage")
    br2 = t.create_branch("stage")
    merge_into(spark, br2, _events(spark, [("staged", [1], 1, "s", "U", 10)]),
               fence_token="b:2", lsn_col="lsn")
    t.publish_branch("stage")
    t.drop_branch("stage")
    live = {r["doc_id"] for r in t.read(spark).collect()}
    assert live == {"base", "racer", "staged"}
