"""Seeded CDC feed generator for the benchmark: numpy + pyarrow, no Spark.

Runs as its own process (``python3 perfbench/feed.py <spec.json> <out_dir>``)
so no generator JVM lingers next to the timed one, and so the engine only ever
sees landed files. Each WAL segment is one parquet file in the engine's
``CHANGE_LOG_SCHEMA`` (``concepts_pipeline_spark.cdc.generator``) with the
same feed properties as the engine's own generator: power-law key skew,
10% deletes, 20% inserts, a malformed share on upserts (three kinds), exact
redeliveries of a segment's events in the next segment, and rows stored out of
LSN order within a file.

The same spec and seed give byte-identical files (numpy ``PCG64``).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257  # concepts_pipeline_spark.cdc.generator.VOCAB_SIZE
SOURCES = np.array(["loc", "mesh", "wikidata", "label-derived"], dtype=object)
TS0_US = 1_700_000_000 * 1_000_000

EVENT_SCHEMA = pa.schema(
    [
        pa.field("lsn", pa.int64()),
        pa.field("op", pa.string()),
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
        pa.field("event_ts", pa.timestamp("us", tz="UTC")),
        pa.field("batch_id", pa.int64()),
    ]
)
DUMP_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ]
)


def key_names(ranks: np.ndarray) -> np.ndarray:
    """Key rank -> doc_id. Multiplying by an odd constant mod 2^32 is a
    bijection, so distinct ranks give distinct, bucket-uniform ids."""
    h = (ranks.astype(np.uint64) * np.uint64(0x9E3779B1)) & np.uint64(0xFFFFFFFF)
    return np.array([f"{int(x):08x}" for x in h], dtype=object)


def _tokens(rng, n: int, max_tokens: int, null_mask: np.ndarray):
    lens = rng.integers(1, max_tokens + 1, n).astype(np.int32)
    lens[null_mask] = 0
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1])).astype(np.int32)
    return lens, offsets, values


def _list_array(offsets, values, null_mask) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.array(values, pa.int32()),
        mask=pa.array(null_mask),
    )


def events(
    rng,
    n: int,
    lsn0: int,
    num_keys: int,
    skew: float,
    max_tokens: int,
    delete_pct: int,
    malformed_pct: int,
    insert_all: bool = False,
) -> dict:
    """n change events with LSNs lsn0, lsn0+3, ... (+0/1 jitter). ``insert_all``
    makes one valid insert per key rank 0..n-1 (the preload)."""
    if insert_all:
        ranks = np.arange(n, dtype=np.int64)
        op = np.full(n, "I", dtype=object)
    else:
        u = rng.random(n)
        ranks = np.minimum((u ** skew * num_keys).astype(np.int64), num_keys - 1)
        draw = rng.integers(0, 100, n)
        op = np.where(draw < delete_pct, "D", np.where(draw < delete_pct + 20, "I", "U"))
        op = op.astype(object)
    is_del = op == "D"
    if insert_all:
        mal = np.zeros(n, dtype=bool)
        kind = np.zeros(n, dtype=np.int64)
    else:
        mal = (rng.integers(0, 100, n) < malformed_pct) & ~is_del
        kind = rng.integers(0, 3, n)
    null_tok = is_del | (mal & (kind == 1))
    lens, offsets, values = _tokens(rng, n, max_tokens, null_tok)
    oov = np.nonzero(mal & (kind == 2))[0]
    values[offsets[oov + 1] - 1] = VOCAB + 17  # last token out of vocabulary
    n_tok = lens.copy()
    n_tok[mal & (kind == 0)] += 1  # count disagrees with the array
    lsn = lsn0 + 3 * np.arange(n, dtype=np.int64) + rng.integers(0, 2, n)
    return {
        "lsn": lsn, "op": op, "ranks": ranks, "null_tok": null_tok,
        "offsets": offsets, "values": values, "n_tok": n_tok,
        "n_tok_null": is_del,
    }


def _take(ev: dict, idx: np.ndarray) -> dict:
    lens = np.diff(ev["offsets"])[idx]
    offsets = np.zeros(len(idx) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    shift = np.repeat(ev["offsets"][idx] - offsets[:-1], lens)
    values = ev["values"][shift + np.arange(int(offsets[-1]))]
    out = {k: ev[k][idx] for k in ("lsn", "op", "ranks", "null_tok", "n_tok", "n_tok_null")}
    out["offsets"], out["values"] = offsets, values
    return out


def _concat(a: dict, b: dict) -> dict:
    out = {k: np.concatenate([a[k], b[k]]) for k in a if k not in ("offsets", "values")}
    out["offsets"] = np.concatenate([a["offsets"], a["offsets"][-1] + b["offsets"][1:]])
    out["values"] = np.concatenate([a["values"], b["values"]])
    return out


def _write_events(path: str, ev: dict, batch_id: int, rng) -> None:
    order = rng.permutation(len(ev["lsn"]))  # out of LSN order within the file
    ev = _take(ev, order)
    n = len(ev["lsn"])
    tbl = pa.Table.from_arrays(
        [
            pa.array(ev["lsn"], pa.int64()),
            pa.array(ev["op"], pa.string()),
            pa.array(key_names(ev["ranks"]), pa.string()),
            _list_array(ev["offsets"], ev["values"], ev["null_tok"]),
            pa.array(ev["n_tok"], pa.int32(), mask=ev["n_tok_null"]),
            pa.array(SOURCES[ev["ranks"] % len(SOURCES)], pa.string()),
            pa.array(TS0_US + ev["lsn"] * 1_000_000, pa.timestamp("us", tz="UTC")),
            pa.array(np.full(n, batch_id, dtype=np.int64), pa.int64()),
        ],
        schema=EVENT_SCHEMA,
    )
    pq.write_table(tbl, path)


def write_feed(spec: dict, out_dir: str) -> dict:
    """Land the feed of ``spec`` under ``out_dir``; return what was written.

    spec keys: seed, num_keys, preload (bool), segments, seg_events, skew,
    max_tokens, dup_pct, malformed_pct, delete_pct, and optionally dump_rows
    (a full source dump from a different seed, over 1.25x the key space).
    """
    seed = int(spec["seed"])
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    num_keys = int(spec["num_keys"])
    lsn = 0
    written = {"segments": []}
    if spec.get("preload"):
        pre = events(rng, num_keys, lsn, num_keys, 1.0, spec["max_tokens"], 0, 0,
                     insert_all=True)
        lsn = int(pre["lsn"][-1]) + 3
        _write_events(os.path.join(out_dir, "preload.parquet"), pre, -1, rng)
        written["preload"] = "preload.parquet"
    carry = None  # redeliveries of the previous segment
    for s in range(int(spec["segments"])):
        ev = events(rng, int(spec["seg_events"]), lsn, num_keys, spec["skew"],
                    spec["max_tokens"], spec["delete_pct"], spec["malformed_pct"])
        lsn = int(ev["lsn"][-1]) + 3
        dup_idx = np.nonzero(rng.integers(0, 100, len(ev["lsn"])) < spec["dup_pct"])[0]
        landed = _concat(ev, carry) if carry is not None else ev
        carry = _take(ev, dup_idx)
        name = f"seg-{s:05d}.parquet"
        _write_events(os.path.join(out_dir, name), landed, s, rng)
        written["segments"].append(name)
    if spec.get("dump_rows"):
        drng = np.random.default_rng([seed, 2])
        n = int(spec["dump_rows"])
        ranks = drng.choice(int(num_keys * 1.25), size=n, replace=False).astype(np.int64)
        lens, offsets, values = _tokens(drng, n, spec["max_tokens"], np.zeros(n, bool))
        tbl = pa.Table.from_arrays(
            [
                pa.array(key_names(ranks), pa.string()),
                _list_array(offsets, values, np.zeros(n, bool)),
                pa.array(lens, pa.int32()),
                pa.array(SOURCES[(ranks + 1) % len(SOURCES)], pa.string()),
            ],
            schema=DUMP_SCHEMA,
        )
        pq.write_table(tbl, os.path.join(out_dir, "dump.parquet"))
        written["dump"] = "dump.parquet"
    return written


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("usage: feed.py <spec.json> <out_dir>", file=sys.stderr)
        return 2
    with open(argv[0]) as fh:
        spec = json.load(fh)
    written = write_feed(spec, argv[1])
    with open(os.path.join(argv[1], "feed.json"), "w") as fh:
        json.dump({"spec": spec, **written}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
