"""LakeTable: snapshot-isolated, hash-bucketed parquet tables with atomic commits.

Storage layout::

    <table>/
      _manifests/v000000000001.json     # one immutable manifest per snapshot
      data/<uuid>-b00003-....parquet    # immutable data files, bucket in the name

A manifest is the full table state: schema, bucket count, data-file list (with per-file
row counts, key min/max stats, and the physical-schema id each file was written with),
the set of fence tokens applied so far, and a summary of the commit that produced it.

Commit protocol: write the new manifest to a temp file, then ``os.link`` it to
``v{N+1}.json``. ``link(2)`` fails with EEXIST if another writer got there first —
a lock-free optimistic commit, the same shape as Iceberg's atomic swap. The current
snapshot is simply the highest-numbered manifest; partially written temp files are
invisible because readers only ever list ``v*.json``.

This replaces the reference's Elasticsearch indices: PIT snapshot reads
(ref: recorder/src/main/scala/weco/concepts/recorder/IndexSource.scala:41-56),
idempotent upserts (ref: common/.../BulkUpdateFlow.scala:38-50), and idempotent DDL
(ref: common/.../elasticsearch/Indices.scala:17-37 — here ``create(if_not_exists=True)``).
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import struct
import time
import uuid
from dataclasses import dataclass, field
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DataType,
    DateType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from .schema import conform

MANIFEST_DIR = "_manifests"
BRANCH_DIR = "_branches"
TAG_DIR = "_tags"
DATA_DIR = "data"

# The engine's own per-row state columns: LSN-aware CDC merges stamp the
# last-applied LSN and the tombstone flag; column-level (partial-mode) merges
# add the per-column version vector and the persisted delete barrier. Every
# other column is user data, whatever its name (a user column may start with
# "_").
HIDDEN_LSN = "_lsn"
HIDDEN_DELETED = "_deleted"
HIDDEN_COLV = "_colv"
HIDDEN_DLSN = "_dlsn"
ALL_HIDDEN = (HIDDEN_LSN, HIDDEN_DELETED, HIDDEN_COLV, HIDDEN_DLSN)


def visible_fields(schema: StructType) -> list[StructField]:
    """The user-visible fields of a physical schema: all but ``ALL_HIDDEN``."""
    return [f for f in schema.fields if f.name not in ALL_HIDDEN]


# Sharded manifests: above this file count the root manifest stores
# content-addressed shard refs instead of the inline file list, and a commit
# rewrites ONLY the shards whose buckets changed. At 2^16 buckets × several
# generations the inline list would make every commit rewrite O(table) metadata
# — sharding makes commit metadata I/O O(touched buckets), the same asymptotic
# story as the data files themselves (Iceberg's manifest-list design).
INLINE_FILES_MAX = 256
TARGET_SHARDS = 16


def _shard_key(bucket: int, num_buckets: int) -> int:
    if bucket < 0:
        return -1  # unbucketed driver-side appends get their own shard
    per = max(1, (num_buckets + TARGET_SHARDS - 1) // TARGET_SHARDS)
    return bucket // per


class CommitConflict(RuntimeError):
    """Another writer committed the same version first (optimistic concurrency)."""


@dataclass
class DataFileEntry:
    path: str  # relative to table root
    bucket: int
    rows: int
    schema_id: int
    # native-typed when the parquet stat is numeric (int/float), str otherwise —
    # pruning compares only within the matching domain (lake/merge.read_for_keys)
    min_key: str | int | float | None = None
    max_key: str | int | float | None = None
    # 'base' = fully merged; 'delta' = merge-on-read increment (LWW over _lsn
    # resolves base∪delta at read time; compaction folds deltas back to base)
    kind: str = "base"
    # optional per-column [min, max] for the table's stat_cols property,
    # collected by the same footer pass — Iceberg's manifest column stats:
    # predicate reads skip files whose range can't match (read_where). Keyed
    # by the physical column name at write time; files without stats for a
    # column are always kept (conservative).
    col_stats: dict | None = None
    # non-tombstone rows in this file (rows minus _deleted=true), collected by
    # the same footer-stat pass that reads min/max — what makes COUNT(*) of
    # the live table a manifest-only aggregate on CoW tables (Iceberg's
    # metadata-count optimization). None on pre-upgrade manifests.
    live_rows: int | None = None

    def to_json(self) -> dict:
        return self.__dict__.copy()

    @staticmethod
    def from_json(d: dict) -> "DataFileEntry":
        return DataFileEntry(**d)


@dataclass
class Manifest:
    version: int
    schema_json: str  # current table schema (Spark StructType json)
    key_cols: list[str]
    num_buckets: int
    files: list[DataFileEntry] = field(default_factory=list)
    # physical schema of every file generation, keyed by schema_id (as str for JSON)
    schemas: dict[str, str] = field(default_factory=dict)
    fence_tokens: list[str] = field(default_factory=list)
    summary: dict = field(default_factory=dict)
    properties: dict = field(default_factory=dict)
    # populated when this snapshot was loaded from / written as a sharded
    # manifest: [{"path", "key", "n_files", "hash"}] — lets the next commit
    # reuse unchanged shards by content hash without re-reading them
    shard_refs: list[dict] | None = None

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_json))

    def schema_for(self, schema_id: int) -> StructType:
        return StructType.fromJson(json.loads(self.schemas[str(schema_id)]))

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "schema_json": self.schema_json,
            "key_cols": self.key_cols,
            "num_buckets": self.num_buckets,
            "files": [f.to_json() for f in self.files],
            "schemas": self.schemas,
            "fence_tokens": self.fence_tokens,
            "summary": self.summary,
            "properties": self.properties,
        }

    @staticmethod
    def from_json(d: dict) -> "Manifest":
        return Manifest(
            version=d["version"],
            schema_json=d["schema_json"],
            key_cols=d["key_cols"],
            num_buckets=d["num_buckets"],
            files=[DataFileEntry.from_json(f) for f in d["files"]],
            schemas=d.get("schemas", {}),
            fence_tokens=d.get("fence_tokens", []),
            summary=d.get("summary", {}),
            properties=d.get("properties", {}),
        )


def fence_cursor(m: Manifest, prefix: str) -> int:
    """Highest integer suffix among ``m``'s fence tokens with ``prefix`` —
    the refresh cursor of every change-feed follower (lake/diff.follow): the
    cursor IS the fence state, so resume/replay safety comes from the same
    atomic commit as the data. Taking the manifest, not the table, lets a
    caller check the cursor on the exact snapshot it will CAS against."""
    best = 0
    for tok in m.fence_tokens:
        if tok.startswith(prefix):
            try:
                best = max(best, int(tok[len(prefix):]))
            except ValueError:
                continue
    return best


def bucket_expr(key_cols: list[str], num_buckets: int):
    """Deterministic bucket id for a row: pmod(xxhash64(keys), B).

    xxhash64 is stable across sessions/executors, so the physical layout is
    reproducible and merge-time bucket pruning is sound.
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets)).cast("int")


# Driver-side twin of ``bucket_expr``: Spark's xxhash64 is standard XXH64
# with seed 42, each non-NULL key column hashed in order with the previous
# hash as the next seed. Routing probe keys here costs ~6 us per key (10k keys
# in 0.06 s) instead of a Spark job (lake/merge.read_for_keys).
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1
_XXHASH64_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 of ``data`` (unsigned 64-bit result)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_xxh64_round(a, x) for a, x in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _xxh64_round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _xxh64_round(0, lane), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ (lane * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    return h ^ (h >> 32)


_EPOCH_ORDINAL = datetime.date(1970, 1, 1).toordinal()


def _hash_input(value, dt: DataType) -> bytes | None:
    """The bytes Spark's xxhash64 feeds XXH64 for ``value`` of Spark type
    ``dt`` (by the column's type, not the Python value's), or None for a key
    type the twin does not cover."""
    if isinstance(dt, StringType):
        return value.encode("utf-8")
    if isinstance(dt, BooleanType):
        return struct.pack("<i", int(value))
    if isinstance(dt, (ByteType, ShortType, IntegerType)):
        return struct.pack("<i", value)
    if isinstance(dt, DateType):
        return struct.pack("<i", value.toordinal() - _EPOCH_ORDINAL)
    if isinstance(dt, LongType):
        return struct.pack("<q", value)
    return None


def bucket_of(key: tuple, key_types: list[DataType], num_buckets: int) -> int | None:
    """``bucket_expr`` computed on the driver for one key tuple, or None when
    a key column's type (float, double, decimal, binary, timestamp, ...) has
    no driver-side encoding here."""
    h = _XXHASH64_SEED
    for value, dt in zip(key, key_types):
        if value is None:
            continue  # a NULL column leaves the seed unchanged
        data = _hash_input(value, dt)
        if data is None:
            return None
        h = _xxh64(data, h)
    signed = h - (1 << 64) if h >> 63 else h
    return signed % num_buckets


class LakeTable:
    def __init__(self, path: str, manifest_dir: str = MANIFEST_DIR,
                 branch_name: str | None = None):
        self.path = os.path.abspath(path)
        # main table: manifest_dir == MANIFEST_DIR, branch_name None.
        # branch view: manifest_dir == _branches/<name>, its own linear CAS
        # chain of full-snapshot manifests SHARING the main table's data/ dir
        # (data files are immutable and uuid-named, so chains never collide).
        self.manifest_dir = manifest_dir
        self.branch_name = branch_name

    # ---------- DDL ----------

    @staticmethod
    def create(
        path: str,
        schema: StructType,
        key_cols: list[str],
        num_buckets: int = 16,
        properties: dict | None = None,
        if_not_exists: bool = False,
    ) -> "LakeTable":
        t = LakeTable(path)
        if t.exists():
            if if_not_exists:
                return t
            raise FileExistsError(f"table already exists at {path}")
        os.makedirs(os.path.join(t.path, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(t.path, DATA_DIR), exist_ok=True)
        m = Manifest(
            version=0,
            schema_json=schema.json(),
            key_cols=list(key_cols),
            num_buckets=num_buckets,
            schemas={"0": schema.json()},
            properties=properties or {},
            summary={"operation": "create"},
        )
        t._write_manifest(m)
        return t

    def exists(self) -> bool:
        return os.path.isdir(os.path.join(self.path, self.manifest_dir)) and bool(
            self._manifest_versions()
        )

    # ---------- snapshots ----------

    def _manifest_versions(self) -> list[int]:
        d = os.path.join(self.path, self.manifest_dir)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def current_version(self) -> int:
        versions = self._manifest_versions()
        if not versions:
            raise FileNotFoundError(f"no manifests under {self.path}")
        return versions[-1]

    def _manifest_raw(self, version: int) -> dict:
        p = os.path.join(self.path, self.manifest_dir, f"v{version:012d}.json")
        with open(p) as fh:
            return json.load(fh)

    def manifest(self, version: int | None = None) -> Manifest:
        v = self.current_version() if version is None else version
        d = self._manifest_raw(v)
        m = Manifest.from_json(d)
        refs = d.get("files_shards")
        if refs:
            files: list[DataFileEntry] = []
            for r in refs:
                with open(os.path.join(self.path, r["path"])) as fh:
                    files.extend(DataFileEntry.from_json(x) for x in json.load(fh))
            m.files = files
            m.shard_refs = refs
        return m

    def _write_manifest(self, m: Manifest, base: Manifest | None = None) -> None:
        """Atomic exclusive commit: tmp write + link(2).

        Large file lists are sharded: files group by bucket-range shard, each
        shard is an immutable content-addressed JSON file, and shards whose
        content hash matches the base snapshot's ref are REUSED by reference —
        a commit touching k buckets rewrites O(k/bucket_range) shard files,
        not the whole list. Losing/crashed attempts leave orphan shard files
        that expire_snapshots reclaims."""
        d = os.path.join(self.path, self.manifest_dir)
        os.makedirs(d, exist_ok=True)
        payload = m.to_json()
        if len(m.files) > INLINE_FILES_MAX:
            import hashlib

            groups: dict[int, list[DataFileEntry]] = {}
            for f in m.files:
                groups.setdefault(_shard_key(f.bucket, m.num_buckets), []).append(f)
            base_refs = {
                r["key"]: r for r in (base.shard_refs if base is not None and base.shard_refs else [])
            }
            refs: list[dict] = []
            for k in sorted(groups):
                content = [
                    f.to_json() for f in sorted(groups[k], key=lambda f: f.path)
                ]
                blob = json.dumps(content, sort_keys=True).encode()
                h = hashlib.sha256(blob).hexdigest()[:16]
                br = base_refs.get(k)
                if br is not None and br.get("hash") == h:
                    refs.append(br)  # unchanged shard: carried by reference
                    continue
                rel = os.path.join(self.manifest_dir, f"s-{h}.json")
                sp = os.path.join(self.path, rel)
                if not os.path.exists(sp):  # content-addressed: write once
                    stmp = sp + f".tmp-{uuid.uuid4().hex}"
                    with open(stmp, "w") as fh:
                        fh.write(blob.decode())
                        fh.flush()
                        os.fsync(fh.fileno())
                    os.replace(stmp, sp)
                else:
                    # reusing a shard left by a crashed/losing attempt: restart
                    # its orphan-grace window so a concurrent expire_snapshots
                    # (whose all_shards scan predates this manifest) can't
                    # unlink it between this exists-check and the commit —
                    # mirrors the os.utime re-stamp for staged data files
                    try:
                        os.utime(sp)
                    except OSError:
                        pass
                refs.append(
                    {"path": rel, "key": k, "n_files": len(content), "hash": h}
                )
            payload["files"] = []
            payload["files_shards"] = refs
            m.shard_refs = refs
        final = os.path.join(d, f"v{m.version:012d}.json")
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            raise CommitConflict(f"version {m.version} already committed") from e
        finally:
            os.unlink(tmp)

    def commit(
        self,
        base: Manifest,
        files: list[DataFileEntry],
        schema_json: str | None = None,
        schemas: dict[str, str] | None = None,
        fence_token: str | None = None,
        summary: dict | None = None,
        properties: dict | None = None,
    ) -> Manifest:
        m = Manifest(
            version=base.version + 1,
            schema_json=schema_json or base.schema_json,
            key_cols=base.key_cols,
            num_buckets=base.num_buckets,
            files=files,
            schemas=schemas or dict(base.schemas),
            fence_tokens=(
                base.fence_tokens + [fence_token] if fence_token else list(base.fence_tokens)
            ),
            summary=summary or {},
            # a properties override rides the SAME atomic manifest swap as the
            # data change (e.g. a posting-shard split commits its rewritten
            # rows and the new shard-bits map in one CAS — no window where
            # routing state disagrees with stored data)
            properties=base.properties if properties is None else properties,
        )
        m.summary.setdefault("committed_at_ms", int(time.time() * 1000))
        self._write_manifest(m, base=base)
        return m

    # ---------- column DDL ----------

    def drop_column(self, name: str) -> Manifest:
        """DROP COLUMN as a metadata-only commit: the new table schema omits
        the column; old data files are untouched (read-side conformance
        already projects them onto the table schema, so the bytes become
        invisible). Time travel still sees the column at older versions.

        The dropped NAME is tombstoned in table properties: with name-based
        storage (no Iceberg field IDs), re-adding the same name would read
        the old files' stale bytes back — the merge path refuses it."""
        m = self.manifest()
        visible = [f.name for f in m.schema.fields]
        if name not in visible:
            raise ValueError(f"no such column {name!r}")
        if name in m.key_cols:
            raise ValueError(f"cannot drop key column {name!r}")
        if name in ALL_HIDDEN:
            raise ValueError(f"cannot drop hidden engine column {name!r}")
        new_schema = StructType(
            [f for f in m.schema.fields if f.name != name]
        )
        props = dict(m.properties or {})
        props["dropped_cols"] = sorted(
            set(props.get("dropped_cols", [])) | {name}
        )
        return self.commit(
            m, m.files, schema_json=new_schema.json(), properties=props,
            summary={"operation": "drop_column", "column": name},
        )

    def rename_column(self, old: str, new: str) -> Manifest:
        """RENAME COLUMN as a metadata-only commit. Old file generations keep
        the old physical name; reads remap it (``renamed_cols`` in
        properties, applied in commit order, so chained renames compose).
        The old name is tombstoned like a drop — re-adding it would collide
        with the rename map."""
        m = self.manifest()
        names = [f.name for f in m.schema.fields]
        if old not in names:
            raise ValueError(f"no such column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if old in m.key_cols:
            raise ValueError(f"cannot rename key column {old!r}")
        if old in ALL_HIDDEN:
            raise ValueError(f"cannot rename hidden engine column {old!r}")
        if new.startswith("_"):
            # a new "_" name could shadow an engine column the table gains
            # later (``_lsn`` on a plain table that becomes a CDC target)
            raise ValueError(f"cannot rename to the reserved name {new!r}")
        if any(f.name == HIDDEN_COLV for f in m.schema.fields):
            # column-level (partial-mode) tables version each column in a
            # DATA map keyed by column NAME (_colv) — a metadata-only rename
            # cannot remap those keys, so every register for the renamed
            # column would silently read as "never set" and its values (and
            # ordering guarantees) would be lost at the next resolution.
            raise ValueError(
                "RENAME COLUMN is not supported on column-level "
                "(update_mode='partial') tables: the per-column version "
                "vector keys registers by column name in data"
            )
        new_schema = StructType(
            [
                StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in m.schema.fields
            ]
        )
        props = dict(m.properties or {})
        props["renamed_cols"] = list(props.get("renamed_cols", [])) + [[old, new]]
        props["dropped_cols"] = sorted(
            set(props.get("dropped_cols", [])) | {old}
        )
        return self.commit(
            m, m.files, schema_json=new_schema.json(), properties=props,
            summary={"operation": "rename_column", "from": old, "to": new},
        )

    # ---------- read ----------

    def count_live(self, version: int | None = None) -> int | None:
        """COUNT(*) of the live (non-tombstone) table from MANIFEST STATS ONLY
        — zero data files opened, zero Spark jobs (Iceberg's metadata-count
        answer). Returns None when the count is not metadata-derivable: MoR
        delta files shadow base rows key-by-key (their net effect needs a
        read), and pre-upgrade manifests lack per-file live_rows."""
        m = self.manifest(version)
        if any(f.kind != "base" or f.live_rows is None for f in m.files):
            return None
        return sum(f.live_rows for f in m.files)

    def agg_bounds(
        self, col: str, version: int | None = None
    ) -> tuple | None:
        """MIN/MAX of a live column from MANIFEST STATS ONLY — zero data files
        opened, zero Spark jobs (the aggregate-pushdown analogue of
        ``count_live``). Exact on CoW tables because every current file holds
        exactly the current rows and tombstones carry NULL payloads (parquet
        footer min/max ignores NULLs, same as SQL MIN/MAX).

        Returns ``(min, max)`` or None when not metadata-derivable: MoR delta
        files shadow base rows key-by-key (a stale delta value could widen the
        range), a file lacking stats for ``col`` (not in ``stat_cols`` at its
        write time, or an all-NULL column chunk), or non-numeric stats (string
        footer min/max may be truncated — fine for conservative pruning, not
        for an exact answer)."""
        m = self.manifest(version)
        lo = hi = None
        for f in m.files:
            if f.kind != "base":
                return None
            rng = (f.col_stats or {}).get(col)
            if not rng:
                if f.live_rows == 0 or f.rows == 0:
                    continue  # nothing live to bound
                return None
            fmin, fmax = rng
            if isinstance(fmin, bool) or not isinstance(fmin, (int, float)):
                return None
            lo = fmin if lo is None else min(lo, fmin)
            hi = fmax if hi is None else max(hi, fmax)
        return None if lo is None else (lo, hi)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        m = self.manifest(version)
        return self._read_files(spark, m, m.files)

    def _read_files(
        self, spark: SparkSession, m: Manifest, files: list[DataFileEntry]
    ) -> DataFrame:
        """Read a file subset, conforming every physical-schema generation to the
        current table schema (schema evolution resolution happens here)."""
        table_schema = m.schema
        if not files:
            return spark.createDataFrame([], table_schema)
        by_sid: dict[int, list[str]] = {}
        for f in files:
            by_sid.setdefault(f.schema_id, []).append(os.path.join(self.path, f.path))
        # renames recorded by rename_column, applied in commit order: a file
        # generation that physically stores the old name reads back under the
        # new one (files written after the rename already carry the new name
        # physically and are skipped by the containment check)
        renames = (m.properties or {}).get("renamed_cols", [])
        parts = []
        for sid, paths in sorted(by_sid.items()):
            df = spark.read.schema(m.schema_for(sid)).parquet(*paths)
            for old, new in renames:
                if old in df.columns and new not in df.columns:
                    df = df.withColumnRenamed(old, new)
            parts.append(conform(df, table_schema))
        return reduce(lambda a, b: a.unionByName(b), parts)

    # ---------- write ----------

    def write_data_files(
        self,
        df: DataFrame,
        m: Manifest,
        schema_id: int,
        repartition: bool = True,
        kind: str = "base",
        metric_cols: list[str] | None = None,
        presorted: bool = False,
    ):
        """Write df as bucketed immutable parquet files under data/; return entries.

        One shuffle by bucket id so each output file holds exactly one bucket; the
        bucket id is carried in the file *name* (metadata), not stored in the rows.

        ``metric_cols``: extra indicator columns of ``df`` (nullable, 1-or-NULL)
        carried into the staged files; the return becomes ``(entries, counts)``
        where counts maps (bucket, col) → number of NON-NULL values, recovered
        from the parquet footers' null_count that the stat phase opens anyway.
        This is how the merge gets exact per-(bucket, action) lineage as a
        BY-PRODUCT of the write — zero extra jobs, zero observation aggregates,
        no extra files (an RLE'd 1/NULL tinyint column costs ~nothing), and the
        columns are invisible to readers (_read_files reads with the manifest
        schema explicitly).
        """
        physical = m.schema_for(schema_id)
        commit_id = uuid.uuid4().hex[:12]
        tmp = os.path.join(self.path, DATA_DIR, f".stage-{commit_id}")
        if not metric_cols:
            out = conform(df, physical)
        else:
            # metric cols must ride the conform projection (conform() is a
            # select, so a later df[col] can't resolve across it)
            have = set(df.columns)
            out = df.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    if f.name in have
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in physical.fields
                ],
                *[F.col(c) for c in metric_cols],
            )
        out = out.withColumn("__bucket", bucket_expr(m.key_cols, m.num_buckets))
        if repartition:
            out = out.repartition(m.num_buckets, "__bucket")
        # opt-in key-clustered files (table property "sort_on_write"): a local
        # sort per output partition tightens the parquet row-group min/max on
        # the key columns, so point reads (read_for_keys' pushed IN filter)
        # skip row groups inside big files — Iceberg's sort-order story. Off
        # by default: the ingest path's throughput headline should not pay a
        # write-side sort it doesn't need; lookup-heavy derived tables (the
        # posting index) turn it on at create time.
        # z-clustered tables (lake/cluster.cluster_by) keep their layout across
        # rewrites: CoW merges fold a whole bucket into one file, so FILE-level
        # z-ranges decay to bucket granularity — but z-sorting the rewrite with
        # the boundary grid persisted at cluster time keeps parquet ROW-GROUP
        # min/max tight on the clustered dims, and pushed-down predicates skip
        # row groups inside the rewritten file. Local sort only, no shuffle.
        # Skipped if DDL dropped/renamed a clustered dim (stale grid), or when
        # the caller already laid the data out (cluster_by's own rewrite —
        # ``presorted`` avoids a redundant second full sort).
        zsort = None
        zcols = (m.properties or {}).get("clustered_by")
        zbounds = (m.properties or {}).get("cluster_bounds") or {}
        if zcols and zbounds and all(
            c in out.columns and c in zbounds for c in zcols
        ):
            from .cluster import _cell_expr, _z_expr

            zbits = int((m.properties or {}).get("cluster_bits") or 8)
            zsort = _z_expr([_cell_expr(c, zbounds[c]) for c in zcols], zbits)
        if presorted:
            pass  # layout established upstream; do not re-sort
        elif zsort is not None:
            # z-primary with key tiebreak: sorting by z alone would silently
            # DISCARD a sort_on_write table's key clustering — the tiebreak
            # keeps key locality inside each z-cell so point-lookup row-group
            # skipping degrades gracefully instead of vanishing
            out = out.sortWithinPartitions("__bucket", zsort, *m.key_cols)
        elif (m.properties or {}).get("sort_on_write"):
            out = out.sortWithinPartitions("__bucket", *m.key_cols)
        writer = out.write.partitionBy("__bucket").mode("overwrite")
        # Opt-in parquet bloom filter on the key column (table property
        # "bloom_ndv"): at 100 TB the per-file [min_key, max_key] range stats
        # cannot prune point lookups on uniformly distributed keys (every file
        # spans nearly the whole key domain), while a file-resident bloom lets
        # the scan skip row groups that contain none of the probed keys —
        # Iceberg's answer too (parquet bloom / puffin). The bloom lives in
        # the parquet file (loaded lazily by the reader), NOT in the manifest,
        # so commit metadata stays O(files). Sized by expected distinct keys
        # per file; parquet-mr's default (1M NDV ≈ 1.2 MiB/file) is wasteful
        # at small file sizes, hence the explicit property.
        bloom_ndv = (m.properties or {}).get("bloom_ndv")
        if bloom_ndv:
            key0_ = m.key_cols[0]
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{key0_}", "true"
            ).option(
                f"parquet.bloom.filter.expected.ndv#{key0_}", str(int(bloom_ndv))
            )
        # Opt-in payload-column blooms (table property "bloom_cols": a
        # {col: expected_ndv} map): the complement of z-order clustering —
        # the z/stat machinery serves RANGE probes on a few clustered dims,
        # while a bloom serves EQUALITY probes on high-cardinality payload
        # columns whose min/max spans everything (user ids, URLs, hashes).
        # Same scale story as bloom_ndv: file-resident, lazily loaded,
        # manifest stays O(files). Columns absent from this generation's
        # physical schema are simply ignored by the writer, and a chunk that
        # stays fully dictionary-encoded gets no bloom (parquet drops it —
        # the dictionary already serves as an exact filter).
        for c, ndv in ((m.properties or {}).get("bloom_cols") or {}).items():
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{c}", "true"
            ).option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(int(ndv))
            )
        writer.parquet(f"file://{tmp}")

        key0 = m.key_cols[0]
        staged: list[tuple[str, int]] = []  # (relative path, bucket)
        for dirname in sorted(os.listdir(tmp)):
            if not dirname.startswith("__bucket="):
                continue
            bucket = int(dirname.split("=", 1)[1])
            bdir = os.path.join(tmp, dirname)
            seq = 0
            for fname in sorted(os.listdir(bdir)):
                if not fname.endswith(".parquet"):
                    continue
                src = os.path.join(bdir, fname)
                rel = os.path.join(DATA_DIR, f"{commit_id}-b{bucket:05d}-{seq:04d}.parquet")
                dst = os.path.join(self.path, rel)
                os.rename(src, dst)
                # stamp NOW: rename preserves the Parquet write-time mtime, so a
                # long multi-file write phase would make early files look older
                # than expire_snapshots' orphan grace while still uncommitted —
                # the grace must count from staging completion, not write start
                os.utime(dst)
                staged.append((rel, bucket))
                seq += 1

        # footer stats: a driver-side thread pool for ordinary commits; past
        # DISTRIBUTED_STATS_MIN files the reads fan out as a Spark job (one
        # pyarrow footer read per file on the executors) so the stat phase is
        # never the serial tail of a large commit
        stat_cols = (m.properties or {}).get("stat_cols")
        if len(staged) > DISTRIBUTED_STATS_MIN:
            stats = _distributed_stats(
                df.sparkSession, self.path, staged, key0, metric_cols, stat_cols
            )
        else:
            from concurrent.futures import ThreadPoolExecutor

            def stat(item: tuple[str, int]):
                rel, bucket = item
                full = os.path.join(self.path, rel)
                rows, kmin, kmax, mc, cs = _parquet_stats(
                    full, key0, metric_cols, stat_cols
                )
                return rel, bucket, rows, kmin, kmax, mc, cs, _parquet_live_rows(full)

            workers = min(16, max(4, len(staged)))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                stats = list(pool.map(stat, staged))

        entries: list[DataFileEntry] = []
        counts: dict[tuple[int, str], int] = {}
        for rel, bucket, rows, kmin, kmax, mc, cs, live in stats:
            if rows == 0:
                os.unlink(os.path.join(self.path, rel))
                continue
            for c, n in (mc or {}).items():
                key = (bucket, c)
                counts[key] = counts.get(key, 0) + n
            entries.append(
                DataFileEntry(
                    path=rel, bucket=bucket, rows=rows, schema_id=schema_id,
                    min_key=kmin, max_key=kmax, kind=kind, col_stats=cs,
                    live_rows=live,
                )
            )
        shutil.rmtree(tmp, ignore_errors=True)
        if metric_cols is not None:
            return entries, counts
        return entries

    # ---------- convenience ops ----------

    def overwrite(self, df: DataFrame, fence_token: str | None = None) -> Manifest:
        m = self.manifest()
        files = self.write_data_files(df, m, schema_id=self._current_schema_id(m))
        return self.commit(
            m, files, fence_token=fence_token,
            summary={"operation": "overwrite", "rows": sum(f.rows for f in files)},
        )

    def append(self, df: DataFrame, fence_token: str | None = None) -> Manifest | None:
        """Append-only commit (lineage/metrics tables). Fenced: a token already in the
        manifest makes this a no-op, so retried batches never duplicate rows."""
        m = self.manifest()
        if fence_token and fence_token in m.fence_tokens:
            return None
        files = self.write_data_files(df, m, schema_id=self._current_schema_id(m))
        return self.commit(
            m, m.files + files, fence_token=fence_token,
            summary={"operation": "append", "rows": sum(f.rows for f in files)},
        )

    def append_rows(
        self, rows: list[dict], fence_token: str | None = None
    ) -> Manifest | None:
        """Driver-side append of a small row batch (lineage/metrics) — writes one
        parquet file via pyarrow directly, no Spark job. Fenced like append()."""
        import pyarrow as pa

        m = self.manifest()
        if fence_token and fence_token in m.fence_tokens:
            return None
        if not rows:
            return self.commit(
                m, m.files, fence_token=fence_token,
                summary={"operation": "append", "rows": 0},
            )
        schema = m.schema
        # every field EXPLICITLY nullable at the storage layer, regardless of
        # the logical schema's nullability: crash-recovery marker rows (the
        # outbox_hole row) carry NULL keys, and must land even on tables whose
        # stored schema predates nullable keys — don't rely on pyarrow's
        # tuple-form default staying nullable
        arrow_schema = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType), nullable=True)
             for f in schema.fields]
        )
        tbl = pa.Table.from_pylist(rows, schema=arrow_schema)
        commit_id = uuid.uuid4().hex[:12]
        rel = os.path.join(DATA_DIR, f"{commit_id}-ball0-0000.parquet")
        pq.write_table(tbl, os.path.join(self.path, rel))
        # bucket=-1 = "spans all buckets": these are small metadata appends
        # (lineage, outbox) whose rows are one file, not split by bucket, and
        # whose hole-marker rows carry NULL keys, so bucket pruning must never
        # skip this file — read_for_keys and merge treat -1 as always-touched
        entry = DataFileEntry(
            path=rel, bucket=-1, rows=len(rows),
            schema_id=self._current_schema_id(m),
            live_rows=len(rows),  # driver-side appends carry no tombstones
        )
        return self.commit(
            m, m.files + [entry], fence_token=fence_token,
            summary={"operation": "append", "rows": len(rows)},
        )

    def _current_schema_id(self, m: Manifest) -> int:
        for sid, sj in m.schemas.items():
            if sj == m.schema_json:
                return int(sid)
        sid = max(int(s) for s in m.schemas) + 1
        m.schemas[str(sid)] = m.schema_json
        return sid

    def has_fence_token(self, token: str) -> bool:
        return token in self.manifest().fence_tokens

    def rollback(self, version: int) -> Manifest:
        """Roll the table back to an earlier snapshot by committing a NEW
        manifest that references the old snapshot's files and schema (Iceberg's
        rollback shape: history moves forward, data files are immutable, and
        the rolled-past snapshots remain time-travelable until expiry).

        Fence tokens are restored to the target snapshot's set, so batches
        applied after ``version`` can be replayed — a rollback is exactly
        "rewind the exactly-once cursor"."""
        cur = self.manifest()
        if version >= cur.version:
            raise ValueError(
                f"rollback target {version} is not older than current {cur.version}"
            )
        old = self.manifest(version)
        m = Manifest(
            version=cur.version + 1,
            schema_json=old.schema_json,
            key_cols=old.key_cols,
            num_buckets=old.num_buckets,
            files=old.files,
            schemas=dict(old.schemas),
            fence_tokens=list(old.fence_tokens),
            summary={"operation": "rollback", "to_version": version,
                     "committed_at_ms": int(time.time() * 1000)},
            properties=old.properties,
        )
        self._write_manifest(m, base=cur)
        return m

    # ---------- branches (write-audit-publish) ----------
    #
    # A branch is its own linear manifest chain under _branches/<name>/,
    # sharing the main table's data/ directory (Iceberg's branch refs, realized
    # as per-chain CAS instead of a shared refs map — the same lock-free
    # link(2) commit protocol guards each chain independently). Creating a
    # branch hardlinks the current main manifest into the branch dir, so the
    # fork costs O(1) metadata and zero data copies; every existing writer
    # (merge_into, DML, compaction, schema DDL) works on a branch unchanged
    # because a branch IS a LakeTable. Publish fast-forwards main to the
    # branch head with one ordinary CAS commit — the write-audit-publish
    # pattern: stage a batch on a branch, audit it, then expose it atomically.

    def _branch_dir(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid branch name {name!r}")
        return os.path.join(BRANCH_DIR, name)

    def create_branch(self, name: str, if_not_exists: bool = False) -> "LakeTable":
        """Fork a branch at the current snapshot. Atomic: the hardlink of the
        fork manifest is the creation; two racing creators get EEXIST."""
        if self.branch_name is not None:
            raise ValueError("cannot create a branch from a branch")
        rel = self._branch_dir(name)
        bdir = os.path.join(self.path, rel)
        os.makedirs(bdir, exist_ok=True)
        cur = self.current_version()
        src = os.path.join(self.path, self.manifest_dir, f"v{cur:012d}.json")
        dst = os.path.join(bdir, f"v{cur:012d}.json")
        try:
            os.link(src, dst)
        except FileExistsError:
            if not if_not_exists:
                raise FileExistsError(f"branch {name!r} already exists")
        return LakeTable(self.path, manifest_dir=rel, branch_name=name)

    def branch(self, name: str) -> "LakeTable":
        rel = self._branch_dir(name)
        b = LakeTable(self.path, manifest_dir=rel, branch_name=name)
        if not b.exists():
            raise FileNotFoundError(f"no branch {name!r} at {self.path}")
        return b

    def list_branches(self) -> list[str]:
        d = os.path.join(self.path, BRANCH_DIR)
        if not os.path.isdir(d):
            return []
        return sorted(
            n for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n))
            and LakeTable(self.path, os.path.join(BRANCH_DIR, n), n).exists()
        )

    def fork_version(self) -> int:
        """Branch view only: the main-table version this branch forked at (the
        chain's lowest manifest — the hardlinked fork snapshot)."""
        if self.branch_name is None:
            raise ValueError("fork_version is a branch-view property")
        return self._manifest_versions()[0]

    def publish_branch(self, name: str) -> Manifest:
        """Fast-forward main to the branch head (the WAP 'publish' step).

        Requires main unmoved since the fork — a concurrent main commit means
        the branch folded from a stale base, so publishing would silently drop
        that commit; that is a CommitConflict, not a merge. The branch's fence
        tokens (a superset of the fork's) carry over, so a batch applied on
        the branch fences identically on main after publish — replaying it
        against main is a no-op, exactly-once end to end."""
        if self.branch_name is not None:
            raise ValueError("publish from the main table view")
        b = self.branch(name)
        head = b.manifest()
        fork = b.fork_version()
        cur = self.manifest()
        if cur.version != fork:
            raise CommitConflict(
                f"main advanced to v{cur.version} since branch {name!r} forked "
                f"at v{fork} — re-fork and replay (fast-forward only)"
            )
        if head.version == fork:
            return cur  # nothing committed on the branch
        m = Manifest(
            version=cur.version + 1,
            schema_json=head.schema_json,
            key_cols=head.key_cols,
            num_buckets=head.num_buckets,
            files=head.files,
            schemas=dict(head.schemas),
            fence_tokens=list(head.fence_tokens),
            summary={"operation": "publish", "branch": name,
                     "branch_version": head.version,
                     "committed_at_ms": int(time.time() * 1000)},
            properties=head.properties,
        )
        self._write_manifest(m, base=cur)
        return m

    def drop_branch(self, name: str) -> None:
        """Delete a branch chain. Data files only it referenced become
        orphans; the next expire_snapshots orphan sweep reclaims them past
        the age grace."""
        if self.branch_name is not None:
            raise ValueError("drop from the main table view")
        bdir = os.path.join(self.path, self._branch_dir(name))
        if not os.path.isdir(bdir):
            raise FileNotFoundError(f"no branch {name!r} at {self.path}")
        shutil.rmtree(bdir)

    @staticmethod
    def files_where(m: Manifest, col: str, lo, hi) -> list[DataFileEntry]:
        """Manifest-level file skipping on a payload column (Iceberg column
        stats): keep a file iff its stored [min, max] for ``col`` can
        intersect [lo, hi]. Files without stats for the column (older
        generations, stats-incomplete footers, renamed columns) are KEPT —
        pruning is an optimization, never a correctness filter. Comparison
        only within the matching type domain (string stats never prune a
        numeric probe and vice versa), mirroring read_for_keys."""
        dirty = LakeTable._delta_buckets(m)
        return [
            f for f in m.files
            if f.bucket in dirty or LakeTable._stats_may_match(f, col, lo, hi)
        ]

    @staticmethod
    def _delta_buckets(m: Manifest) -> set:
        """Buckets carrying merge-on-read deltas. NO file in such a bucket may
        be value-pruned: delta rows shadow base rows by KEY, not value, and a
        delta may even be STALE (``_mor_append`` defers the freshness check to
        read-side LWW) — cutting either side of the base∪delta pair on stats
        hands LWW a subset that resolves to the wrong version. Compaction
        folds the bucket back to base and restores prunability."""
        return {f.bucket for f in m.files if f.kind != "base"}

    @staticmethod
    def _stats_may_match(f: DataFileEntry, col: str, lo, hi) -> bool:
        rng = (f.col_stats or {}).get(col)
        if not rng:
            return True
        fmin, fmax = rng
        num_stat = isinstance(fmin, (int, float)) and not isinstance(fmin, bool)
        num_probe = isinstance(lo, (int, float)) and not isinstance(lo, bool)
        if num_stat != num_probe:
            return True  # cross-domain: cannot prune soundly
        return not (hi < fmin or lo > fmax)

    @staticmethod
    def files_where_all(
        m: Manifest, preds: list[tuple[str, object, object]]
    ) -> list[DataFileEntry]:
        """AND-of-ranges file skipping: keep a file iff EVERY (col, lo, hi)
        range can intersect its stats. On a z-ordered table (lake/cluster.py)
        each file covers a small hyper-rectangle of the clustered dims, so a
        multi-dimensional probe prunes multiplicatively — single-column stats
        alone keep every file whose one dim happens to overlap."""
        dirty = LakeTable._delta_buckets(m)
        return [
            f
            for f in m.files
            if f.bucket in dirty
            or all(LakeTable._stats_may_match(f, c, lo, hi) for c, lo, hi in preds)
        ]

    def read_where(
        self,
        spark: SparkSession,
        col: str,
        lo,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Predicate read with manifest-level file skipping: scan only the
        files whose ``col`` range (table property ``stat_cols``) can match,
        then apply the exact filter. With time/source-clustered ingest this
        skips whole files BEFORE any I/O — at 10^6-file scale that is the
        difference between a metadata decision and opening every footer
        (parquet row-group stats still prune inside the files that remain).
        Raw physical rows (hidden CDC columns included) like ``read`` —
        except on MoR manifests, where rows are LWW-resolved BEFORE the
        filter (tombstones retained): filtering raw base∪delta rows would
        silently revive a base row whose newer delta version left the probed
        range. Buckets carrying deltas are never value-pruned at all (see
        ``_delta_buckets`` — a delta may even be stale, so neither side of
        the base∪delta pair can be cut on stats)."""
        m = self.manifest(version)
        hi = lo if hi is None else hi
        files = self.files_where(m, col, lo, hi)
        df = self._read_files_resolved(spark, m, files)
        return df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))

    def _read_files_resolved(
        self, spark: SparkSession, m: Manifest, files: list[DataFileEntry]
    ) -> DataFrame:
        """Read a file subset with MoR resolution where (and ONLY where) it
        is needed: buckets carrying deltas LWW-fold base∪delta by hidden LSN
        — value predicates are only sound against the NEWEST version of each
        key — while clean buckets pass through without touching the
        aggregation (the read_merged split, applied to a pruned subset).
        No-op on pure-base subsets and tables without the hidden columns."""
        from .merge import resolve_rows

        dirty_buckets = {f.bucket for f in files if f.kind != "base"}
        if not dirty_buckets or HIDDEN_LSN not in {
            f.name for f in m.schema.fields
        }:
            return self._read_files(spark, m, files)
        clean = [f for f in files if f.bucket not in dirty_buckets]
        dirty = [f for f in files if f.bucket in dirty_buckets]
        resolved = resolve_rows(self._read_files(spark, m, dirty), m.key_cols)
        if not clean:
            return resolved
        return self._read_files(spark, m, clean).unionByName(resolved)

    def read_where_all(
        self,
        spark: SparkSession,
        preds: list[tuple[str, object, object]],
        version: int | None = None,
    ) -> DataFrame:
        """Conjunctive predicate read with multi-column manifest pruning
        (files_where_all) — the read shape z-order clustering exists for.
        The exact AND filter is re-applied after the file cut, so pruning
        remains an optimization, never a correctness filter. MoR manifests
        are LWW-resolved before the filter (see read_where)."""
        m = self.manifest(version)
        files = self.files_where_all(m, preds)
        df = self._read_files_resolved(spark, m, files)
        for col, lo, hi in preds:
            df = df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))
        return df

    def version_as_of(self, ts_ms: int) -> int:
        """Timestamp time travel (Iceberg/Delta ``FOR SYSTEM_TIME AS OF``):
        the highest version whose commit time is ≤ ``ts_ms``. Commit times
        come from the manifest summaries the writers already stamp; the scan
        reads O(snapshots) local manifest headers, no data I/O."""
        best = None
        for v in self._manifest_versions():
            at = (self._manifest_raw(v).get("summary") or {}).get("committed_at_ms")
            # the create manifest (v0) predates the stamp; treat missing as 0
            if (at or 0) <= ts_ms:
                best = v
        if best is None:
            raise ValueError(
                f"no snapshot committed at or before ts_ms={ts_ms} "
                f"(oldest retained may have been expired)"
            )
        return best

    def history(self) -> list[dict]:
        """Snapshot log, oldest first (DESCRIBE HISTORY analogue): version,
        commit time, operation summary, file/row deltas — all from manifest
        headers, no data I/O."""
        out = []
        prev_files = prev_rows = 0
        for v in self._manifest_versions():
            raw = self._manifest_raw(v)
            m = self.manifest(v)
            n_files = len(m.files)
            n_rows = sum(f.rows for f in m.files)
            s = raw.get("summary") or {}
            out.append({
                "version": v,
                "committed_at_ms": s.get("committed_at_ms"),
                "operation": s.get("operation", "merge"),
                "files": n_files, "rows": n_rows,
                "files_delta": n_files - prev_files,
                "rows_delta": n_rows - prev_rows,
                "fence_tokens": len(m.fence_tokens),
            })
            prev_files, prev_rows = n_files, n_rows
        return out

    def files_df(self, spark: SparkSession, version: int | None = None
                 ) -> DataFrame:
        """The snapshot's file inventory as a queryable DataFrame (Iceberg's
        ``table.files`` metadata table): one row per data file with bucket,
        kind, row counts, key range, and per-column stats serialized to JSON.
        Built from the driver-resident manifest — no data I/O; distributed so
        a 10^6-file inventory is analyzed with ordinary DataFrame ops, not a
        driver loop."""
        import json as _json

        m = self.manifest(version)
        rows = [
            (
                f.path, f.bucket, f.kind, f.rows, f.live_rows, f.schema_id,
                None if f.min_key is None else str(f.min_key),
                None if f.max_key is None else str(f.max_key),
                _json.dumps(f.col_stats) if f.col_stats else None,
            )
            for f in m.files
        ]
        return spark.createDataFrame(
            rows,
            "path string, bucket int, kind string, rows long, "
            "live_rows long, schema_id int, min_key string, max_key string, "
            "col_stats string",
        )

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """The snapshot log as a queryable DataFrame (Iceberg's
        ``table.snapshots`` / DESCRIBE HISTORY): one row per committed
        version, from manifest headers only."""
        return spark.createDataFrame(
            [
                (
                    h["version"], h["committed_at_ms"], h["operation"],
                    h["files"], h["rows"], h["files_delta"], h["rows_delta"],
                    h["fence_tokens"],
                )
                for h in self.history()
            ],
            "version int, committed_at_ms long, operation string, "
            "files int, rows long, files_delta int, rows_delta long, "
            "fence_tokens int",
        )

    # ---------- tags (named immutable snapshots) ----------
    #
    # A tag hardlinks one manifest to _tags/<name>.json: a frozen, named
    # snapshot (Iceberg tags; the natural home for training-data release
    # pins — "the exact table state run X trained on"). Tags survive
    # expire_snapshots: the expiry pins every file/shard a tag references,
    # so a release stays readable after its version leaves the time-travel
    # window; drop_tag releases it to the ordinary orphan sweep.

    def _tag_path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        return os.path.join(self.path, TAG_DIR, f"{name}.json")

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot under a name. Atomic (link(2)); racing creators get
        EEXIST. Returns the pinned version."""
        v = self.current_version() if version is None else version
        src = os.path.join(self.path, self.manifest_dir, f"v{v:012d}.json")
        if not os.path.exists(src):
            raise FileNotFoundError(f"no snapshot v{v} to tag")
        dst = self._tag_path(name)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)
        except FileExistsError:
            raise FileExistsError(f"tag {name!r} already exists") from None
        return v

    def tag_manifest(self, name: str) -> Manifest:
        p = self._tag_path(name)
        try:
            with open(p) as fh:
                d = json.load(fh)
        except FileNotFoundError:
            raise FileNotFoundError(f"no tag {name!r} at {self.path}") from None
        m = Manifest.from_json(d)
        refs = d.get("files_shards")
        if refs:
            files: list[DataFileEntry] = []
            for r in refs:
                with open(os.path.join(self.path, r["path"])) as fh:
                    files.extend(DataFileEntry.from_json(x) for x in json.load(fh))
            m.files = files
            m.shard_refs = refs
        return m

    def read_tag(self, spark: SparkSession, name: str) -> DataFrame:
        """The tagged snapshot's rows, MoR deltas LWW-resolved (tombstones
        kept, hidden columns included — the ``read_merged`` contract)."""
        m = self.tag_manifest(name)
        return self._read_files_resolved(spark, m, m.files)

    def list_tags(self) -> list[str]:
        d = os.path.join(self.path, TAG_DIR)
        if not os.path.isdir(d):
            return []
        return sorted(n[:-5] for n in os.listdir(d) if n.endswith(".json"))

    def drop_tag(self, name: str) -> None:
        try:
            os.unlink(self._tag_path(name))
        except FileNotFoundError:
            raise FileNotFoundError(f"no tag {name!r} at {self.path}") from None

    def _branch_live_paths(self) -> tuple[set[str], set[str]]:
        """(data paths, shard paths) referenced by ANY version of ANY live
        branch OR any tag — pinned against expire_snapshots on the main
        chain."""
        data: set[str] = set()
        shards: set[str] = set()
        for name in self.list_branches():
            b = self.branch(name)
            for v in b._manifest_versions():
                raw = b._manifest_raw(v)
                for r in raw.get("files_shards") or []:
                    shards.add(r["path"])
                data.update(f.path for f in b.manifest(v).files)
        for name in self.list_tags():
            m = self.tag_manifest(name)
            for r in m.shard_refs or []:
                shards.add(r["path"])
            data.update(f.path for f in m.files)
        return data, shards

    def table_stats(self, version: int | None = None) -> dict:
        """Operational summary of a snapshot: file/row/bucket counts, delta
        ratio (MoR health — drives compaction), snapshot count, schema id."""
        m = self.manifest(version)
        deltas = [f for f in m.files if f.kind == "delta"]
        buckets = {f.bucket for f in m.files}
        return {
            "version": m.version,
            "snapshots": len(self._manifest_versions()),
            "rows": sum(f.rows for f in m.files),
            "files": len(m.files),
            "delta_files": len(deltas),
            "delta_rows": sum(f.rows for f in deltas),
            "buckets_present": len(buckets),
            "num_buckets": m.num_buckets,
            "schema_versions": len(m.schemas),
            "fence_tokens": len(m.fence_tokens),
            "sharded_manifest": bool(m.shard_refs),
        }

    def expire_snapshots(
        self, keep_last: int = 1, orphan_grace_seconds: float = 3600.0
    ) -> tuple[int, int]:
        """Drop all but the newest ``keep_last`` manifests and delete data files
        no surviving snapshot references (Iceberg expire_snapshots + orphan-file
        vacuum in one step). Time travel remains available within the kept
        window. Returns (manifests_removed, data_files_removed).

        Also performs a true orphan scan over ``data/``: files written by
        losing/crashed commit attempts never appear in ANY manifest, so walking
        dropped manifests alone would leak a full rewritten copy of every
        touched bucket per lost attempt. Any data file referenced by no
        surviving manifest AND older than ``orphan_grace_seconds`` is deleted —
        the age grace keeps us from racing an in-flight commit that has staged
        files but not yet swapped its manifest (write_data_files re-stamps each
        file's mtime at staging time, so the grace counts from staging, and it
        must exceed the worst-case stage→commit latency — footer stats plus the
        manifest swap, seconds — with a wide margin; the 1 h default is that
        margin, not a tuning knob to shrink)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if self.branch_name is not None:
            # a branch view sees only its own chain — its orphan sweep would
            # reclaim every main-chain data file as unreferenced
            raise ValueError("expire_snapshots runs on the main table view")
        versions = self._manifest_versions()
        keep = versions[-keep_last:]
        drop = versions[:-keep_last]
        live = {f.path for v in keep for f in self.manifest(v).files}
        # live branches pin everything their chains reference (data written on
        # a branch appears in NO main manifest; the fork manifest's shards may
        # belong to a main version being dropped) — only drop_branch releases
        # these, after which the orphan sweep reclaims them
        branch_data, branch_shards = (
            self._branch_live_paths() if self.branch_name is None else (set(), set())
        )
        live |= branch_data
        dropped_refs = {f.path for v in drop for f in self.manifest(v).files}
        removed_files = 0
        # files referenced only by dropped manifests: committed once, now
        # unreachable — delete immediately
        for rel in dropped_refs - live:
            p = os.path.join(self.path, rel)
            try:
                os.unlink(p)
                removed_files += 1
            except FileNotFoundError:
                pass
        # files referenced by NO manifest at all (losing/crashed commit
        # attempts): delete only past the age grace, to avoid racing an
        # in-flight commit that has staged files but not yet swapped its
        # manifest
        now = time.time()
        data_dir = os.path.join(self.path, DATA_DIR)
        if os.path.isdir(data_dir):
            for name in os.listdir(data_dir):
                p = os.path.join(data_dir, name)
                if name.startswith(".stage-") and os.path.isdir(p):
                    # a crashed writer never returns to rmtree its staging dir;
                    # past the grace it is reclaimable wholesale
                    try:
                        if now - os.path.getmtime(p) >= orphan_grace_seconds:
                            shutil.rmtree(p, ignore_errors=True)
                            removed_files += 1
                    except OSError:
                        pass
                    continue
                if not name.endswith(".parquet"):
                    continue
                rel = os.path.join(DATA_DIR, name)
                if rel in live or rel in dropped_refs:
                    continue
                try:
                    if now - os.path.getmtime(p) < orphan_grace_seconds:
                        continue
                    os.unlink(p)
                    removed_files += 1
                except OSError:
                    continue  # raced another cleaner
        # manifest shard files: content-addressed s-*.json under _manifests/.
        # Shards referenced only by dropped manifests die with them; shards
        # referenced by NO manifest (losing commit attempts) die past the grace.
        def shard_paths(vs: list[int]) -> set[str]:
            out: set[str] = set()
            for v in vs:
                for r in self._manifest_raw(v).get("files_shards") or []:
                    out.add(r["path"])
            return out

        live_shards = shard_paths(keep) | branch_shards
        for rel in shard_paths(drop) - live_shards:
            try:
                os.unlink(os.path.join(self.path, rel))
                removed_files += 1
            except FileNotFoundError:
                pass
        mdir = os.path.join(self.path, self.manifest_dir)
        all_shards = shard_paths(self._manifest_versions()) | branch_shards
        for name in os.listdir(mdir):
            if not (name.startswith("s-") and name.endswith(".json")):
                continue
            rel = os.path.join(self.manifest_dir, name)
            if rel in all_shards:
                continue
            p = os.path.join(mdir, name)
            try:
                if now - os.path.getmtime(p) >= orphan_grace_seconds:
                    os.unlink(p)
                    removed_files += 1
            except OSError:
                continue
        for v in drop:
            os.unlink(os.path.join(self.path, self.manifest_dir, f"v{v:012d}.json"))
        return (len(drop), removed_files)


DISTRIBUTED_STATS_MIN = 64


def _distributed_stats(
    spark: SparkSession,
    table_path: str,
    staged: list[tuple[str, int]],
    key0: str,
    metric_cols: list[str] | None = None,
    stat_cols: list[str] | None = None,
) -> list[tuple]:
    """Footer stats as a Spark job: each task reads its files' parquet footers
    with pyarrow on the executor. Requires the table path to be visible from
    executors (true for shared storage on a real cluster and for local mode)."""
    import pandas as pd

    def read_stats(batches):
        for pdf in batches:
            rows_out = []
            for rel, bucket in zip(pdf["rel"], pdf["bucket"]):
                full = os.path.join(table_path, rel)
                rows, kmin, kmax, mc, cs = _parquet_stats(
                    full, key0, metric_cols, stat_cols
                )
                live = _parquet_live_rows(full)
                # stats may be native int/float (numeric keys) — JSON-encode to
                # cross the fixed-type Arrow boundary without stringifying them
                rows_out.append((
                    rel, int(bucket), rows,
                    None if kmin is None else json.dumps(kmin),
                    None if kmax is None else json.dumps(kmax),
                    None if mc is None else json.dumps(mc),
                    None if cs is None else json.dumps(cs),
                    live,
                ))
            yield pd.DataFrame(
                rows_out,
                columns=["rel", "bucket", "rows", "kmin", "kmax", "mc", "cs",
                         "live"],
            )

    sdf = spark.createDataFrame(staged, "rel string, bucket int").repartition(
        max(8, min(64, len(staged) // 8))
    )
    out = sdf.mapInPandas(
        read_stats,
        schema=("rel string, bucket int, rows long, kmin string, kmax string, "
                "mc string, cs string, live long"),
    ).collect()
    return [
        (
            r["rel"], r["bucket"], int(r["rows"]),
            None if r["kmin"] is None else json.loads(r["kmin"]),
            None if r["kmax"] is None else json.loads(r["kmax"]),
            None if r["mc"] is None else json.loads(r["mc"]),
            None if r["cs"] is None else json.loads(r["cs"]),
            int(r["live"]),
        )
        for r in out
    ]


def _arrow_type(dt):
    """Minimal Spark→Arrow type mapping for driver-side appends (primitives only)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    mapping = {
        T.StringType(): pa.string(),
        T.LongType(): pa.int64(),
        T.IntegerType(): pa.int32(),
        T.BooleanType(): pa.bool_(),
        T.DoubleType(): pa.float64(),
        T.FloatType(): pa.float32(),
        T.TimestampType(): pa.timestamp("us", tz="UTC"),
    }
    if dt in mapping:
        return mapping[dt]
    raise TypeError(f"append_rows supports primitive columns only, got {dt}")


def _parquet_stats(path: str, key_col: str, metric_cols: list[str] | None = None,
                   stat_cols: list[str] | None = None):
    """Row count + min/max of the key column from the parquet footer (like
    Iceberg manifest stats), plus non-null counts of ``metric_cols`` when
    requested, plus per-column [min, max] for ``stat_cols`` (manifest column
    stats for predicate file-skipping), plus the LIVE (non-tombstone) row count. Numeric stats keep
    their native type so numeric keys can be range-pruned; byte stats decode
    to str; anything else is stringified (and then only usable for
    string-typed keys).

    Live rows: files of non-CDC tables (no ``_deleted`` column) are all live;
    for CDC files the boolean column's footer min/max usually decides
    (min==max==false → no tombstones; min==max==true → all tombstones), and
    only a mixed file pays one read of the RLE'd boolean column."""
    md = pq.ParquetFile(path).metadata
    rows = md.num_rows
    kmin = kmax = None

    def norm(v):
        if isinstance(v, bytes):
            return v.decode()
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return v
        return str(v)

    arrow_schema = md.schema.to_arrow_schema()
    try:
        idx = arrow_schema.get_field_index(key_col)
    except Exception:
        idx = -1
    if idx >= 0:
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(idx)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = norm(st.min), norm(st.max)
            kmin = lo if kmin is None or lo < kmin else kmin
            kmax = hi if kmax is None or hi > kmax else kmax
    cstats = None
    if stat_cols:
        cstats = {}
        for c in stat_cols:
            try:
                cidx = arrow_schema.get_field_index(c)
            except Exception:
                cidx = -1
            if cidx < 0:
                continue
            cmin = cmax = None
            complete = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(cidx).statistics
                if st is None or not st.has_min_max:
                    complete = False
                    break
                lo, hi = norm(st.min), norm(st.max)
                cmin = lo if cmin is None or lo < cmin else cmin
                cmax = hi if cmax is None or hi > cmax else cmax
            # a row group without stats makes the file's range unknown — omit
            # the column so pruning stays conservative
            if complete and cmin is not None:
                cstats[c] = [cmin, cmax]
        cstats = cstats or None
    if metric_cols is None:
        return rows, kmin, kmax, None, cstats
    # non-null count per indicator column from footer null_count — exact and
    # already in the footer this function opened; a (rare) writer that omitted
    # null_count falls back to reading just that column
    mc: dict[str, int] = {}
    for c in metric_cols:
        try:
            cidx = arrow_schema.get_field_index(c)
        except Exception:
            cidx = -1
        if cidx < 0:
            mc[c] = 0
            continue
        nn, ok = 0, True
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            st = rgm.column(cidx).statistics
            if st is None or st.null_count is None:
                ok = False
                break
            nn += rgm.num_rows - st.null_count
        if ok:
            mc[c] = nn
        else:
            tbl = pq.read_table(path, columns=[c])
            mc[c] = len(tbl) - tbl.column(0).null_count
    return rows, kmin, kmax, mc, cstats


def _parquet_live_rows(path: str, md=None) -> int:
    """Non-tombstone rows of one data file (see _parquet_stats docstring)."""
    if md is None:
        md = pq.ParquetFile(path).metadata
    arrow_schema = md.schema.to_arrow_schema()
    try:
        didx = arrow_schema.get_field_index(HIDDEN_DELETED)
    except Exception:
        didx = -1
    if didx < 0:
        return md.num_rows
    live, decided = 0, True
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        st = rgm.column(didx).statistics
        nulls = st.null_count if st is not None and st.null_count is not None else None
        if st is not None and st.has_min_max and st.min == st.max and nulls == 0:
            live += 0 if st.min else rgm.num_rows
        elif st is not None and st.has_min_max and st.min == st.max and st.min is False:
            # false-or-null rows are all live
            live += rgm.num_rows
        else:
            decided = False
            break
    if decided:
        return live
    col = pq.read_table(path, columns=[HIDDEN_DELETED]).column(0)
    import pyarrow.compute as pc

    return md.num_rows - pc.sum(
        pc.fill_null(col, False).cast("int64")
    ).as_py()
