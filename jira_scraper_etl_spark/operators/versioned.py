"""Versioned snapshot tables: manifest-committed versions with
time-travel reads and keyed snapshot diffs — the miniature of the
lakehouse table-format contract (Delta/Iceberg snapshot isolation)
this engine's maintenance operators assume. This is the engine's one
commit protocol: every exactly-once write (the streaming silver,
MERGE and dedup sinks) commits through ``write_version``.

Commit protocol: a version directory ``v=N`` becomes visible ONLY when
its ``manifest.json`` exists — data files land first, the manifest is
written last via atomic rename. A crash mid-write leaves a manifest-
less directory that every reader (and ``latest_version``) ignores, so
readers always see a complete snapshot or the previous one. Versions
are immutable once committed; ``read_version`` loads exactly the files
the manifest names, which is what makes old versions stable under
concurrent new commits (time travel).

Replay: Structured Streaming's ``foreachBatch`` re-runs a micro-batch
(same id) after a crash between the sink's commit and the checkpoint's.
Each sink records the id in its manifest (``extra={"batch_id": id}``)
and skips a batch for which ``committed(table_dir, id)`` holds.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

_V_RE = re.compile(r"^v=(\d+)$")


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v={version}", "manifest.json")


def committed_versions(table_dir: str) -> list[int]:
    """Versions with a manifest — uncommitted (crashed) directories are
    invisible by construction."""
    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        m = _V_RE.match(name)
        if m and os.path.exists(_manifest_path(table_dir, int(m.group(1)))):
            out.append(int(m.group(1)))
    return sorted(out)


def latest_version(table_dir: str) -> int | None:
    vs = committed_versions(table_dir)
    return vs[-1] if vs else None


def write_version(df: DataFrame, table_dir: str,
                  extra: dict | None = None) -> int:
    """Commit ``df`` as the next version. Data first, manifest last
    (atomic rename), so a crash at any point leaves either the previous
    latest version or the new one — never a torn table. ``extra``
    merges caller metadata into the manifest (the streaming sinks
    record the micro-batch id there for idempotent replay). The row
    count comes from an ``Observation`` on the data write, so the
    commit runs no read-back job."""
    prev = latest_version(table_dir)
    # allocate past EVERY existing v= dir, committed or torn — a
    # crashed attempt's directory is invisible to readers but its slot
    # is burned (never write into a dir whose contents you don't own)
    occupied = [int(m.group(1)) for m in
                (_V_RE.match(n) for n in
                 (os.listdir(table_dir) if os.path.isdir(table_dir) else []))
                if m]
    version = max(occupied) + 1 if occupied else 0
    vdir = os.path.join(table_dir, f"v={version}")
    data_dir = os.path.join(vdir, "data")
    seen = Observation()
    (df.observe(seen, F.count(F.lit(1)).alias("n"))
     .write.mode("errorifexists").parquet(data_dir))
    files = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    manifest = {
        "version": version,
        "parent": prev,
        "n_rows": seen.get["n"],
        "schema": df.schema.jsonValue(),
        "files": files,
        **(extra or {}),
    }
    tmp = os.path.join(vdir, "_manifest.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(table_dir, version))
    return version


def load_manifest(table_dir: str, version: int) -> dict:
    """The committed manifest of ``version`` (raises if uncommitted)."""
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def latest_batch_id(table_dir: str) -> int | None:
    """The micro-batch id in the newest committed manifest (None for a
    fresh table): the streaming sinks' replay watermark."""
    ver = latest_version(table_dir)
    return None if ver is None else load_manifest(table_dir, ver).get("batch_id")


def committed(table_dir: str, batch_id: int) -> bool:
    """Whether micro-batch ``batch_id`` is already committed to the
    table: the replay rule every streaming sink checks first. Batch ids
    only grow, so an id at or below the watermark is a replay."""
    last = latest_batch_id(table_dir)
    return last is not None and batch_id <= last


def effective_versions(table_dir: str) -> list[int]:
    """The read set of a DELTA-APPEND table under compaction
    supersession: the newest compaction version — the committed
    version with the largest ``compacts_through`` in its manifest — plus every committed version numbered PAST that
    threshold. A compaction's content is, by the writer protocol
    (streaming/dedup_sink.maybe_compact), exactly the union of the
    read set at its commit time, and its ``compacts_through`` is the
    highest version committed at that moment, so everything at or
    below the threshold (earlier deltas AND earlier compactions —
    their numbers are necessarily ≤ the newest one's threshold) is
    superseded, never double-read. Tables that never compact degrade
    to ``committed_versions`` unchanged. The read set is therefore
    bounded by the writer's compaction cadence instead of growing one
    entry per commit over the table's life."""
    vs = committed_versions(table_dir)
    best_thru, best_v = -1, None
    manifests = {v: load_manifest(table_dir, v) for v in vs}
    for v in vs:
        thru = manifests[v].get("compacts_through")
        if thru is not None and thru > best_thru:
            best_thru, best_v = thru, v
    out = [v for v in vs
           if v > best_thru
           and manifests[v].get("compacts_through") is None]
    if best_v is not None:
        out.append(best_v)
    return sorted(out)


def read_table(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """The table's current logical content: ONE multi-path parquet scan
    over every file of the effective read set, so plan depth does not
    grow with commit count. Requires the table's versions to share one
    schema, which delta-append tables do by construction (every version
    is rows of the same logical table); the scan takes the newest
    manifest's schema. Returns None for an empty table so callers can
    supply their own empty frame with the right schema.
    """
    paths, mf = [], None
    for v in effective_versions(table_dir):
        mf = load_manifest(table_dir, v)
        data_dir = os.path.join(table_dir, f"v={v}", "data")
        paths.extend(os.path.join(data_dir, f) for f in mf["files"])
    if not paths:
        return None
    return _read_files(spark, mf, paths)


def read_version(spark: SparkSession, table_dir: str,
                 version: int | None = None) -> DataFrame:
    """Time travel: load exactly the files the (given or latest)
    committed manifest names. New commits never change what an old
    version reads."""
    if version is None:
        version = latest_version(table_dir)
        if version is None:
            raise FileNotFoundError(f"no committed versions in {table_dir}")
    mf = _manifest_path(table_dir, version)
    if not os.path.exists(mf):
        raise FileNotFoundError(f"version {version} is not committed")
    manifest = json.load(open(mf))
    data_dir = os.path.join(table_dir, f"v={version}", "data")
    paths = [os.path.join(data_dir, f) for f in manifest["files"]]
    return _read_files(spark, manifest, paths)


def _read_files(spark: SparkSession, manifest: dict,
                paths: list[str]) -> DataFrame:
    """Scan ``paths`` with the schema ``manifest`` stores, so the read
    starts no footer-inference job."""
    schema = StructType.fromJson(manifest["schema"])
    return spark.read.schema(schema).parquet(*paths)


def gc_versions(table_dir: str, retain_last: int) -> list[int]:
    """Version/manifest GC: delete superseded version directories
    outside the time-travel window.

    Keeps (a) the effective read set — it IS the table's current
    content, never deletable — and (b) the newest ``retain_last``
    committed versions, the time-travel window. Everything else is
    superseded content older than the window: full snapshots that a
    newer snapshot's ``compacts_through`` covers (the MERGE sink), or
    deltas a compaction folded in (the dedup sink). Deletion is
    manifest FIRST, then data: a crash mid-GC leaves at worst a torn
    (manifest-less) directory, which every reader already ignores —
    the commit protocol's own crash shape, no new failure mode. Torn
    directories numbered below the newest committed version are reaped
    too (the single-writer protocol only ever writes into a fresh
    max+1 slot, so an old torn slot can never become committed); the
    max-numbered torn directory is left alone — it may be a write in
    flight. Returns the deleted version numbers."""
    vs = committed_versions(table_dir)
    if not vs:
        return []
    keep = set(effective_versions(table_dir)) | set(vs[-retain_last:])
    deleted = []
    for v in vs:
        if v in keep:
            continue
        os.remove(_manifest_path(table_dir, v))
        shutil.rmtree(os.path.join(table_dir, f"v={v}"))
        deleted.append(v)
    occupied = sorted(int(m.group(1)) for m in
                      (_V_RE.match(n) for n in os.listdir(table_dir)) if m)
    for v in occupied[:-1] if occupied else []:
        if v not in vs and v < vs[-1]:
            shutil.rmtree(os.path.join(table_dir, f"v={v}"))
    return deleted


def snapshot_diff(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Keyed diff of two snapshots: one row per key present in either,
    labeled added / removed / changed / unchanged. Value comparison
    hashes the non-key columns (xxhash64 over a canonical struct), so
    the join ships two longs per row regardless of row width — the
    wide-table diff stays a key-plus-hash shuffle. One full-outer
    shuffle join, the MERGE plan shape."""
    cols = [c for c in old.columns if c != key]
    if [c for c in new.columns if c != key] != cols:
        raise ValueError("snapshot schemas differ; diff requires one schema")
    h = F.xxhash64(F.struct(*[F.col(c) for c in cols]))
    # presence is detected on MARKER columns, not key nullability: a
    # legitimately-NULL key never joins, so both snapshots' NULL-key
    # rows surface — each labeled by which side it came from
    o = old.select(F.col(key).alias("k"), h.alias("h_old"),
                   F.lit(True).alias("in_old"))
    n = new.select(F.col(key).alias("k_new"), h.alias("h_new"),
                   F.lit(True).alias("in_new"))
    joined = o.join(n, o.k == n.k_new, "full_outer")
    return joined.select(
        F.coalesce("k", "k_new").alias(key),
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged")).alias("change"),
    )
