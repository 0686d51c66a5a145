"""Standalone Delta transaction-log READER (no delta-spark, no
ManagedTable state): reconstructs a snapshot exactly the way a stock
Delta reader does — ``_last_checkpoint`` → checkpoint parquet → tail
JSON commits — and loads it with plain Spark.

Purpose: the reference's storage contract is Delta
(``silver_Dimensions.py:55`` ``format("delta")``) and this engine
writes the public log protocol (``sources/deltalog.py``), but
``delta-spark`` cannot be installed in the offline build environment.
This module is the independent replay half of that missing round-trip:
it reads ONLY the public on-disk protocol (never the ``_latest``
pointer or the manifests), so ``tests/test_delta_reader.py`` diffing
``read_delta(...)`` against ``ManagedTable.read()`` across every write
path validates both the JSON commits and the checkpoint shape a real
reader would PREFER. It is also a practical escape hatch: any Delta
table written by this engine is readable with nothing but pyspark +
this file.

Protocol reference: https://github.com/delta-io/delta/blob/master/PROTOCOL.md
(action reconciliation: latest metaData/protocol win; an ``add`` is
live until a later ``remove`` of the same path; checkpoint rows seed
the state at the checkpointed version).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import deltalog
from ..session import empty_frame


def _checkpoint_state(log: Path) -> tuple[int, dict, dict, dict] | None:
    """State seeded from ``_last_checkpoint``, or None when absent:
    (checkpoint version, live adds {path: partitionValues}, metaData,
    protocol)."""
    import pyarrow.parquet as pq

    lc = log / "_last_checkpoint"
    if not lc.exists():
        return None
    v = json.loads(lc.read_text())["version"]
    if not (log / f"{v:020d}.checkpoint.parquet").exists():
        # dangling pointer (externally deleted file): fall back to the
        # newest checkpoint parquet actually present — the protocol's
        # "use _last_checkpoint as a HINT" stance. (Validated names via
        # deltalog.checkpoint_files, not a loose digit-prefix glob.)
        have = deltalog.checkpoint_files(log.parent)
        if not have:
            return None  # snapshot_state's contiguity check takes over
        v = int(have[-1].name[:20])
    tbl = pq.read_table(log / f"{v:020d}.checkpoint.parquet")
    adds: dict[str, dict] = {}
    meta: dict = {}
    proto: dict = {}
    for row in tbl.to_pylist():
        if row.get("protocol"):
            proto = row["protocol"]
        if row.get("metaData"):
            m = dict(row["metaData"])
            # map<string,string> columns come back as lists of
            # (key, value) pairs from pyarrow — normalize to dicts
            for k in ("configuration",):
                if isinstance(m.get(k), list):
                    m[k] = dict(m[k])
            if isinstance(m.get("format"), dict) and isinstance(
                m["format"].get("options"), list
            ):
                m["format"] = {**m["format"], "options": dict(m["format"]["options"])}
            meta = m
        if row.get("add"):
            a = dict(row["add"])
            pv = a.get("partitionValues")
            adds[a["path"]] = {
                "pv": dict(pv) if isinstance(pv, list) else (pv or {}),
                "dv": list(a.get("dv") or []),
            }
        if row.get("remove"):
            adds.pop(row["remove"]["path"], None)
    return v, adds, meta, proto


def snapshot_state(table_dir: Path) -> tuple[dict, dict]:
    """Reconstruct the latest snapshot from the public log alone:
    (live adds {path: {'pv': partitionValues, 'dv': [tombstone files]}},
    latest metaData). Prefers the checkpoint (as stock readers do),
    then replays tail commits. ``dv`` is the engine's deletion-vector
    analog — tombstone-row parquet under ``_deletion_vectors/`` that a
    reader must subtract from the file's rows (latest add per path
    wins, Delta reconciliation)."""
    table_dir = Path(table_dir)
    log = deltalog.log_dir(table_dir)
    start = 0
    adds: dict[str, dict] = {}
    meta: dict = {}
    proto: dict = {}
    ck = _checkpoint_state(log)
    if ck is not None:
        start, adds, meta, proto = ck
        start += 1
    versions = [int(p.stem) for p in deltalog.commit_files(table_dir)]
    # replay only over a CONTIGUOUS tail: an expired log with no usable
    # checkpoint (or a hole above the chosen one) cannot be replayed —
    # silently skipping missing commits would return a partial snapshot
    # (files added before the hole vanish); fail loudly instead
    tail = [v for v in versions if v >= start]
    if tail and tail != list(range(tail[0], tail[-1] + 1)):
        raise ValueError(
            f"delta log at {table_dir} has holes above commit {start}: "
            f"{tail} — cannot reconstruct a consistent snapshot"
        )
    if tail and tail[0] != start:
        # ck present: the tail must begin right after it; ck absent
        # (start=0): the tail must begin at 0 (full replay)
        raise ValueError(
            f"delta log at {table_dir} starts at commit {tail[0]} but "
            f"replay needs commit {start} (expired log, checkpoint "
            "missing?) — cannot reconstruct a consistent snapshot"
        )
    for v in versions:
        if v < start:
            continue
        for a in deltalog.read_actions(table_dir, v):
            if "protocol" in a:
                proto = a["protocol"]
            if "metaData" in a:
                meta = a["metaData"]
            if "remove" in a:
                adds.pop(a["remove"]["path"], None)
            if "add" in a:
                adds[a["add"]["path"]] = {
                    "pv": a["add"].get("partitionValues", {}),
                    "dv": list(a["add"].get("dv") or []),
                }
    if not meta:
        raise ValueError(f"no metaData found in delta log at {table_dir}")
    _check_protocol(proto, table_dir)
    return adds, meta


# what THIS reader implements: the base protocol plus the engine's DV
# extension (it subtracts tombstone rows per file in read_delta)
_SUPPORTED_READER_VERSION = 3
_SUPPORTED_READER_FEATURES = {deltalog.DV_FEATURE}


def _check_protocol(proto: dict, table_dir: Path) -> None:
    """The protocol gate every conforming client must run (PROTOCOL.md):
    refuse the table when it demands a reader version or a named reader
    feature this client lacks — this is what keeps a DV-carrying table
    from being read WRONG (tombstoned rows served) by clients that only
    speak reader v1."""
    if not proto:
        return  # legacy/partial log: no protocol action survived — best effort
    mrv = proto.get("minReaderVersion") or 1
    if mrv > _SUPPORTED_READER_VERSION:
        raise ValueError(
            f"delta table at {table_dir} requires minReaderVersion={mrv}; "
            f"this reader supports ≤{_SUPPORTED_READER_VERSION}"
        )
    missing = set(proto.get("readerFeatures") or ()) - _SUPPORTED_READER_FEATURES
    if missing:
        raise ValueError(
            f"delta table at {table_dir} requires reader features "
            f"{sorted(missing)} this reader does not support"
        )


def read_delta(spark: SparkSession, table_dir: str | Path) -> DataFrame:
    """Load the table's latest snapshot through the public Delta log.

    Partition columns are materialized from the log's per-add
    ``partitionValues`` (NOT from directory names — the protocol's
    rule; data files omit those columns). Files are grouped by
    partition tuple, each group read once under the pinned data
    schema, then unioned — group count = live partition count, the
    same fan-out a stock reader's file index carries."""
    table_dir = Path(table_dir)
    adds, meta = snapshot_state(table_dir)
    full = StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = meta.get("partitionColumns", []) or []
    data_schema = StructType([f for f in full.fields if f.name not in pcols])
    ptypes = {f.name: f.dataType for f in full.fields if f.name in pcols}

    if not adds:
        return empty_frame(spark, full)
    groups: dict[tuple, list[str]] = {}
    dv_names: set[str] = set()
    any_dv = False
    for path, st in adds.items():
        pv, dv = st["pv"], st["dv"]
        key = tuple((c, pv.get(c)) for c in pcols)
        groups.setdefault(key, []).append((str(table_dir / path), bool(dv)))
        if dv:
            any_dv = True
            dv_names.update(dv)
    out_cols = [f.name for f in full.fields]
    tag = F.element_at(F.split(F.input_file_name(), "/"), -1)
    parts: list[DataFrame] = []
    dirty_parts: list[DataFrame] = []
    for key, entries in sorted(groups.items(), key=lambda kv: str(kv[0])):
        for is_dirty in (False, True):
            paths = [p for p, d in entries if d == is_dirty]
            if not paths:
                continue
            df = spark.read.schema(data_schema).parquet(*sorted(paths))
            if is_dirty:
                # DV'd file: tag + row position at SCAN time so the
                # anti-join below scopes each tombstone to ITS file
                # and row (positional DV encoding, r13)
                df = df.withColumn("__dv_file", tag).withColumn(
                    "__dv_pos", F.col("_metadata.row_index")
                )
            for c, raw in key:
                lit = (
                    F.lit(None) if raw is None else F.lit(raw)
                ).cast(ptypes[c])
                df = df.withColumn(c, lit)
            if is_dirty:
                dirty_parts.append(df.select(*out_cols, "__dv_file", "__dv_pos"))
            else:
                parts.append(df.select(*out_cols))
    if any_dv and dirty_parts:
        tombs = spark.read.schema("__dv_file string, __dv_pos bigint").parquet(
            *[str(table_dir / "_deletion_vectors" / d) for d in sorted(dv_names)]
        )
        dirty = dirty_parts[0]
        for p in dirty_parts[1:]:
            dirty = dirty.unionByName(p)
        parts.append(
            dirty.join(
                F.broadcast(tombs), ["__dv_file", "__dv_pos"], "left_anti"
            ).select(*out_cols)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
