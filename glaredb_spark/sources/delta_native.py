"""Native Delta Lake table reader — no connector jar required.

Reference surface: crates/glaredb_ext_delta/src/ (the reference implements
its own Delta protocol reader in Rust rather than shipping the Spark
connector; this module is the same idea Spark-first). Protocol per the
public Delta transaction-log spec (delta.io PROTOCOL.md): the table state
is the fold of `_delta_log/<version>.json` commit files (each a sequence of
newline-delimited actions: protocol / metaData / add / remove) over the
optional parquet checkpoint named by `_delta_log/_last_checkpoint`.

Division of labor at 100 TB: the transaction LOG is small (KBs–MBs, one
record per data file) and is parsed driver-side — exactly what delta-rs and
the reference's Rust reader do. The DATA scan stays fully distributed:
the reconstructed active-file list feeds ``spark.read.parquet(*files)``,
so predicate pushdown, column pruning, and partition-value pruning all
behave like any parquet scan. Partition columns (absent from the data
files per the spec) are re-attached per partition group as literal
columns cast to the table schema's types.

Supported: reader protocol v1, and v2+ tables over base parquet — plus
deletionVectors (bitmaps decoded by the from-scratch roaring codec in
sources/roaring.py, applied as a distributed anti-join on
``_metadata.row_index``), columnMapping name/id modes (physical-name
scan + logical rename on read; every write path renames back to
physical names with parquet field ids), v2Checkpoint (UUID-named
checkpoints + _sidecars/), and timestampNtz. Unknown reader features
are refused per spec; COW DML / OPTIMIZE / VACUUM / checkpointing on
DV-carrying tables are rejected rather than producing wrong tables
(DELETE/UPDATE route to the DV-writing strategy instead).
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from glaredb_spark.sources.files import scan_file_keys
from glaredb_spark.sources.footer_stats import (
    range_excludes as _range_excludes,
)

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint(?:\.\d{10}\.(\d{10}))?\.parquet$"
)
# v2 checkpoints (reader feature `v2Checkpoint`) are UUID-named and may be
# parquet or json; their add/remove actions can live in sidecar files
# under _delta_log/_sidecars/ (PROTOCOL.md "V2 Spec Checkpoints")
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})\.(parquet|json)$"
)
# Reader features this reader implements (per spec, anything else must
# be refused, not ignored): deletionVectors (from-scratch roaring codec,
# sources/roaring.py), columnMapping (physical-name scan + logical
# rename), timestampNtz (Spark reads TIMESTAMP_NTZ natively). Both DV
# and mapped tables are rejected for COW DML — a rewrite that ignored
# them would resurrect deleted rows or write wrongly-named columns.
_SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    "v2Checkpoint",
    "typeWidening",
}


class DeltaState:
    """Reconstructed table state: schema + active data files."""

    def __init__(self) -> None:
        self.schema_json: str | None = None
        self.partition_columns: list[str] = []
        self.min_reader_version = 1
        self.min_writer_version = 2
        self.reader_features: set[str] = set()
        self.writer_features: set[str] = set()
        # path -> partitionValues dict (last add wins per spec)
        self.adds: dict[str, dict[str, Any]] = {}
        # path -> full add action (size / modificationTime carried so
        # checkpoints we write preserve real file metadata)
        self.add_meta: dict[str, dict] = {}
        # path -> deletionTimestamp for removed files (the tombstones a
        # spec checkpoint retains so VACUUM-era readers don't resurrect)
        self.removes: dict[str, int] = {}
        # the last metaData action verbatim (id/format/configuration kept
        # for checkpoint fidelity, not just schema/partitions)
        self.metadata_raw: dict | None = None
        # appId -> latest committed transaction version (spec `txn`
        # action — the idempotence handle streaming writers use)
        self.txns: dict[str, int] = {}

    def apply(self, action: dict) -> None:
        if "protocol" in action:
            p = action["protocol"]
            self.min_reader_version = p.get("minReaderVersion", 1)
            self.min_writer_version = p.get("minWriterVersion", 2)
            self.reader_features = set(p.get("readerFeatures") or [])
            self.writer_features = set(p.get("writerFeatures") or [])
        elif "metaData" in action:
            m = action["metaData"]
            self.schema_json = m.get("schemaString")
            self.partition_columns = list(m.get("partitionColumns") or [])
            self.metadata_raw = dict(m)
        elif "add" in action:
            a = action["add"]
            self.adds[a["path"]] = a.get("partitionValues") or {}
            self.add_meta[a["path"]] = dict(a)
            self.removes.pop(a["path"], None)
        elif "remove" in action:
            r = action["remove"]
            self.adds.pop(r["path"], None)
            self.add_meta.pop(r["path"], None)
            self.removes[r["path"]] = int(r.get("deletionTimestamp") or 0)
        elif "txn" in action:
            t = action["txn"]
            self.txns[t["appId"]] = max(
                int(t["version"]), self.txns.get(t["appId"], -1)
            )


def _list_checkpoints(log_dir: str) -> list[tuple[int, "int | str | None"]]:
    """Sorted (version, info) for every checkpoint present in the log
    directory — listed directly rather than trusting ``_last_checkpoint``
    (per spec that file is only a hint and may be stale or missing).
    info: None = classic single-file, int = multipart part count,
    str = v2 UUID-named checkpoint's filename."""
    found: dict[int, "int | str | None"] = {}

    def _rank(info) -> int:  # same version, several complete forms:
        return 0 if info is None else (1 if isinstance(info, int) else 2)

    for n in os.listdir(log_dir):
        m = _CHECKPOINT_RE.match(n)
        info: "int | str | None"
        if m:
            v, info = int(m.group(1)), (int(m.group(2)) if m.group(2) else None)
        else:
            m2 = _CHECKPOINT_V2_RE.match(n)
            if not m2:
                continue
            v, info = int(m2.group(1)), n
        if v not in found or _rank(info) < _rank(found[v]):
            found[v] = info
    return sorted(found.items())


def _latest_version(log_dir: str) -> int | None:
    """Newest table version visible in the log — max over JSON commits AND
    checkpoints, so a checkpoint-only table (pre-checkpoint commits
    cleaned up) is still recognized as an existing table. None when the
    directory holds neither."""
    versions = [
        int(m.group(1))
        for n in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(n))
    ]
    versions.extend(v for v, _ in _list_checkpoints(log_dir))
    return max(versions) if versions else None


def _demap(v):
    # map columns surface as list-of-pairs in pyarrow
    return dict(v) if isinstance(v, list) else v


def _apply_action_row(
    state: DeltaState, row: dict, cols: set, sidecars: "list[str] | None"
) -> None:
    """Apply one one-hot checkpoint row (exactly one action struct
    non-null); collect `sidecar` references when the caller passes a
    sink for them (v2 checkpoints only)."""
    if sidecars is not None and "sidecar" in cols and row.get("sidecar"):
        sidecars.append(dict(row["sidecar"])["path"])
        return
    for kind in ("protocol", "metaData", "add", "remove", "txn"):
        if kind in cols and row.get(kind) is not None:
            action = dict(row[kind])
            if kind == "add" or kind == "remove":
                if "partitionValues" in action:
                    action["partitionValues"] = _demap(
                        action["partitionValues"]
                    )
            elif kind == "metaData":
                if "configuration" in action:
                    action["configuration"] = _demap(action["configuration"])
                fmt = action.get("format")
                if isinstance(fmt, dict) and "options" in fmt:
                    fmt = dict(fmt, options=_demap(fmt["options"]))
                    action["format"] = fmt
            state.apply({kind: action})


def _fold_parquet_actions(
    state: DeltaState, path: str, sidecars: "list[str] | None" = None
) -> None:
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    cols = set(tbl.column_names)
    for row in tbl.to_pylist():
        _apply_action_row(state, row, cols, sidecars)


def _read_checkpoint(
    state: DeltaState, log_dir: str, version: int, info: "int | str | None"
) -> None:
    """Fold a checkpoint snapshot: classic single-file, multipart, or a
    v2 UUID-named checkpoint whose add/remove actions may live in
    sidecar parquet files under _delta_log/_sidecars/ (PROTOCOL.md
    "V2 Spec Checkpoints": the top-level file carries checkpointMetadata
    + protocol/metaData and `sidecar` pointers; sidecar `path` values are
    relative to the _sidecars directory unless absolute)."""
    if isinstance(info, str):  # v2 checkpoint
        top = os.path.join(log_dir, info)
        sidecars: list[str] = []
        if info.endswith(".json"):
            with open(top) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "sidecar" in action:
                        sidecars.append(action["sidecar"]["path"])
                    elif "checkpointMetadata" not in action:
                        state.apply(action)
        else:
            _fold_parquet_actions(state, top, sidecars)
        for ref in sidecars:
            p = (
                ref
                if os.path.isabs(ref) or "://" in ref
                else os.path.join(log_dir, "_sidecars", ref)
            )
            if "://" in p:
                raise RuntimeError(
                    f"v2 checkpoint sidecar at remote URI {ref!r} is not "
                    "supported by the native reader"
                )
            _fold_parquet_actions(state, p)
        return
    if info:
        files = [
            os.path.join(
                log_dir,
                f"{version:020d}.checkpoint.{i:010d}.{info:010d}.parquet",
            )
            for i in range(1, info + 1)
        ]
    else:
        files = [os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")]
    for f in files:
        _fold_parquet_actions(state, f)


def load_delta_state(path: str, version: int | None = None) -> DeltaState:
    """Fold the transaction log into the table state — current, or as of
    a past ``version`` (time travel: fold stops after that commit)."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise RuntimeError(
            f"not a Delta table: {path!r} has no _delta_log/ directory"
        )
    state = DeltaState()
    commits = sorted(
        (int(m.group(1)), os.path.join(log_dir, n))
        for n in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(n))
    )
    checkpoints = _list_checkpoints(log_dir)
    if not commits and not checkpoints:
        raise RuntimeError(f"Delta log at {log_dir!r} contains no commits")
    if version is not None:
        if not any(v == version for v, _ in commits) and not any(
            v == version for v, _ in checkpoints
        ):
            raise RuntimeError(
                f"Delta table at {path!r} has no version {version} "
                f"(available: {sorted({v for v, _ in commits} | {v for v, _ in checkpoints})})"
            )
        commits = [(v, f) for v, f in commits if v <= version]
    # Start the fold from the newest checkpoint at-or-before the target
    # version (all of history for a current-state read). Time travel is
    # checkpoint-aware: once pre-checkpoint commits are cleaned up, the
    # checkpoint is the only complete snapshot of those versions.
    start_after = -1
    eligible = [
        (v, p) for v, p in checkpoints if version is None or v <= version
    ]
    if eligible:
        cp_version, parts = eligible[-1]  # newest complete snapshot wins
        _read_checkpoint(state, log_dir, cp_version, parts)
        start_after = cp_version
    remaining = [(v, f) for v, f in commits if v > start_after]
    if start_after < 0 and remaining and remaining[0][0] != 0:
        # no snapshot covers the head of history: commits 0..N-1 are gone
        # and no checkpoint replaces them — an incomplete fold would
        # silently miss metaData/adds, so refuse loudly instead
        raise RuntimeError(
            f"Delta history at {path!r} is unavailable before version "
            f"{remaining[0][0]} (earlier commits were cleaned up and no "
            "checkpoint at-or-before the requested version exists)"
        )
    for _version_i, fname in remaining:
        with open(fname) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    state.apply(json.loads(line))
    unsupported = state.reader_features - _SUPPORTED_READER_FEATURES
    if state.min_reader_version > 3 or unsupported:
        raise RuntimeError(
            "Delta table requires unsupported reader features "
            f"{sorted(unsupported) or state.min_reader_version}; this native "
            "reader covers base parquet tables — use the delta-spark "
            "connector jar for advanced features."
        )
    if state.schema_json is None:
        raise RuntimeError(f"Delta log at {log_dir!r} has no metaData action")
    return state


# Writer features this native writer actually implements. The Delta
# protocol requires a writer to REFUSE tables whose writerFeatures it
# does not implement (it would otherwise silently break the feature's
# invariants — e.g. stop maintaining row-tracking metadata). Legacy
# minWriterVersion implications (invariants/constraints/generated/
# identity columns) are enforced by definition-presence checks in
# _check_writer_features rather than by version number: a table that
# DECLARES a validation feature but defines no rule is safe to write.
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly", "invariants", "checkConstraints", "generatedColumns",
    "changeDataFeed", "deletionVectors", "columnMapping", "typeWidening",
    "v2Checkpoint", "timestampNtz",
}
# operations a delta.appendOnly=true table refuses (they remove or
# rewrite data; OPTIMIZE/VACUUM/checkpoint/metadata ops stay allowed)
_APPEND_ONLY_BLOCKED = {"overwrite", "delete", "update", "merge", "purge"}
# operations that introduce NEW row values — the only ones obligated to
# evaluate CHECK constraints / invariants / generation expressions
# ("append"/"overwrite" arrive as the df.write mode strings)
_ROW_ADDING_OPS = {"append", "overwrite", "update", "merge"}


def _check_writer_features(state: "DeltaState", operation: str) -> None:
    """Refuse to write when the table requires writer features this
    writer does not implement (r11; the reader-side twin is
    _SUPPORTED_READER_FEATURES at load time)."""
    unknown = state.writer_features - _SUPPORTED_WRITER_FEATURES
    if state.min_writer_version > 7 or unknown:
        what = (
            f"writer features {sorted(unknown)}" if unknown
            else f"minWriterVersion {state.min_writer_version} > 7"
        )
        raise RuntimeError(
            f"Delta table requires unsupported {what}; committing "
            "would break its invariants — use the delta-spark "
            "connector jar to write this table."
        )
    cfg = (state.metadata_raw or {}).get("configuration") or {}
    if cfg.get("delta.appendOnly") == "true" \
            and operation in _APPEND_ONLY_BLOCKED:
        raise RuntimeError(
            f"Delta table is append-only (delta.appendOnly=true); "
            f"cannot {operation}"
        )
    if operation not in _ROW_ADDING_OPS:
        # CHECK constraints / invariants / generated columns only
        # obligate the writer "on new rows"; maintenance ops (optimize/
        # vacuum/checkpoint/purge) and delete rewrite or remove existing
        # rows unchanged (dataChange=false), so the obligation is
        # trivially met (r11 advice #1)
        return
    if any(k.startswith("delta.constraints.") for k in cfg):
        raise RuntimeError(
            "Delta table defines CHECK constraints "
            f"({sorted(k for k in cfg if k.startswith('delta.constraints.'))}); "
            "this writer does not evaluate them"
        )
    for f in json.loads(state.schema_json or '{"fields": []}').get(
            "fields", []):
        md = f.get("metadata") or {}
        if "delta.invariants" in md:
            raise RuntimeError(
                f"column {f.get('name')!r} defines an invariant; this "
                "writer does not evaluate invariants"
            )
        if "delta.generationExpression" in md:
            raise RuntimeError(
                f"column {f.get('name')!r} is a generated column; this "
                "writer does not compute generation expressions"
            )
        if any(k.startswith("delta.identity.") for k in md):
            raise RuntimeError(
                f"column {f.get('name')!r} is an identity column; this "
                "writer does not allocate identity values"
            )


def _part_sort_key(kv):
    """None-safe deterministic ordering for partition-tuple dict items:
    a NULL partition value (__HIVE_DEFAULT_PARTITION__) makes the key
    tuple contain None, and sorted() over mixed None/str raises
    TypeError (r9 review — crashed OPTIMIZE and every multi-partition
    scan of a table with a null partition)."""
    return tuple((v is None, v or "") for v in kv[0])


def _cast_partition_lit(raw: str | None, dtype):
    # spec: partitionValues serializes values as strings, null as JSON null
    if raw is None:
        return F.lit(None).cast(dtype)
    return F.lit(raw).cast(dtype)


def delta_history(spark: SparkSession, path: str) -> DataFrame:
    """Commit history as a table (version, timestamp, operation, mode) —
    the commitInfo line of every log commit (delta-spark's
    ``DESCRIBE HISTORY`` shape, driver-side KB fold)."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise RuntimeError(
            f"not a Delta table: {path!r} has no _delta_log/ directory"
        )
    rows = []
    for n in sorted(os.listdir(log_dir)):
        m = _COMMIT_RE.match(n)
        if not m:
            continue
        ci = {}
        with open(os.path.join(log_dir, n)) as fh:
            for line in fh:
                line = line.strip()
                if line and "commitInfo" in (a := json.loads(line)):
                    ci = a["commitInfo"]
                    break
        rows.append(
            (
                int(m.group(1)),
                ci.get("timestamp"),
                ci.get("operation"),
                (ci.get("operationParameters") or {}).get("mode"),
            )
        )
    return spark.createDataFrame(
        rows, "version bigint, timestamp bigint, operation string, mode string"
    ).orderBy(F.desc("version"))


def _dv_positions(table_path: str, dv: dict):
    """Deleted row indexes for one add action's deletionVector descriptor
    (spec storage types: 'i' inline z85, 'u' uuid-named file under the
    table, 'p' absolute path)."""
    from glaredb_spark.sources.roaring import (
        decode_dv_blob,
        read_dv_file,
        z85_decode,
    )

    st = dv.get("storageType")
    if st == "i":
        return decode_dv_blob(z85_decode(dv["pathOrInlineDv"]))
    if st == "p":
        return read_dv_file(
            dv["pathOrInlineDv"], int(dv["offset"]), int(dv["sizeInBytes"])
        )
    if st == "u":
        import uuid as _uuid

        enc = dv["pathOrInlineDv"]
        prefix, uuid_z85 = enc[:-20], enc[-20:]
        u = _uuid.UUID(bytes=z85_decode(uuid_z85))
        fname = f"deletion_vector_{u}.bin"
        p = os.path.join(table_path, prefix, fname) if prefix else os.path.join(
            table_path, fname
        )
        return read_dv_file(p, int(dv["offset"]), int(dv["sizeInBytes"]))
    raise RuntimeError(f"unknown deletion vector storageType {st!r}")


def _mapping_mode(state: "DeltaState") -> str:
    config = (state.metadata_raw or {}).get("configuration") or {}
    return config.get("delta.columnMapping.mode", "none")


def _physical_map(state: "DeltaState") -> dict[str, str]:
    """logical column name -> physical parquet name (columnMapping
    'name'/'id' modes store it per field as
    delta.columnMapping.physicalName; empty map when unmapped)."""
    if _mapping_mode(state) == "none":
        return {}
    return {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in json.loads(state.schema_json).get("fields", [])
    }


def _field_id_map(state: "DeltaState") -> dict[str, int]:
    """logical column name -> delta.columnMapping.id (the parquet
    field_id 'id'-mode readers resolve by)."""
    if _mapping_mode(state) == "none":
        return {}
    out: dict[str, int] = {}
    for f in json.loads(state.schema_json).get("fields", []):
        fid = (f.get("metadata") or {}).get("delta.columnMapping.id")
        if fid is not None:
            out[f["name"]] = int(fid)
    return out


def _physical_data_schema(
    state: "DeltaState", data_fields
) -> "StructType":
    """SCAN schema for a column-mapped table's data files: physical
    field names, resolved by name (no parquet.field.id metadata — a
    read schema carrying ids makes Spark demand ids in every file,
    which hand-written 'name'-mode files legitimately lack)."""
    phys = _physical_map(state)
    return StructType(
        [
            T.StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
            for f in data_fields
        ]
    )


def _attach_field_ids(df: DataFrame, state: "DeltaState") -> DataFrame:
    """Attach ``parquet.field.id`` metadata to an already-physical-named
    DataFrame ahead of a write, so files WE produce stay resolvable by
    'id'-mode readers (Spark's parquet writer emits field_ids from this
    metadata key)."""
    phys = _physical_map(state)
    fids = _field_id_map(state)
    by_phys = {phys.get(l, l): i for l, i in fids.items()}
    if not by_phys:
        return df
    return df.select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": by_phys[c]})
            if c in by_phys
            else F.col(c)
            for c in df.columns
        ]
    )


def _to_physical(df: DataFrame, state: "DeltaState") -> DataFrame:
    """Rename a logical-named DataFrame to the table's physical column
    names (parquet.field.id metadata attached) ahead of a data-file
    write. Identity when the table is unmapped."""
    phys = _physical_map(state)
    if not phys:
        return df
    fids = _field_id_map(state)
    cols = []
    for c in df.columns:
        meta = {"parquet.field.id": fids[c]} if c in fids else None
        cols.append(F.col(c).alias(phys.get(c, c), metadata=meta))
    return df.select(*cols)


def _dv_positions_frame(spark, table_path: str, dv_adds: dict, keys: dict):
    """(``_dv_path``, ``_dv_pos``) frame of every vectored position —
    ``_dv_path`` is the file's ``_metadata.file_path`` string (``keys``:
    add path -> key, see ``scan_file_keys``). Built in bulk from the
    decoded numpy arrays via pandas/Arrow (no per-row Python tuples: DV
    cardinality is the deleted-row count and can be large)."""
    import numpy as np
    import pandas as pd

    paths, poss = [], []
    for p, dv in dv_adds.items():
        arr = np.asarray(_dv_positions(table_path, dv), dtype=np.int64)
        paths.append(np.full(len(arr), keys[p], dtype=object))
        poss.append(arr)
    pdf = pd.DataFrame(
        {
            "_dv_path": np.concatenate(paths) if paths else [],
            "_dv_pos": np.concatenate(poss) if poss else [],
        }
    )
    return spark.createDataFrame(pdf, "_dv_path string, _dv_pos long")


def _require_no_dvs(state: "DeltaState", operation: str) -> None:
    """COW-compatibility gate for the write paths: a rewrite that
    ignored active deletion vectors would resurrect deleted rows.
    (columnMapping is no longer gated here — every write path renames
    to physical column names via _to_physical/_physical_data_schema.)"""
    dvd = [p for p, a in state.add_meta.items() if a.get("deletionVector")]
    if dvd:
        raise RuntimeError(
            f"{operation} on a table with active deletion vectors is not "
            f"supported by the native writer ({len(dvd)} file(s) carry "
            "DVs; a copy-on-write rewrite that ignored them would "
            "resurrect deleted rows). Use the delta-spark connector jar."
        )


def _partition_literal_str(v) -> "str | None":
    """Python literal -> the log's partitionValues string form: booleans
    are lowercase 'true'/'false' (str(True) is 'True' and would prune
    the matching partition), dates ISO, timestamps SPACE-separated —
    the spec's serialization and what this writer's hive-derived values
    hold; isoformat()'s 'T' would never equal the log string and every
    matching partition's files were silently pruned (ADVICE r8)."""
    import datetime

    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _parse_ts_instant(s: str):
    """ISO-ish timestamp string -> naive-UTC datetime, or None when the
    string doesn't parse. Accepts 'T' or space separators, any
    fractional-second precision, and a 'Z'/offset suffix — stats written
    by different engines disagree on all three."""
    import datetime

    t = s.strip().replace(" ", "T", 1)
    if t.endswith("Z"):
        t = t[:-1] + "+00:00"
    try:
        dt = datetime.datetime.fromisoformat(t)
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return dt


_TS_ISH_RE = re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}")


def _stats_prune(stats_json: "str | None", value_filter: dict) -> bool:
    """True when an add action's stats PROVE no row can satisfy the
    value_filter predicates (min/max per column) — plain literals mean
    equality, ``(op, literal)`` tuples carry range operators ('>', '>=',
    '<', '<='). Missing or unparseable stats never prune; comparisons
    only happen between same-kind values (numbers with numbers, strings
    with strings — ISO date/timestamp strings compare as instants)."""
    if not stats_json:
        return False
    try:
        s = json.loads(stats_json)
    except (ValueError, TypeError):
        return False
    mins = s.get("minValues") or {}
    maxs = s.get("maxValues") or {}
    for col, preds in value_filter.items():
        if col not in mins or col not in maxs:
            continue
        lo, hi = mins[col], maxs[col]
        if isinstance(lo, bool):
            continue
        for want in (preds if isinstance(preds, list) else [preds]):
            op = "="
            if isinstance(want, tuple):
                op, want = want
            if want is None or isinstance(want, bool):
                continue
            num = (int, float)
            if (
                isinstance(want, num)
                and isinstance(lo, num)
                and isinstance(hi, num)
            ):
                if _range_excludes(lo, hi, op, want):
                    return True
            elif (
                isinstance(want, str)
                and isinstance(lo, str)
                and isinstance(hi, str)
            ):
                if (
                    _TS_ISH_RE.match(want)
                    or _TS_ISH_RE.match(lo)
                    or _TS_ISH_RE.match(hi)
                ):
                    # timestamps compare as INSTANTS, not strings:
                    # differing fractional precision or a 'Z' suffix
                    # makes equal instants compare unequal
                    # lexicographically and prunes files containing
                    # matching rows (ADVICE r8)
                    w = _parse_ts_instant(want)
                    l_ = _parse_ts_instant(lo)
                    h = _parse_ts_instant(hi)
                    if w is None or l_ is None or h is None:
                        continue  # unparseable: never prune
                    if _range_excludes(l_, h, op, w):
                        return True
                    continue
                if _range_excludes(lo, hi, op, want):
                    return True
    return False


def version_as_of_delta_native(path: str, as_of) -> int:
    """Commit version current AT the given time (delta-spark
    timestampAsOf semantics): the latest commit whose commitInfo
    timestamp (file mtime fallback) <= AS OF. KB-scale driver walk of
    commit headers. Raises when every retained commit is newer."""
    from glaredb_spark.sources.iceberg_native import parse_as_of_ms

    ts = parse_as_of_ms(as_of)
    path = os.path.abspath(path)
    log_dir = os.path.join(path, "_delta_log")
    latest = _latest_version(log_dir)
    if latest is None:
        raise RuntimeError(f"not a Delta table: {path!r}")
    best = None
    for ver in range(latest + 1):
        commit = os.path.join(log_dir, f"{ver:020d}.json")
        if not os.path.exists(commit):
            continue  # checkpoint-compacted prefix
        # commitInfo sits FIRST (this writer, delta-spark) or LAST
        # (delta-rs) — read the head line and a bounded tail window
        # instead of json-parsing MB-scale commits line by line
        # (r10 review: 'KB header walk' must stay KB)
        cts = None
        with open(commit, "rb") as fh:
            head = fh.readline().strip()
            candidates = [head]
            fh.seek(0, os.SEEK_END)
            size = fh.tell()
            fh.seek(max(0, size - 65536))
            tail_lines = [
                ln for ln in fh.read().splitlines() if ln.strip()
            ]
            if tail_lines:
                candidates.append(tail_lines[-1])
        for raw in candidates:
            try:
                a = json.loads(raw)
            except ValueError:
                continue  # tail window cut a line mid-way
            if "commitInfo" in a:
                cts = a["commitInfo"].get("timestamp")
                break
        if cts is None:
            cts = int(os.stat(commit).st_mtime * 1000)
        if int(cts) <= ts:
            best = ver
    if best is None:
        raise RuntimeError(
            f"no commit at or before {as_of!r} in {path!r}"
        )
    return best


def read_delta_native(
    spark: SparkSession, path: str, version: int | None = None,
    partition_filter: "dict | None" = None,
    value_filter: "dict | None" = None,
    as_of=None,
) -> DataFrame:
    """Read a Delta table directory through the transaction log, returning
    a DataFrame with the table schema (partition columns included).
    ``version`` time-travels to a past commit.

    Files whose add actions carry deletion vectors are filtered by an
    anti-join on (file, ``_metadata.row_index``): DV bitmaps decode
    driver-side (KB-scale roaring blobs, the same layer every Delta
    client folds) into a positions frame joined distributed — no UDFs,
    and files without DVs scan exactly as before.

    ``partition_filter`` ({partition column -> literal}) drops files by
    their log partitionValues BEFORE any scan — log-level pruning (the
    plan-time equivalent happens anyway via the attached partition
    literals, but this keeps the union and file listing small on
    many-partition tables). Values compare as the log's strings; the
    caller still applies the row predicate."""
    if version is None and as_of is not None:
        # time travel by timestamp (r10): latest commit <= AS OF
        version = version_as_of_delta_native(path, as_of)
    state = load_delta_state(path, version=version)
    if value_filter:
        # string literals (the SQL prune= surface) coerce per the TABLE
        # SCHEMA type so _stats_prune compares same-kind values — never
        # by what the literal looks like ('007' on a string column must
        # stay '007'; r9 review)
        ltypes = {
            f.get("name"): (f.get("type") or "")
            for f in json.loads(state.schema_json).get("fields", [])
            if isinstance(f.get("type"), str)
        }

        def _coerce(c, v):
            if isinstance(v, list):  # several predicates on one column
                return [_coerce(c, p) for p in v]
            if isinstance(v, tuple):  # (op, literal) range predicate
                return (v[0], _coerce(c, v[1]))
            t = ltypes.get(c, "")
            if isinstance(v, str):
                try:
                    if t in ("long", "integer", "short", "byte"):
                        return int(v)
                    if t in ("double", "float"):
                        return float(v)
                except ValueError:
                    return v
            return v

        pf = {
            _physical_map(state).get(c, c): _coerce(c, v)
            for c, v in value_filter.items()
        }
        keep = {
            p
            for p, a in state.add_meta.items()
            if not _stats_prune(a.get("stats"), pf)
        }
        state.adds = {p: pv for p, pv in state.adds.items() if p in keep}
        state.add_meta = {
            p: a for p, a in state.add_meta.items() if p in keep
        }
    if partition_filter:
        # range predicates prune via stats only — a tuple serialized to
        # its repr would never equal the log string and wrongly prune
        pf = {
            _physical_map(state).get(c, c): _partition_literal_str(v)
            for c, v in partition_filter.items()
            if not isinstance(v, (tuple, list))
        }
        state.adds = {
            p: pv
            for p, pv in state.adds.items()
            if not any(
                k in pv and pv[k] is not None and pv[k] != want
                for k, want in pf.items()
                if want is not None
            )
        }
        state.add_meta = {
            p: a for p, a in state.add_meta.items() if p in state.adds
        }
    schema = StructType.fromJson(json.loads(state.schema_json))
    part_cols = state.partition_columns
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    # column mapping ('name'/'id' modes): data files carry PHYSICAL
    # column names (delta.columnMapping.physicalName in the schema field
    # metadata; partitionValues keys are physical too) — scan with the
    # physical schema, rename to logical immediately after the read
    phys: dict[str, str] = {}
    if _mapping_mode(state) != "none":
        for f in json.loads(state.schema_json).get("fields", []):
            phys[f["name"]] = (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
    data_schema = StructType(
        [
            type(f)(phys.get(f.name, f.name), f.dataType, f.nullable)
            for f in data_fields
        ]
    )

    def _resolve(p: str) -> str:
        return os.path.join(path, urllib.parse.unquote(p))

    if not state.adds:
        return spark.createDataFrame([], schema)
    dv_adds = {
        p: a["deletionVector"]
        for p, a in state.add_meta.items()
        if a.get("deletionVector") and p in state.adds
    }
    out_cols = [f.name for f in schema.fields]
    keys: dict = {}  # add path -> its _metadata.file_path string

    def _scan(adds):
        files = [_resolve(p) for p in adds]
        df = spark.read.schema(data_schema).parquet(*files)
        if dv_adds:
            by_file = scan_file_keys(df, files, RuntimeError)
            keys.update((p, by_file[f]) for p, f in zip(adds, files))
            # _metadata must be captured at the scan itself, before any
            # projection hides it
            df = df.withColumn(
                "_dv_path", F.col("_metadata.file_path")
            ).withColumn("_dv_pos", F.col("_metadata.row_index"))
        if phys:
            keep = [
                F.col(phys.get(f.name, f.name)).alias(f.name)
                for f in data_fields
            ]
            if dv_adds:
                keep += [F.col("_dv_path"), F.col("_dv_pos")]
            df = df.select(*keep)
        return df

    if not part_cols:
        pieces = [_scan(list(state.adds))]
    else:
        # group files by partition tuple; attach literals per group.
        # Group count = live partition count — the same driver-side
        # cardinality any Delta reader holds in memory from the log.
        by_part: dict[tuple, list[str]] = {}
        for p, pv in state.adds.items():
            key = tuple(pv.get(phys.get(c, c)) for c in part_cols)
            by_part.setdefault(key, []).append(p)
        types = {f.name: f.dataType for f in schema.fields}
        pieces = []
        for key, adds in sorted(by_part.items(), key=_part_sort_key):
            df = _scan(adds)
            for c, raw in zip(part_cols, key):
                df = df.withColumn(c, _cast_partition_lit(raw, types[c]))
            pieces.append(df)
    out = pieces[0]
    for df in pieces[1:]:
        out = out.unionByName(df)
    if dv_adds:
        dels = _dv_positions_frame(spark, path, dv_adds, keys)
        # no explicit broadcast: DV cardinality is unbounded (it is the
        # deleted-row count) — AQE broadcasts when it is actually small
        out = out.join(dels, ["_dv_path", "_dv_pos"], "left_anti")
    return out.select(*out_cols)


# --------------------------------------------------------------------------
# Native writer — append / overwrite commits, no connector jar required.
# --------------------------------------------------------------------------


def _walk_data_files(path: str) -> dict[str, os.stat_result]:
    """Relative path -> stat for every parquet data file under the table
    root (log dir excluded)."""
    out: dict[str, os.stat_result] = {}
    for root, dirs, files in os.walk(path):
        if "_delta_log" in dirs:
            dirs.remove("_delta_log")
        for n in files:
            if n.endswith(".parquet"):
                full = os.path.join(root, n)
                out[os.path.relpath(full, path)] = os.stat(full)
    return out


def _partition_values_from_path(rel: str, part_cols: list[str]) -> dict:
    """Hive-style key=value directory components -> partitionValues dict
    (spec: values serialized as strings, null for the default partition)."""
    vals: dict[str, Any] = {}
    for comp in rel.split(os.sep)[:-1]:
        if "=" not in comp:
            continue
        k, _, v = comp.partition("=")
        if k in part_cols:
            v = urllib.parse.unquote(v)
            vals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return {c: vals.get(c) for c in part_cols}


def _staged_write(
    df: DataFrame, path: str, part_cols: list[str],
    coalesce: int | None = None, subdir_parts: list[str] | None = None,
    parent: str | None = None,
) -> dict[str, os.stat_result]:
    """Write ``df`` as new data files under a UNIQUE per-commit
    subdirectory of the table root and return exactly the files this
    write created (relative path -> stat). Commits attribute only their
    own files — a concurrent writer's in-flight parquet can never be
    claimed by this commit (the before/after directory-diff this
    replaces had that race; ADVICE r4). The spec allows data files in
    any subdirectory of the table root, so no post-write move is needed.
    ``subdir_parts`` pre-routes the write below extra path components
    (OPTIMIZE uses it to land each partition group under its own
    ``k=v`` dirs without a shuffle-inducing partitionBy)."""
    import shutil
    import uuid

    sub = "c" + uuid.uuid4().hex[:16]
    if parent:  # e.g. _change_data/ for CDF files
        sub = os.path.join(parent, sub)
    dest = os.path.join(path, sub, *(subdir_parts or []))
    if coalesce is not None:
        df = df.coalesce(coalesce)
    writer = df.write.mode("append")
    if part_cols and subdir_parts is None:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(dest)
    out: dict[str, os.stat_result] = {}
    commit_root = os.path.join(path, sub)
    for root, _dirs, files in os.walk(commit_root):
        for n in files:
            full = os.path.join(root, n)
            if n.endswith(".parquet"):
                out[os.path.relpath(full, path)] = os.stat(full)
            else:
                # committer markers (_SUCCESS, .crc) — not table data
                try:
                    os.unlink(full)
                except OSError:
                    pass
    if not out:
        shutil.rmtree(commit_root, ignore_errors=True)
    return out


def _commit_actions(log_dir: str, version: int, actions: list[dict]) -> None:
    """Atomically publish one commit: put-if-absent — O_CREAT|O_EXCL on
    POSIX paths, S3 ``If-None-Match: *`` / GCS ``ifGenerationMatch=0``
    conditional writes on object-store log dirs (r11; S3 gained
    conditional writes in 2024, so the delta-rs-era LogStore service is
    no longer required). The loser of a same-version race raises
    FileExistsError (its staged data files stay unreferenced and are
    VACUUM-able)."""
    from glaredb_spark.sources.objectstore import publish_atomic

    commit_path = os.path.join(log_dir, f"{version:020d}.json")
    publish_atomic(
        commit_path,
        "".join(json.dumps(a) + "\n" for a in actions).encode(),
    )


def _file_stats_json(full_path: str) -> "str | None":
    """Per-file ``stats`` JSON for an add action (numRecords /
    minValues / maxValues / nullCount — the structure delta-spark
    data-skips on), from the parquet footer: zero extra data IO. Keys
    are the file's own (physical) column names per spec. Columns
    without footer statistics are simply omitted (absent = never
    skip)."""
    import datetime

    import pyarrow.parquet as pq

    def _j(v):
        if isinstance(v, (datetime.date, datetime.datetime)):
            # 'T'-separated ISO-8601, delta-spark's stats convention
            # (lexicographic compares only hold within one convention)
            return v.isoformat()
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, float) and (v != v or v in (float("inf"),
                                                     float("-inf"))):
            return None  # NaN/inf aren't valid JSON stats
        if isinstance(v, (int, float, str, bool)):
            return v
        return None

    try:
        meta = pq.read_metadata(full_path)
    except Exception:  # noqa: BLE001 — stats are best-effort
        return None
    from glaredb_spark.sources.footer_stats import footer_minmax

    mins, maxs, nulls, complete = footer_minmax(meta)
    out = {"numRecords": meta.num_rows, "minValues": {}, "maxValues": {},
           "nullCount": {}}
    for name in sorted(complete):
        lo, hi = _j(mins[name]), _j(maxs[name])
        if lo is None or hi is None:
            continue
        out["minValues"][name] = lo
        out["maxValues"][name] = hi
        out["nullCount"][name] = nulls.get(name, 0)
    return json.dumps(out)


def _add_action(
    rel: str, st: os.stat_result, part_cols: list[str],
    data_change: bool = True, partition_values: dict | None = None,
    root: str | None = None,
) -> dict:
    add = {
        "path": urllib.parse.quote(rel.replace(os.sep, "/")),
        "partitionValues": (
            partition_values
            if partition_values is not None
            else _partition_values_from_path(rel, part_cols)
        ),
        "size": st.st_size,
        "modificationTime": int(st.st_mtime * 1000),
        "dataChange": data_change,
    }
    if root is not None:
        stats = _file_stats_json(os.path.join(root, rel))
        if stats:
            add["stats"] = stats
    return {"add": add}


def write_delta_native(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    column_mapping: str = "none",
    enable_cdf: bool = False,
) -> int:
    """Commit ``df`` to a Delta table at ``path`` by writing parquet
    distributed (plain ``df.write.parquet``) and then appending ONE
    transaction-log commit driver-side — the same division of labor as
    the reader (and as delta-rs): data moves on the cluster, the log is
    a small driver artifact. Returns the committed version.

    - ``append`` adds the new files; the DataFrame schema must match the
      table schema.
    - ``overwrite`` also emits ``remove`` actions for every previously
      active file (logical delete — old files stay for time travel, per
      the spec).
    - Commit atomicity is put-if-absent via ``O_CREAT|O_EXCL`` on the
      commit file — real optimistic concurrency on any POSIX filesystem;
      a concurrent writer of the same version raises (object stores
      without atomic create need a LogStore service, out of scope, as in
      delta-rs defaults).
    - Checkpoints are not written (readers never need them; they're a
      log-compaction optimization) — the reader consumes them when other
      writers produced them.
    """
    import time
    import uuid

    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported Delta write mode: {mode!r}")
    if column_mapping not in ("none", "name", "id"):
        raise ValueError(
            f"unsupported columnMapping mode: {column_mapping!r}"
        )
    part_cols = list(partition_by or [])
    log_dir = os.path.join(path, "_delta_log")
    state = None
    next_version = 0
    latest = _latest_version(log_dir) if os.path.isdir(log_dir) else None
    if latest is not None:
        # existing table — even if checkpoint-only (all commit JSONs
        # cleaned up after a checkpoint; ADVICE r4 high)
        state = load_delta_state(path)
        _check_writer_features(state, mode)
        existing_schema = StructType.fromJson(json.loads(state.schema_json))
        if [f.name for f in existing_schema.fields] != df.columns:
            raise ValueError(
                "schema mismatch: table has columns "
                f"{[f.name for f in existing_schema.fields]}, DataFrame has "
                f"{df.columns}"
            )
        if part_cols and part_cols != state.partition_columns:
            raise ValueError(
                f"partition columns {part_cols} != table's "
                f"{state.partition_columns}"
            )
        part_cols = state.partition_columns
        next_version = latest + 1
        if column_mapping != "none" and _mapping_mode(state) != column_mapping:
            raise ValueError(
                "columnMapping mode of an existing table cannot be "
                f"changed (table: {_mapping_mode(state)!r}, requested: "
                f"{column_mapping!r})"
            )
    os.makedirs(log_dir, exist_ok=True)

    # creating a column-mapped table: mint physical names + field ids
    # per spec (delta.columnMapping.{id,physicalName} field metadata,
    # mode + maxColumnId in table configuration, columnMapping in the
    # protocol's reader/writer features)
    mapped_schema_fields = None
    if next_version == 0 and column_mapping != "none":
        mapped_schema_fields = []
        for i, f in enumerate(df.schema.fields, start=1):
            fj = f.jsonValue()
            fj["metadata"] = {
                "delta.columnMapping.id": i,
                "delta.columnMapping.physicalName": (
                    f"col-{uuid.uuid4().hex[:12]}"
                ),
            }
            mapped_schema_fields.append(fj)
        state = DeltaState()
        state.schema_json = json.dumps(
            {"type": "struct", "fields": mapped_schema_fields}
        )
        state.partition_columns = part_cols
        state.metadata_raw = {
            "configuration": {"delta.columnMapping.mode": column_mapping}
        }

    # column-mapped target: data files carry physical names (appending
    # logical-named parquet would read back as all-NULL)
    pc_phys = part_cols
    if state is not None and _mapping_mode(state) != "none":
        df = _to_physical(df, state)
        pc_phys = [_physical_map(state).get(c, c) for c in part_cols]
    new_files = _staged_write(df, path, pc_phys)

    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
            }
        }
    ]
    if txn is not None:
        # spec `txn` action: (appId, version) idempotence marker — the
        # handle stream_to_delta uses for exactly-once batch commits
        actions.append(
            {"txn": {"appId": txn[0], "version": int(txn[1]),
                     "lastUpdated": now_ms}}
        )
    if next_version == 0:
        if mapped_schema_fields is not None:
            wfeatures = ["columnMapping"]
            if enable_cdf:
                wfeatures.append("changeDataFeed")
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["columnMapping"],
                        "writerFeatures": wfeatures,
                    }
                }
            )
            schema_string = state.schema_json
            configuration = {
                "delta.columnMapping.mode": column_mapping,
                "delta.columnMapping.maxColumnId": str(
                    len(mapped_schema_fields)
                ),
            }
        else:
            actions.append(
                # CDF is a writer feature gated at writer version 4 —
                # a version-2 writer would be allowed to DML without
                # cdc actions and corrupt the feed (r9 review)
                {"protocol": {"minReaderVersion": 1,
                              "minWriterVersion":
                                  4 if enable_cdf else 2}}
            )
            schema_string = json.dumps(df.schema.jsonValue())
            configuration = {}
        if enable_cdf:
            # DML on this table writes _change_data/ + cdc actions
            configuration[_CDF_KEY] = "true"
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": part_cols,
                    "configuration": configuration,
                    "createdTime": now_ms,
                }
            }
        )
    elif mode == "overwrite":
        for old in sorted(state.adds):
            actions.append(
                {
                    "remove": {
                        "path": old,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
    if next_version > 0 and enable_cdf and not _cdf_enabled(state):
        # turning CDF on for an EXISTING table: commit a metaData update
        # (the flag was previously dropped silently and later DML broke
        # the feed — r9 review) + the writer-feature protocol bump
        meta_raw = dict(state.metadata_raw or {})
        cfg = dict(meta_raw.get("configuration") or {})
        cfg[_CDF_KEY] = "true"
        meta_raw["configuration"] = cfg
        actions.append({"metaData": meta_raw})
        if state.writer_features:
            actions.append({"protocol": {
                "minReaderVersion": max(3, state.min_reader_version),
                "minWriterVersion": 7,
                "readerFeatures": sorted(state.reader_features),
                "writerFeatures": sorted(
                    state.writer_features | {"changeDataFeed"}
                ),
            }})
        elif state.min_writer_version < 4:
            actions.append({"protocol": {
                "minReaderVersion": state.min_reader_version,
                "minWriterVersion": 4,
            }})
        state.metadata_raw = meta_raw  # the cdc staging below sees it
    if (
        next_version > 0
        and mode == "overwrite"
        and state is not None
        and _cdf_enabled(state)
        and state.adds
        and _mapping_mode(state) == "none"
    ):
        # an overwrite REWRITES rows: without cdc actions the commit is
        # underivable and poisons the feed forever (r9 review) — record
        # the replaced rows as deletes and the new rows as inserts
        # (column-mapped tables skip this: table_changes refuses them)
        schema0 = StructType.fromJson(json.loads(state.schema_json))
        types0 = {f.name: f.dataType for f in schema0.fields}
        data_fields0 = [
            f for f in schema0.fields if f.name not in part_cols
        ]
        names0 = [f.name for f in schema0.fields]
        prior = _read_active(
            df.sparkSession, path, list(state.adds.items()),
            StructType(data_fields0), types0, part_cols, state=state,
        ).withColumn("_change_type", F.lit("delete"))
        fresh = df.withColumn("_change_type", F.lit("insert"))
        cdc_df = prior.select(*names0, "_change_type").unionAll(
            fresh.select(*names0, "_change_type")
        )
        cdc = _stage_cdc_files(cdc_df, path, pc_phys)
        actions.extend(_cdc_actions(cdc, pc_phys))
    for rel in sorted(new_files):
        actions.append(_add_action(rel, new_files[rel], pc_phys, root=path))
    _commit_actions(log_dir, next_version, actions)
    return next_version


def _read_active(
    spark: SparkSession,
    path: str,
    pairs,
    data_schema,
    types,
    part_cols,
    with_file_path: bool = False,
    state: "DeltaState | None" = None,
):
    """Distributed read of (relative_file, partitionValues) pairs with
    partition literals re-attached per group (read_delta_native's
    strategy). ``_metadata.file_path`` must be captured at the scan
    itself (it isn't addressable above a union), hence the flag.
    Column-mapped tables (pass ``state``) scan with physical names —
    which is also how partitionValues are keyed — and come back renamed
    to logical, so callers' predicates/rewrites see logical columns."""

    def _resolve(p: str) -> str:
        return os.path.join(path, urllib.parse.unquote(p))

    phys = _physical_map(state) if state is not None else {}
    scan_schema = (
        _physical_data_schema(state, data_schema.fields) if phys else data_schema
    )

    def _demap_names(df):
        if not phys:
            return df
        keep = [
            F.col(phys.get(f.name, f.name)).alias(f.name)
            for f in data_schema.fields
        ]
        extra = [c for c in ("_f",) if c in df.columns]
        return df.select(*keep, *extra)

    if not part_cols:
        df = spark.read.schema(scan_schema).parquet(
            *[_resolve(p) for p, _ in pairs]
        )
        if with_file_path:
            df = df.withColumn("_f", F.col("_metadata.file_path"))
        return _demap_names(df)
    by_part: dict[tuple, list[str]] = {}
    for p, pv in pairs:
        key = tuple(pv.get(phys.get(c, c)) for c in part_cols)
        by_part.setdefault(key, []).append(_resolve(p))
    pieces = []
    for key, files in sorted(by_part.items(), key=_part_sort_key):
        df = spark.read.schema(scan_schema).parquet(*files)
        if with_file_path:
            df = df.withColumn("_f", F.col("_metadata.file_path"))
        df = _demap_names(df)
        for c, raw in zip(part_cols, key):
            df = df.withColumn(c, _cast_partition_lit(raw, types[c]))
        pieces.append(df)
    out = pieces[0]
    for df in pieces[1:]:
        out = out.unionAll(df)
    return out


def _rewrite_matching(
    spark: SparkSession,
    path: str,
    predicate: str,
    operation: str,
    op_params: dict,
    rewrite,
    cdf_rows=None,
) -> tuple[int, int]:
    """Copy-on-write DML core shared by DELETE and UPDATE: find the data
    files containing at least one row matching ``predicate`` (one
    distributed probe aggregating per ``_metadata.file_path``), feed ONLY
    those files through ``rewrite(df, pred_col)`` (their replacement
    rows), and commit remove(touched) + add(new). Untouched files stay
    referenced — cost scales with matched-file count, not table size
    (delta-spark's and delta-rs's strategy). Returns
    (matched_row_count, files_rewritten)."""
    state = load_delta_state(path)
    _require_no_dvs(state, 'copy-on-write DML')
    schema = StructType.fromJson(json.loads(state.schema_json))
    part_cols = state.partition_columns
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(data_fields)
    types = {f.name: f.dataType for f in schema.fields}

    def _resolve(p: str) -> str:
        return os.path.join(path, urllib.parse.unquote(p))

    if not state.adds:
        return (0, 0)

    all_pairs = list(state.adds.items())
    probe_df = _read_active(
        spark, path, all_pairs, data_schema, types, part_cols,
        with_file_path=True, state=state,
    )
    probe = (
        probe_df.select(
            "_f",
            F.expr(predicate).alias("_m"),
        )
        .groupBy("_f")
        .agg(
            F.sum(F.when(F.col("_m"), 1).otherwise(0)).alias("hits"),
        )
        .filter(F.col("hits") > 0)
        .collect()
    )
    if not probe:
        return (0, 0)
    import time

    def _norm(uri: str) -> str:
        return urllib.parse.unquote(urllib.parse.urlparse(uri).path)

    touched_full = {os.path.realpath(_norm(r["_f"])) for r in probe}
    matched = sum(r["hits"] for r in probe)
    touched_rel = [
        p for p in state.adds
        if os.path.realpath(_resolve(p)) in touched_full
    ]
    touched_pairs = [(p, state.adds[p]) for p in touched_rel]
    touched_src = _read_active(
        spark, path, touched_pairs, data_schema, types, part_cols,
        state=state,
    )
    pred_col = F.coalesce(F.expr(predicate), F.lit(False))
    replacement = _to_physical(rewrite(touched_src, pred_col), state)
    phys = _physical_map(state)
    pc_phys = [phys.get(c, c) for c in part_cols]
    new_files = _staged_write(replacement, path, pc_phys)
    cdc_files: dict = {}
    if cdf_rows is not None and _cdf_enabled(state):
        # change rows land under _change_data/ in the SAME commit (spec
        # cdc actions) — table_changes replays them verbatim instead of
        # refusing the rewrite as underivable
        change_df = _to_physical(
            cdf_rows(touched_src, pred_col), state
        )
        cdc_files = _stage_cdc_files(change_df, path, pc_phys)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": operation,
                "operationParameters": op_params,
            }
        }
    ]
    for rel in sorted(touched_rel):
        actions.append(
            {"remove": {"path": rel, "deletionTimestamp": now_ms,
                        "dataChange": True}}
        )
    for rel in sorted(new_files):
        actions.append(_add_action(rel, new_files[rel], pc_phys, root=path))
    actions.extend(_cdc_actions(cdc_files, pc_phys))
    log_dir = os.path.join(path, "_delta_log")
    _commit_actions(log_dir, 1 + _latest_version(log_dir), actions)
    return (int(matched), len(touched_rel))


def _has_dvs(state: "DeltaState") -> bool:
    return any(
        a.get("deletionVector")
        for p, a in state.add_meta.items()
        if p in state.adds
    )


def delete_delta_native(
    spark: SparkSession, path: str, predicate: str, strategy: str = "auto"
) -> tuple[int, int]:
    """DELETE rows matching ``predicate``.

    ``strategy="cow"``: copy-on-write — only files containing matches
    are rewritten (see _rewrite_matching); rejected on tables that
    already carry deletion vectors.

    ``strategy="dv"``: merge-on-read — instead of rewriting data files,
    write DELETION VECTORS marking the matched row positions (the
    delta-spark fast path for small deletes: at 100 TB a 0.1% delete
    stops costing a rewrite of every touched file and costs KB-scale
    bitmaps instead). Works on tables with or without existing DVs
    (positions union).

    ``strategy="auto"`` (default): COW on plain tables, DV on tables
    that already carry vectors — so the SQL surface (DELETE FROM
    '<path>') keeps working after a table goes merge-on-read. Returns
    (deleted_row_count, files_touched)."""
    _check_writer_features(load_delta_state(path), "delete")
    if strategy == "auto":
        strategy = "dv" if _has_dvs(load_delta_state(path)) else "cow"
    if strategy == "dv":
        return _delete_with_dvs(spark, path, predicate)
    if strategy != "cow":
        raise ValueError(f"unknown DELETE strategy {strategy!r}")
    return _rewrite_matching(
        spark,
        path,
        predicate,
        "DELETE",
        {"predicate": predicate},
        lambda df, pred: df.filter(~pred),
        cdf_rows=lambda df, pred: df.filter(pred).withColumn(
            "_change_type", F.lit("delete")
        ),
    )


def _scan_live_with_positions(spark, path: str, state: "DeltaState"):
    """DataFrame of the table's LIVE rows (existing DVs applied) with
    ``_dv_path``/``_dv_pos`` helper columns, plus the ``_dv_path`` key
    (the file's ``_metadata.file_path`` string) -> relative-add-path
    mapping — the shared probe for every DV-writing operation."""
    schema = StructType.fromJson(json.loads(state.schema_json))
    part_cols = state.partition_columns
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(data_fields)
    types = {f.name: f.dataType for f in schema.fields}
    phys = _physical_map(state)
    scan_schema = (
        _physical_data_schema(state, data_fields) if phys else data_schema
    )

    def _resolve(p: str) -> str:
        return os.path.join(path, urllib.parse.unquote(p))

    keys: dict = {}  # add path -> its _metadata.file_path string

    def _with_pos(adds):
        files = [_resolve(p) for p in adds]
        df = spark.read.schema(scan_schema).parquet(*files)
        by_file = scan_file_keys(df, files, RuntimeError)
        keys.update((p, by_file[f]) for p, f in zip(adds, files))
        df = df.withColumn(
            "_dv_path", F.col("_metadata.file_path")
        ).withColumn("_dv_pos", F.col("_metadata.row_index"))
        if phys:  # logical names for the caller's predicate
            df = df.select(
                *[
                    F.col(phys.get(f.name, f.name)).alias(f.name)
                    for f in data_fields
                ],
                "_dv_path",
                "_dv_pos",
            )
        return df

    if not part_cols:
        scanned = _with_pos(list(state.adds))
    else:
        by_part: dict[tuple, list[str]] = {}
        for p, pv in state.adds.items():
            key = tuple(pv.get(phys.get(c, c)) for c in part_cols)
            by_part.setdefault(key, []).append(p)
        pieces = []
        for key, adds in sorted(by_part.items(), key=_part_sort_key):
            df = _with_pos(adds)
            for c, raw in zip(part_cols, key):
                df = df.withColumn(c, _cast_partition_lit(raw, types[c]))
            pieces.append(df)
        scanned = pieces[0]
        for df in pieces[1:]:
            scanned = scanned.unionByName(df)
    dv_old = {
        p: a["deletionVector"]
        for p, a in state.add_meta.items()
        if a.get("deletionVector") and p in state.adds
    }
    if dv_old:
        scanned = scanned.join(
            _dv_positions_frame(spark, path, dv_old, keys),
            ["_dv_path", "_dv_pos"],
            "left_anti",
        )
    return scanned, {k: p for p, k in keys.items()}


def _write_dvs_distributed(
    spark, path: str, state: "DeltaState", matched, rel_of: dict
):
    """Encode+write one roaring .bin per touched file EXECUTOR-SIDE
    (cogrouped applyInPandas; existing DV blobs ride the right side for
    the position union). ``matched`` is a (f, pos) frame of LIVE row
    positions, ``f`` keyed as in ``rel_of`` (``_dv_path`` key ->
    relative add path, from ``_scan_live_with_positions``). Returns one
    collected Row per touched file — the only driver-side product
    (metadata-scale)."""
    import pandas as pd

    from glaredb_spark.sources.roaring import encode_portable64

    dv_old = {
        p: a["deletionVector"]
        for p, a in state.add_meta.items()
        if a.get("deletionVector") and p in state.adds
    }
    key_of = {p: k for k, p in rel_of.items()}
    blob_rows = [
        (key_of[p], encode_portable64(_dv_positions(path, dv)).hex())
        for p, dv in dv_old.items()
    ]
    blobs = spark.createDataFrame(
        blob_rows or [("", "")], "f string, blob_hex string"
    ).filter(F.col("f") != "")

    table_root = path
    out_schema = (
        "f string, dv_name string, offset long, size long, cardinality long"
    )

    def _write_group(key, pos_pdf, blob_pdf):
        import os as _os
        import uuid as _u

        from glaredb_spark.sources.roaring import (
            decode_portable64,
            write_dv_file,
        )

        if pos_pdf.empty:
            return pd.DataFrame(
                columns=["f", "dv_name", "offset", "size", "cardinality"]
            )
        positions = set(int(x) for x in pos_pdf["pos"])
        for h in blob_pdf.get("blob_hex", []):
            positions.update(
                int(x) for x in decode_portable64(bytes.fromhex(h))
            )
        u = _u.uuid4()
        name = f"deletion_vector_{u}.bin"
        offset, size = write_dv_file(
            _os.path.join(table_root, name), sorted(positions)
        )
        return pd.DataFrame(
            [
                {
                    "f": key[0],
                    "dv_name": name,
                    "offset": offset,
                    "size": size,
                    "cardinality": len(positions),
                }
            ]
        )

    return (
        matched.groupBy("f")
        .cogroup(blobs.groupBy("f"))
        .applyInPandas(_write_group, out_schema)
        .collect()
    )


def _dv_update_actions(
    state: "DeltaState", rel_of: dict, results, now_ms: int
) -> tuple[int, list[dict]]:
    """remove+add action pairs re-pointing each touched file at its new
    vector ('u' storage); returns (newly_deleted_rows, actions)."""
    import uuid as _uuid

    from glaredb_spark.sources.roaring import z85_encode

    deleted = 0
    actions: list[dict] = []
    for r in sorted(results, key=lambda r: r["f"]):
        rel = rel_of[r["f"]]
        old = state.add_meta[rel]
        prev_card = int(
            (old.get("deletionVector") or {}).get("cardinality", 0)
        )
        deleted += int(r["cardinality"]) - prev_card
        actions.append(
            {"remove": {"path": rel, "deletionTimestamp": now_ms,
                        "dataChange": True}}
        )
        new_add = dict(old)
        u = r["dv_name"][len("deletion_vector_"):-len(".bin")]
        new_add["deletionVector"] = {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(_uuid.UUID(u).bytes),
            "offset": int(r["offset"]),
            "sizeInBytes": int(r["size"]),
            "cardinality": int(r["cardinality"]),
        }
        new_add["dataChange"] = True
        actions.append({"add": new_add})
    return deleted, actions


def _protocol_upgrade_action(state: "DeltaState") -> list[dict]:
    if "deletionVectors" in state.reader_features:
        return []
    return [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                # pre-existing features are carried forward — replacing
                # them would write a spec-invalid protocol
                "readerFeatures": sorted(
                    state.reader_features | {"deletionVectors"}
                ),
                "writerFeatures": sorted(
                    state.writer_features | {"deletionVectors"}
                ),
            }
        }
    ]


def _delete_with_dvs(
    spark: SparkSession, path: str, predicate: str
) -> tuple[int, int]:
    """Deletion-vector-writing DELETE (see delete_delta_native). Fully
    distributed where it matters: the probe scans live rows, matched
    positions group per file, and bitmaps are encoded and written
    executor-side — no per-row data reaches the driver; the commit is a
    remove+add pair per touched file plus a protocol upgrade when
    needed."""
    import time

    path = os.path.abspath(path)
    state = load_delta_state(path)
    if not state.adds:
        return (0, 0)
    scanned, rel_of = _scan_live_with_positions(spark, path, state)
    matched_rows = scanned.filter(
        F.coalesce(F.expr(predicate), F.lit(False))
    )
    cdf_on = _cdf_enabled(state)
    if cdf_on:
        # one evaluation feeds BOTH the DV write and the cdc rows —
        # re-running a nondeterministic predicate could make the feed
        # disagree with the vectors (r9 review)
        matched_rows = matched_rows.persist()
    matched = matched_rows.select(
        F.col("_dv_path").alias("f"), F.col("_dv_pos").alias("pos")
    )
    results = _write_dvs_distributed(spark, path, state, matched, rel_of)
    if not results:
        if cdf_on:
            matched_rows.unpersist()
        return (0, 0)
    cdc_files: dict = {}
    pc_phys_cdc = [
        _physical_map(state).get(c, c) for c in state.partition_columns
    ]
    if cdf_on:
        schema = StructType.fromJson(json.loads(state.schema_json))
        change = matched_rows.select(
            *[f.name for f in schema.fields]
        ).withColumn("_change_type", F.lit("delete"))
        cdc_files = _stage_cdc_files(
            _to_physical(change, state), path, pc_phys_cdc
        )
        matched_rows.unpersist()
    now_ms = int(time.time() * 1000)
    deleted, pairs = _dv_update_actions(state, rel_of, results, now_ms)
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "DELETE",
                "operationParameters": {"predicate": predicate,
                                        "strategy": "deletion-vectors"},
            }
        }
    ] + _protocol_upgrade_action(state) + pairs
    actions.extend(_cdc_actions(cdc_files, pc_phys_cdc))
    log_dir = os.path.join(path, "_delta_log")
    _commit_actions(log_dir, 1 + _latest_version(log_dir), actions)
    return (deleted, len(results))


def _update_with_dvs(
    spark: SparkSession, path: str, set_exprs: dict[str, str], predicate: str
) -> tuple[int, int]:
    """Deletion-vector-writing UPDATE (delta-spark's DV update shape):
    matched rows are DV-marked in their current files and their UPDATED
    COPIES land as new appended files in the same commit — touched files
    are never rewritten, so an update of k rows costs k new rows + KB
    bitmaps instead of a rewrite of every touched file."""
    import time

    path = os.path.abspath(path)
    state = load_delta_state(path)
    if not state.adds:
        return (0, 0)
    schema = StructType.fromJson(json.loads(state.schema_json))
    unknown = set(set_exprs) - {f.name for f in schema.fields}
    if unknown:
        raise ValueError(f"UPDATE SET on unknown columns: {sorted(unknown)}")
    part_cols = state.partition_columns
    scanned, rel_of = _scan_live_with_positions(spark, path, state)
    matched = scanned.filter(
        F.coalesce(F.expr(predicate), F.lit(False))
    ).persist()
    try:
        positions = matched.select(
            F.col("_dv_path").alias("f"), F.col("_dv_pos").alias("pos")
        )
        results = _write_dvs_distributed(
            spark, path, state, positions, rel_of
        )
        if not results:
            return (0, 0)
        updated_cols = []
        for f in schema.fields:
            if f.name in set_exprs:
                updated_cols.append(
                    F.expr(set_exprs[f.name]).cast(f.dataType).alias(f.name)
                )
            else:
                updated_cols.append(F.col(f.name))
        pc_phys = [
            _physical_map(state).get(c, c) for c in part_cols
        ]
        new_files = _staged_write(
            _to_physical(matched.select(*updated_cols), state),
            path,
            pc_phys,
        )
        cdc_files: dict = {}
        if _cdf_enabled(state):
            names = [f.name for f in schema.fields]
            pre = matched.select(*names).withColumn(
                "_change_type", F.lit("update_preimage")
            )
            post = matched.select(*updated_cols).withColumn(
                "_change_type", F.lit("update_postimage")
            )
            cdc_files = _stage_cdc_files(
                _to_physical(pre.unionAll(post), state),
                path, pc_phys,
            )
    finally:
        matched.unpersist()
    now_ms = int(time.time() * 1000)
    updated, pairs = _dv_update_actions(state, rel_of, results, now_ms)
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "UPDATE",
                "operationParameters": {"predicate": predicate,
                                        "strategy": "deletion-vectors"},
            }
        }
    ] + _protocol_upgrade_action(state) + pairs
    for rel in sorted(new_files):
        actions.append(_add_action(rel, new_files[rel], pc_phys, root=path))
    actions.extend(_cdc_actions(cdc_files, pc_phys))
    log_dir = os.path.join(path, "_delta_log")
    _commit_actions(log_dir, 1 + _latest_version(log_dir), actions)
    return (updated, len(results))


def restore_delta_native(spark: SparkSession, path: str,
                         version: int) -> tuple[int, int]:
    """RESTORE the table's DATA to an earlier version (delta-spark's
    ``RESTORE TABLE ... TO VERSION AS OF`` — the Delta twin of the r14
    Iceberg snapshot rollback): ONE new commit whose actions remove
    every currently-active file absent from (or carrying different add
    metadata than) the target version and re-add every target-version
    file the current state lost. History is preserved — time travel to
    the pre-restore tip keeps working — and the log only ever grows, so
    concurrent readers fold a consistent state.

    Restored files must still exist on disk: a VACUUM that ran after
    the target version makes the restore impossible and raises by name
    (delta-spark's contract). Metadata (schema / partitioning /
    configuration) must match the target version — a schema-crossing
    RESTORE refuses loudly instead of silently flipping readers.
    Returns (files_removed, files_readded); (0, 0) = already there."""
    import time as _time

    path = os.path.abspath(path)
    log_dir = os.path.join(path, "_delta_log")
    cur_v = _latest_version(log_dir)
    if cur_v is None:
        raise ValueError(f"no Delta log at {path!r}")
    version = int(version)
    old = load_delta_state(path, version=version)
    cur = load_delta_state(path)
    _check_writer_features(cur, "restore")

    def _meta_key(s: "DeltaState"):
        m = s.metadata_raw or {}
        return (
            s.schema_json,
            tuple(s.partition_columns),
            json.dumps(m.get("configuration") or {}, sort_keys=True),
        )

    if _meta_key(old) != _meta_key(cur):
        raise ValueError(
            f"RESTORE to version {version} crosses a schema/"
            "partitioning/configuration change; restore the metadata "
            "explicitly first (ALTER TABLE), then restore the data"
        )
    removes = [
        p for p in cur.adds
        if p not in old.adds or cur.add_meta[p] != old.add_meta[p]
    ]
    readds = [
        p for p in old.adds
        if p not in cur.adds or cur.add_meta[p] != old.add_meta[p]
    ]
    if not removes and not readds:
        return (0, 0)
    missing = [
        p for p in readds
        if not os.path.exists(
            os.path.join(path, urllib.parse.unquote(p))
        )
    ]
    if missing:
        raise ValueError(
            f"cannot RESTORE to version {version}: "
            f"{len(missing)} data file(s) were VACUUMed since "
            f"(first: {urllib.parse.unquote(missing[0])!r})"
        )
    ts = int(_time.time() * 1000)
    actions: list[dict] = [{
        "commitInfo": {
            "timestamp": ts,
            "operation": "RESTORE",
            "operationParameters": {"version": str(version)},
        }
    }]
    actions += [
        {"remove": {"path": p, "deletionTimestamp": ts,
                    "dataChange": True}}
        for p in sorted(removes)
    ]
    # re-adds replay the TARGET version's add actions verbatim (stats,
    # partitionValues, deletion vectors all restored); ordered after
    # the removes so a same-path remove+re-add folds to the add
    actions += [
        {"add": dict(old.add_meta[p], dataChange=True)}
        for p in sorted(readds)
    ]
    _commit_actions(log_dir, cur_v + 1, actions)
    return (len(removes), len(readds))


def purge_delta_native(spark: SparkSession, path: str) -> tuple[int, int]:
    """REORG TABLE ... APPLY (PURGE): materialize deletion vectors —
    every DV-carrying file's LIVE rows are rewritten into new files and
    the vectors dropped, returning the table to plain COW form (COW
    DML, OPTIMIZE, and VACUUM become available again; the superseded
    data and .bin files become unreferenced history). Untouched files
    stay referenced; cost scales with DV'd-file count, not table size.
    Returns (files_purged, rows_materialized)."""
    import time

    path = os.path.abspath(path)
    state = load_delta_state(path)
    _check_writer_features(state, "purge")
    dvd = {
        p: a["deletionVector"]
        for p, a in state.add_meta.items()
        if a.get("deletionVector") and p in state.adds
    }
    if not dvd:
        return (0, 0)
    part_cols = state.partition_columns
    # scan ONLY the DV-carrying files, live rows
    sub = DeltaState()
    sub.schema_json = state.schema_json
    sub.partition_columns = state.partition_columns
    sub.metadata_raw = state.metadata_raw  # columnMapping mode rides here
    sub.adds = {p: state.adds[p] for p in dvd}
    sub.add_meta = {p: state.add_meta[p] for p in dvd}
    live, _rel_of = _scan_live_with_positions(spark, path, sub)
    table_cols = [
        f.name
        for f in StructType.fromJson(json.loads(state.schema_json)).fields
    ]
    from pyspark.sql import Observation

    obs = Observation()
    counted = live.select(*table_cols).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    pc_phys = [_physical_map(state).get(c, c) for c in part_cols]
    new_files = _staged_write(_to_physical(counted, state), path, pc_phys)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "REORG",
                "operationParameters": {"applyPurge": True},
            }
        }
    ]
    for rel in sorted(dvd):
        actions.append(
            {"remove": {"path": rel, "deletionTimestamp": now_ms,
                        "dataChange": True}}
        )
    for rel in sorted(new_files):
        actions.append(_add_action(rel, new_files[rel], pc_phys, root=path))
    log_dir = os.path.join(path, "_delta_log")
    _commit_actions(log_dir, 1 + _latest_version(log_dir), actions)
    return (len(dvd), int(obs.get["n"]))


def update_delta_native(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str,
    strategy: str = "auto",
) -> tuple[int, int]:
    """UPDATE rows matching ``predicate``: each column in ``set_exprs``
    is replaced by its SQL expression (evaluated against the pre-update
    row, standard UPDATE semantics). ``strategy="cow"`` rewrites touched
    files (non-matching rows copied unchanged); ``strategy="dv"``
    DV-marks the old rows and appends the updated copies as new files —
    touched files are never rewritten (see _update_with_dvs);
    ``strategy="auto"`` (default) picks COW on plain tables and DV on
    tables already carrying vectors. Returns
    (updated_row_count, files_touched)."""
    _check_writer_features(load_delta_state(path), "update")
    if strategy == "auto":
        strategy = "dv" if _has_dvs(load_delta_state(path)) else "cow"
    if strategy == "dv":
        return _update_with_dvs(spark, path, set_exprs, predicate)
    if strategy != "cow":
        raise ValueError(f"unknown UPDATE strategy {strategy!r}")

    def rewrite(df, pred):
        cols = []
        for c in df.columns:
            if c in set_exprs:
                cols.append(
                    F.when(pred, F.expr(set_exprs[c]))
                    .otherwise(F.col(c))
                    .cast(df.schema[c].dataType)
                    .alias(c)
                )
            else:
                cols.append(F.col(c))
        return df.select(*cols)

    unknown = set(set_exprs) - set(
        f.name
        for f in StructType.fromJson(
            json.loads(load_delta_state(path).schema_json)
        ).fields
    )
    if unknown:
        raise ValueError(f"UPDATE SET on unknown columns: {sorted(unknown)}")

    def cdf_rows(df, pred):
        matched = df.filter(pred)
        pre = matched.withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = rewrite(matched, F.lit(True)).withColumn(
            "_change_type", F.lit("update_postimage")
        )
        return pre.unionAll(post)

    return _rewrite_matching(
        spark,
        path,
        predicate,
        "UPDATE",
        {"predicate": predicate},
        rewrite,
        cdf_rows=cdf_rows,
    )


def _zorder_value(df, cols: list[str]):
    """Z-order (Morton) clustering key over ``cols``: each column scales
    to a 16-bit lane (numeric/date/timestamp linearly between the
    frame's min and max — range locality; strings by crc32 — equality
    locality), lanes interleave bit-by-bit. Pure JVM expressions (one
    driver-side min/max agg per call), no UDFs."""
    import datetime

    lanes = []
    numeric_cols = []
    exprs: dict = {}
    for c in cols:
        dt = dict(df.dtypes)[c]
        if dt in ("date",):
            exprs[c] = F.datediff(F.col(c), F.lit("1970-01-01"))
            numeric_cols.append(c)
        elif dt.startswith("timestamp"):
            exprs[c] = F.unix_micros(F.col(c))
            numeric_cols.append(c)
        elif dt in ("string",):
            exprs[c] = None  # hash lane
        elif dt in ("boolean",):
            exprs[c] = F.col(c).cast("int")
            numeric_cols.append(c)
        else:
            exprs[c] = F.col(c).cast("double")
            numeric_cols.append(c)
    stats = {}
    if numeric_cols:
        row = df.agg(
            *[F.min(exprs[c]).alias(f"lo_{c}") for c in numeric_cols],
            *[F.max(exprs[c]).alias(f"hi_{c}") for c in numeric_cols],
        ).collect()[0]

        def _num(v):
            if isinstance(v, (datetime.date, datetime.datetime)):
                return None  # already converted by exprs; not expected
            return v

        for c in numeric_cols:
            stats[c] = (_num(row[f"lo_{c}"]), _num(row[f"hi_{c}"]))
    for c in cols:
        if exprs[c] is None:
            lanes.append((F.crc32(F.col(c).cast("string"))
                          % F.lit(65536)).cast("long"))
            continue
        lo, hi = stats.get(c, (None, None))
        if lo is None or hi is None or float(hi) == float(lo):
            lanes.append(F.lit(0).cast("long"))
            continue
        span = float(hi) - float(lo)
        lanes.append(
            F.least(
                F.lit(65535),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (
                            F.coalesce(
                                exprs[c].cast("double"), F.lit(float(lo))
                            )
                            - F.lit(float(lo))
                        )
                        / F.lit(span)
                        * F.lit(65535.0)
                    ),
                ),
            ).cast("long")
        )
    # interleave: bit i of lane j lands at position i*len(lanes)+j
    z = F.lit(0).cast("long")
    k = len(lanes)
    for j, lane in enumerate(lanes):
        for i in range(16):
            z = z + F.shiftleft(
                F.shiftright(lane, i).bitwiseAND(F.lit(1)),
                i * k + j,
            )
    return z


def optimize_delta_native(
    spark: SparkSession, path: str, max_files_per_group: int = 128,
    zorder_by: "list[str] | None" = None,
) -> tuple[int, int]:
    """Compaction (delta-spark's OPTIMIZE): rewrite the table's active
    data files into fewer, larger ones — the small-files problem is the
    operational cost of frequent small commits (e.g. the streaming sink).
    Pure reorganization: `dataChange: false` on every action, so
    streaming readers don't re-emit rows and time travel is unaffected.

    ``zorder_by`` additionally CLUSTERS the rewrite on a Morton
    interleaving of the named columns (delta-spark's OPTIMIZE ZORDER BY):
    rows close in the multi-column space land in the same files, so the
    per-file stats become tight on EVERY z-ordered column and
    stats-based skipping works for predicates on any of them — the
    multi-dimensional answer single-column sorting can't give. The
    z-value is built from JVM expressions (no UDFs) and the write
    range-partitions on it.

    Scale: one distributed read + write per partition group; the commit
    is KB driver JSON. Returns (files_before, files_after)."""
    import time

    state = load_delta_state(path)
    _check_writer_features(state, "optimize")
    _require_no_dvs(state, 'OPTIMIZE')
    schema = StructType.fromJson(json.loads(state.schema_json))
    part_cols = state.partition_columns
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    # compaction rewrites rows verbatim: on a column-mapped table, scan
    # AND write with the physical schema directly (field-id metadata
    # rides along for 'id'-mode readers) — no rename round-trip needed
    phys = _physical_map(state)
    data_schema = (
        _physical_data_schema(state, data_fields)
        if phys
        else StructType(data_fields)
    )
    pc_phys = [phys.get(c, c) for c in part_cols]

    def _resolve(p: str) -> str:
        return os.path.join(path, urllib.parse.unquote(p))

    if zorder_by:
        logical_names = {f.name for f in data_fields}
        unknown = [c for c in zorder_by if c not in logical_names]
        if unknown:
            raise ValueError(
                f"ZORDER BY on unknown/partition columns: {unknown}"
            )
    n_before = len(state.adds)
    if n_before <= 1 and not zorder_by:
        return (n_before, n_before)
    by_part: dict[tuple, list[str]] = {}
    for p, pv in state.adds.items():
        by_part.setdefault(
            tuple(pv.get(c) for c in pc_phys), []
        ).append(p)
    def _rewrite_group(key, rels) -> dict:
        df = spark.read.schema(data_schema).parquet(
            *[_resolve(p) for p in rels]
        )
        groups = max(1, (len(rels) + max_files_per_group - 1) // max_files_per_group)
        if zorder_by:
            zcols = [phys.get(c, c) for c in zorder_by]
            z = _zorder_value(df, zcols)
            # z-order locality is per-dimension ~ F^(1/k): too few files
            # and every file still spans every dimension — keep at least
            # 16 output files (each then covers ~1/16^(1/k) of each
            # dimension), still bounded by the compaction target
            df = df.repartitionByRange(
                max(groups, 16), z.alias("_z")
            ).sortWithinPartitions(z.alias("_z"))
            groups = None  # repartitionByRange already set the layout
        if phys:
            df = _attach_field_ids(df, state)
        # each group lands under its own k=v dirs inside this commit's
        # unique staging subdir (race-free attribution, see _staged_write)
        comps = [
            f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else urllib.parse.quote(v, safe='')}"
            for c, v in zip(pc_phys, key)
        ]
        return _staged_write(df, path, part_cols, coalesce=groups,
                             subdir_parts=comps)

    new_files: dict[str, os.stat_result] = {}
    items = sorted(by_part.items(), key=_part_sort_key)
    if len(items) <= 1:
        for key, rels in items:
            new_files.update(_rewrite_group(key, rels))
    else:
        # partition groups rewrite CONCURRENTLY: Spark job submission is
        # thread-safe and each group is its own read+write job (staged
        # under a unique uuid subdir), so a many-partition maintenance
        # window overlaps scan/write instead of serializing group jobs
        # (VERDICT r8 secondary note)
        import concurrent.futures as _cf

        with _cf.ThreadPoolExecutor(
            max_workers=min(8, len(items))
        ) as ex:
            for res in ex.map(lambda kv: _rewrite_group(*kv), items):
                new_files.update(res)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "OPTIMIZE",
                "operationParameters": (
                    {"zOrderBy": json.dumps(zorder_by)}
                    if zorder_by else {}
                ),
            }
        }
    ]
    for rel in sorted(state.adds):
        actions.append(
            {"remove": {"path": rel, "deletionTimestamp": now_ms,
                        "dataChange": False}}
        )
    for rel in sorted(new_files):
        actions.append(
            _add_action(rel, new_files[rel], pc_phys, data_change=False, root=path)
        )
    log_dir = os.path.join(path, "_delta_log")
    _commit_actions(log_dir, 1 + _latest_version(log_dir), actions)
    return (n_before, len(new_files))


def vacuum_delta_native(
    spark: SparkSession, path: str, retention_hours: float = 168.0,
    dry_run: bool = False,
) -> list[str]:
    """Physically delete data files no longer referenced by the CURRENT
    table state and older than ``retention_hours`` (delta-spark's VACUUM;
    default 7 days, its default too). Removed files become unreachable
    for time travel past them — the documented, intended trade (history
    beyond retention is given up for storage).

    Driver-side: the candidate set is (files on disk) − (active files),
    both KB-scale listings. Returns the deleted (or would-delete, when
    ``dry_run``) relative paths."""
    import time

    state = load_delta_state(path)
    _check_writer_features(state, "vacuum")
    _require_no_dvs(state, 'VACUUM')

    def _resolve(p: str) -> str:
        return os.path.join(path, urllib.parse.unquote(p))

    active = {os.path.realpath(_resolve(p)) for p in state.adds}
    cutoff = time.time() - retention_hours * 3600.0
    victims = []
    for rel, st in sorted(_walk_data_files(path).items()):
        full = os.path.realpath(os.path.join(path, rel))
        if full in active:
            continue
        if st.st_mtime > cutoff:
            continue
        victims.append(rel)
    if not dry_run:
        for rel in victims:
            os.unlink(os.path.join(path, rel))
        # prune now-empty partition dirs
        for root, dirs, files in os.walk(path, topdown=False):
            if "_delta_log" in root:
                continue
            if not dirs and not files and os.path.realpath(root) != os.path.realpath(path):
                try:
                    os.rmdir(root)
                except OSError:
                    pass
    return victims


def merge_delta_native(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, str] | None = None,
    when_not_matched_insert: bool = True,
    txn: "tuple[str, int] | None" = None,
    when_matched_delete: str | None = None,
    when_not_matched_condition: str | None = None,
    when_matched_update_condition: str | None = None,
) -> tuple[int, int, int]:
    """MERGE (upsert) into a native Delta table: target rows whose key
    matches a source row get ``when_matched_update`` applied (SQL
    expressions over ``t.<col>`` / ``s.<col>``; default: replace every
    column with the source's), unmatched source rows are inserted.
    ``when_matched_delete`` (r12) is a SQL predicate over ``t.``/``s.``
    columns: matched rows it selects are DELETED in the same commit
    instead of updated (delta-spark's WHEN MATCHED AND <cond> THEN
    DELETE clause, evaluated before the update branch) — the primitive
    an incremental aggregate maintainer needs to retire groups whose
    count reaches zero atomically. ``when_not_matched_condition`` (r12)
    is a SQL predicate over the SOURCE columns gating inserts
    (delta-spark's WHEN NOT MATCHED AND <cond> THEN INSERT): unmatched
    source rows failing it are dropped — e.g. a group created and fully
    deleted within one changelog batch must not materialize.
    ``when_matched_update_condition`` (r15) is a SQL predicate over
    ``t.``/``s.`` columns gating the UPDATE arm (delta-spark's WHEN
    MATCHED AND <cond> THEN UPDATE): matched rows failing it (or NULL)
    keep their values — unless the delete arm selects them, which
    still wins (clause order). When given, ``updated_rows`` counts
    only rows an arm actually affected.
    Returns (updated_rows, inserted_rows, files_rewritten);
    ``updated_rows`` counts matched rows whether updated or deleted.

    Copy-on-write like UPDATE/DELETE: only target files containing a key
    match are rewritten; inserts land as new files in the same commit.
    Multiple source rows per key raise (ambiguous merge, the standard
    MERGE contract). Partitioned tables re-attach
    partition literals for the joins and land output via hive-style
    partitionBy. Scale: the probe and
    the rewrite join shuffle on the merge keys — the exchange any
    engine's MERGE performs; the source is typically the small side and
    broadcasts under AQE."""
    import time

    state = load_delta_state(path)
    _check_writer_features(state, "merge")
    _require_no_dvs(state, 'MERGE')
    schema = StructType.fromJson(json.loads(state.schema_json))
    part_cols = state.partition_columns
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(data_fields)
    types = {f.name: f.dataType for f in schema.fields}
    cols = [f.name for f in schema.fields]
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} != table "
            f"columns {sorted(cols)}"
        )
    dup = (
        source.groupBy(*on).count().filter("count > 1").limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"merge source has multiple rows for key {tuple(dup[0][k] for k in on)!r}"
        )
    if when_matched_update is None:
        when_matched_update = {c: f"s.{c}" for c in cols if c not in on}

    def _resolve(p: str) -> str:
        return os.path.join(path, urllib.parse.unquote(p))

    all_pairs = list(state.adds.items())
    src = source.persist()
    try:
        target = _read_active(
            spark, path, all_pairs, data_schema, types, part_cols,
            with_file_path=True, state=state,
        )
        if not when_matched_update and not when_matched_delete:
            # insert-only merge: matched rows keep their values, so the
            # matched-file probe (a full target-vs-source join) is
            # skipped entirely
            probe = []
        else:
            key_cond = [target[k] == src[k] for k in on]
            cond = key_cond[0]
            for c in key_cond[1:]:
                cond = cond & c
            probe = (
                target.join(src, cond, "left_semi")
                .groupBy("_f")
                .agg(F.count(F.lit(1)).alias("hits"))
                .collect()
            )
        updated = sum(r["hits"] for r in probe)

        def _norm(uri: str) -> str:
            return urllib.parse.unquote(urllib.parse.urlparse(uri).path)

        touched_full = {os.path.realpath(_norm(r["_f"])) for r in probe}
        touched_rel = [
            p for p in state.adds
            if os.path.realpath(_resolve(p)) in touched_full
        ]
        if when_not_matched_insert:
            src_ins = (
                src.filter(F.expr(when_not_matched_condition))
                if when_not_matched_condition else src
            )
            inserts = src_ins.alias("s").join(
                _read_active(
                    spark, path, all_pairs, data_schema, types, part_cols,
                    state=state,
                ).select(*on),
                on,
                "left_anti",
            ).select(*cols)
        else:
            inserts = spark.createDataFrame([], schema)
        # persisted so the anti-join shuffle runs once: .count() here and
        # the write below reuse the same materialization (ADVICE r4)
        inserts = inserts.persist()
        inserted = inserts.count()
        if not touched_rel and inserted == 0:
            inserts.unpersist()
            return (0, 0, 0)
        pieces = [inserts]
        cdc_pieces = []
        if _cdf_enabled(state) and when_not_matched_insert:
            cdc_pieces.append(
                inserts.withColumn("_change_type", F.lit("insert"))
            )
        if touched_rel:
            t = _read_active(
                spark, path,
                [(p, state.adds[p]) for p in touched_rel],
                data_schema, types, part_cols, state=state,
            ).alias("t")
            joined = t.join(src.alias("s"), on, "left")
            matched = F.col(f"s.{on[0]}").isNotNull() if on else F.lit(False)
            # matched rows the delete predicate selects drop out of the
            # rewrite entirely (delete branch wins over update, the SQL
            # MERGE clause-order contract when DELETE is listed first).
            # NULL predicate = clause does not apply (falls through to
            # the update branch) — without the coalesce a NULL would
            # silently drop the row from BOTH the rewrite and the CDF
            # delete images (r12 review)
            drop = (
                matched & F.coalesce(
                    F.expr(when_matched_delete), F.lit(False)
                )
                if when_matched_delete else F.lit(False)
            )
            # conditional UPDATE arm (r15): same contract as the
            # Iceberg writer — rows failing the condition keep their
            # values; delete wins over update
            upd = (
                F.coalesce(
                    F.expr(when_matched_update_condition), F.lit(False)
                )
                if when_matched_update_condition else F.lit(True)
            )
            out_cols = []
            for c in cols:
                if c in on:
                    out_cols.append(F.col(f"t.{c}").alias(c))
                elif c in when_matched_update:
                    out_cols.append(
                        F.when(matched & upd,
                               F.expr(when_matched_update[c]))
                        .otherwise(F.col(f"t.{c}"))
                        .cast(schema[c].dataType)
                        .alias(c)
                    )
                else:
                    out_cols.append(F.col(f"t.{c}").alias(c))
            pieces.append(joined.filter(~drop).select(*out_cols))
            if when_matched_update_condition:
                # gated update arm: the probe's matched count
                # over-reports — count only rows an arm affected
                updated = joined.filter(
                    matched & (drop | (upd & F.lit(
                        bool(when_matched_update)
                    )))
                ).count()
            if _cdf_enabled(state):
                m = joined.filter(matched & ~drop & upd)
                pre = m.select(
                    *[F.col(f"t.{c}").alias(c) for c in cols]
                ).withColumn("_change_type", F.lit("update_preimage"))
                post = m.select(*out_cols).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
                cdc_pieces.extend([pre, post])
                if when_matched_delete:
                    cdc_pieces.append(
                        joined.filter(drop).select(
                            *[F.col(f"t.{c}").alias(c) for c in cols]
                        ).withColumn("_change_type", F.lit("delete"))
                    )
        out = pieces[0]
        for df in pieces[1:]:
            out = out.unionByName(df)
        pc_phys = [_physical_map(state).get(c, c) for c in part_cols]
        new_files = _staged_write(_to_physical(out, state), path, pc_phys)
        cdc_files: dict = {}
        if cdc_pieces:
            cdc_df = cdc_pieces[0]
            for d in cdc_pieces[1:]:
                cdc_df = cdc_df.unionByName(d)
            cdc_files = _stage_cdc_files(
                _to_physical(cdc_df, state), path, pc_phys
            )
        inserts.unpersist()
    finally:
        src.unpersist()
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "MERGE",
                "operationParameters": {"on": ",".join(on)},
            }
        }
    ]
    if txn is not None:
        # spec txn idempotence marker — the streaming upsert sink's
        # exactly-once handle (same contract as write_delta_native's)
        actions.append(
            {"txn": {"appId": txn[0], "version": int(txn[1]),
                     "lastUpdated": now_ms}}
        )
    for rel in sorted(touched_rel):
        actions.append(
            {"remove": {"path": rel, "deletionTimestamp": now_ms,
                        "dataChange": True}}
        )
    for rel in sorted(new_files):
        actions.append(_add_action(rel, new_files[rel], pc_phys, root=path))
    actions.extend(_cdc_actions(cdc_files, pc_phys))
    log_dir = os.path.join(path, "_delta_log")
    _commit_actions(log_dir, 1 + _latest_version(log_dir), actions)
    return (int(updated), int(inserted), len(touched_rel))


def checkpoint_delta_native(spark: SparkSession, path: str) -> int:
    """Write a checkpoint for the table's current version — the log-
    compaction half of the protocol (readers then fold
    checkpoint + commits-after instead of every commit since 0).
    Produces ``<version>.checkpoint.parquet`` (one-hot action rows, the
    spec's classic checkpoint shape) and ``_last_checkpoint``. Driver-
    side KB work via pyarrow; returns the checkpointed version.

    partitionValues is written as a map column; the reader normalizes
    pyarrow's list-of-pairs map representation back to a dict."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    state = load_delta_state(path)
    _check_writer_features(state, "checkpoint")
    log_dir = os.path.join(path, "_delta_log")
    version = _latest_version(log_dir)
    meta = state.metadata_raw or {}
    fmt = meta.get("format") or {"provider": "parquet", "options": {}}

    def _one_hot(**kw):
        base = {"protocol": None, "metaData": None, "add": None,
                "remove": None, "txn": None}
        base.update(kw)
        return base

    rows = [
        # full protocol fidelity (ADVICE r5): a table upgraded by DV DML
        # to reader v3 / writer v7 (then REORG PURGEd, which passes the
        # no-DVs gate) must keep its feature lists — v3/v7 REQUIRE
        # readerFeatures/writerFeatures per PROTOCOL.md, and dropping
        # minWriterVersion silently disabled feature enforcement
        # (timestampNtz etc.) for external writers
        _one_hot(
            protocol={
                "minReaderVersion": state.min_reader_version,
                "minWriterVersion": state.min_writer_version,
                "readerFeatures": (
                    sorted(state.reader_features)
                    if state.min_reader_version >= 3 else None
                ),
                "writerFeatures": (
                    sorted(state.writer_features)
                    if state.min_writer_version >= 7 else None
                ),
            }
        ),
        # the table's REAL metaData carried through (id / format /
        # configuration / createdTime), not a placeholder — external
        # Delta readers key table identity off it (ADVICE r4)
        _one_hot(
            metaData={
                "id": meta.get("id") or "checkpointed",
                "format": {
                    "provider": fmt.get("provider", "parquet"),
                    "options": [
                        (k, v) for k, v in (fmt.get("options") or {}).items()
                    ],
                },
                "schemaString": state.schema_json,
                "partitionColumns": state.partition_columns,
                "configuration": [
                    (k, v)
                    for k, v in (meta.get("configuration") or {}).items()
                ],
                "createdTime": meta.get("createdTime"),
            }
        ),
    ]
    for p, pv in sorted(state.adds.items()):
        am = state.add_meta.get(p, {})
        add = {
            "path": p,
            "partitionValues": [(k, v) for k, v in pv.items()],
            "size": int(am.get("size") or 0),
            "modificationTime": int(am.get("modificationTime") or 0),
            "dataChange": False,
        }
        if am.get("stats"):
            # per-file stats survive log compaction (dropping them would
            # silently disable data skipping after the first checkpoint)
            add["stats"] = am["stats"]
        dv = am.get("deletionVector")
        if dv:
            # active deletion vectors survive log compaction — a
            # checkpoint that dropped them would resurrect deleted rows
            # for every post-checkpoint reader
            add["deletionVector"] = {
                "storageType": dv.get("storageType"),
                "pathOrInlineDv": dv.get("pathOrInlineDv"),
                "offset": (
                    int(dv["offset"]) if dv.get("offset") is not None
                    else None
                ),
                "sizeInBytes": int(dv.get("sizeInBytes") or 0),
                "cardinality": int(dv.get("cardinality") or 0),
            }
        rows.append(_one_hot(add=add))
    # remove tombstones are part of the spec checkpoint shape: readers of
    # this checkpoint must not resurrect files a pre-checkpoint commit
    # removed but VACUUM hasn't deleted yet
    for p, ts in sorted(state.removes.items()):
        rows.append(
            _one_hot(remove={"path": p, "deletionTimestamp": ts,
                             "dataChange": False})
        )
    for app_id, v in sorted(state.txns.items()):
        rows.append(_one_hot(txn={"appId": app_id, "version": v}))
    schema = pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [("minReaderVersion", pa.int32()),
                     ("minWriterVersion", pa.int32()),
                     ("readerFeatures", pa.list_(pa.string())),
                     ("writerFeatures", pa.list_(pa.string()))]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [("id", pa.string()),
                     ("format",
                      pa.struct(
                          [("provider", pa.string()),
                           ("options", pa.map_(pa.string(), pa.string()))]
                      )),
                     ("schemaString", pa.string()),
                     ("partitionColumns", pa.list_(pa.string())),
                     ("configuration", pa.map_(pa.string(), pa.string())),
                     ("createdTime", pa.int64())]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [("path", pa.string()),
                     ("partitionValues", pa.map_(pa.string(), pa.string())),
                     ("size", pa.int64()),
                     ("modificationTime", pa.int64()),
                     ("dataChange", pa.bool_()),
                     ("stats", pa.string()),
                     ("deletionVector",
                      pa.struct(
                          [("storageType", pa.string()),
                           ("pathOrInlineDv", pa.string()),
                           ("offset", pa.int32()),
                           ("sizeInBytes", pa.int32()),
                           ("cardinality", pa.int64())]
                      ))]
                ),
            ),
            pa.field(
                "remove",
                pa.struct(
                    [("path", pa.string()),
                     ("deletionTimestamp", pa.int64()),
                     ("dataChange", pa.bool_())]
                ),
            ),
            pa.field(
                "txn",
                pa.struct([("appId", pa.string()), ("version", pa.int64())]),
            ),
        ]
    )
    # a table with the v2Checkpoint writer feature REQUIRES the v2 spec
    # shape (PROTOCOL.md): UUID-named checkpoint carrying a
    # checkpointMetadata action (sidecars are optional — actions may be
    # inlined, which is what we do)
    v2 = "v2Checkpoint" in state.writer_features
    if v2:
        import uuid as _uuid

        schema = schema.append(
            pa.field(
                "checkpointMetadata",
                pa.struct([("version", pa.int64())]),
            )
        )
        rows.insert(
            0,
            dict(_one_hot(), checkpointMetadata={"version": version}),
        )
        cp_path = os.path.join(
            log_dir, f"{version:020d}.checkpoint.{_uuid.uuid4()}.parquet"
        )
    else:
        cp_path = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, cp_path)
    # _last_checkpoint published atomically: a concurrent reader sees the
    # old hint or the new one, never truncated JSON
    hint_tmp = os.path.join(log_dir, "_last_checkpoint.tmp")
    with open(hint_tmp, "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    os.replace(hint_tmp, os.path.join(log_dir, "_last_checkpoint"))
    return version


# --- schema evolution (ALTER TABLE) ------------------------------------------

_SPARK_DDL_TO_DELTA = {
    "bigint": "long", "long": "long", "int": "integer",
    "integer": "integer", "smallint": "short", "tinyint": "byte",
    "string": "string", "double": "double", "float": "float",
    "boolean": "boolean", "binary": "binary", "date": "date",
    "timestamp": "timestamp", "timestamp_ntz": "timestampNtz",
}


def _commit_new_metadata(path: str, state: "DeltaState",
                         fields: list[dict],
                         config_update: "dict | None" = None,
                         operation: str = "ALTER TABLE",
                         partition_columns: "list[str] | None" = None,
                         ) -> int:
    """Commit a metaData action carrying ``fields`` as the new schema —
    the whole ALTER is one KB-scale driver JSON append; data files are
    untouched (evolution is metadata-only in the Delta protocol)."""
    _check_writer_features(state, "alter")
    import time

    meta = dict(state.metadata_raw or {})
    schema = json.loads(state.schema_json)
    schema["fields"] = fields
    meta["schemaString"] = json.dumps(schema)
    if partition_columns is not None:
        meta["partitionColumns"] = partition_columns
    if config_update:
        cfg = dict(meta.get("configuration") or {})
        cfg.update(config_update)
        meta["configuration"] = cfg
    log_dir = os.path.join(path, "_delta_log")
    version = 1 + (_latest_version(log_dir) or 0)
    _commit_actions(log_dir, version, [
        {"commitInfo": {"timestamp": int(time.time() * 1000),
                        "operation": operation}},
        {"metaData": meta},
    ])
    return version


def add_column_delta_native(path: str, name: str, ddl_type: str) -> int:
    """ALTER TABLE ADD COLUMN: append a nullable field to the schema in
    one metadata-only commit. Old data files simply lack the column —
    the reader's explicit scan schema fills it with NULLs (parquet
    missing-column semantics). On column-mapped tables the new field
    gets the next columnMapping id + a fresh physical name."""
    path = os.path.abspath(path)
    state = load_delta_state(path)
    norm = re.sub(r"\s+", "", ddl_type.lower())
    t = _SPARK_DDL_TO_DELTA.get(norm)
    if t is None and re.fullmatch(r"decimal\(\d+,\d+\)", norm):
        # whitespace-normalized + validated: committing a malformed type
        # string bricks every subsequent read (r9 review)
        t = norm
    if t is None:
        raise RuntimeError(
            f"ADD COLUMN: unsupported type {ddl_type!r} (supported: "
            f"{sorted(_SPARK_DDL_TO_DELTA)} and decimal(p,s))"
        )
    fields = json.loads(state.schema_json)["fields"]
    if any(f["name"] == name for f in fields):
        raise RuntimeError(f"column {name!r} already exists")
    new_field: dict = {"name": name, "type": t, "nullable": True,
                       "metadata": {}}
    config_update = None
    if _mapping_mode(state) != "none":
        import uuid

        cfg = (state.metadata_raw or {}).get("configuration") or {}
        # next id must clear BOTH the recorded maxColumnId and every
        # existing field's mapping id — tables created before the writer
        # recorded maxColumnId would otherwise mint a duplicate id and
        # break spec-conformant readers (r9 review)
        used = [
            int((f.get("metadata") or {}).get("delta.columnMapping.id", 0))
            for f in fields
        ]
        next_id = 1 + max(
            int(cfg.get("delta.columnMapping.maxColumnId", 0) or 0),
            max(used, default=0),
        )
        new_field["metadata"] = {
            "delta.columnMapping.id": next_id,
            "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
        }
        config_update = {"delta.columnMapping.maxColumnId": str(next_id)}
    return _commit_new_metadata(
        path, state, fields + [new_field], config_update,
        operation="ADD COLUMNS",
    )


def rename_column_delta_native(path: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN — columnMapping tables only: the data
    files carry stable PHYSICAL names, so a logical rename is one
    metadata commit; on an unmapped table the files carry the logical
    name and a rename would orphan every existing file (refused, per
    the Delta protocol's column-mapping requirement)."""
    path = os.path.abspath(path)
    state = load_delta_state(path)
    if _mapping_mode(state) == "none":
        raise RuntimeError(
            "RENAME COLUMN requires columnMapping (create the table "
            "with write_delta_native(column_mapping='name'))"
        )
    fields = json.loads(state.schema_json)["fields"]
    if any(f["name"] == new for f in fields):
        raise RuntimeError(f"column {new!r} already exists")
    hit = [f for f in fields if f["name"] == old]
    if not hit:
        raise RuntimeError(f"unknown column {old!r}")
    out = [dict(f, name=new) if f["name"] == old else f for f in fields]
    # a renamed partition column must rename in partitionColumns too, or
    # the reader treats the new name as a data field and every value
    # reads back NULL (r9 review)
    parts = [new if c == old else c for c in state.partition_columns]
    return _commit_new_metadata(
        path, state, out, operation="RENAME COLUMN",
        partition_columns=parts,
    )


_DELTA_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"), ("float", "double"),
}


def widen_column_delta_native(path: str, name: str,
                              ddl_type: str) -> int:
    """ALTER COLUMN TYPE widening (Delta typeWidening table feature,
    r10 — VERDICT r9 next #6): byte/short/int -> wider integers,
    float -> double, decimal precision growth at the same scale. One
    commit: a protocol upgrade adding the typeWidening reader+writer
    feature plus a metaData whose field carries the widened type and a
    spec ``delta.typeWidening`` history entry (fromType/toType/
    tableVersion). Data files are untouched — the reader's explicit
    scan schema upcasts old narrower files natively."""
    import time

    path = os.path.abspath(path)
    state = load_delta_state(path)
    _check_writer_features(state, "alter")
    fields = json.loads(state.schema_json)["fields"]
    hit = [f for f in fields if f["name"] == name]
    if not hit:
        raise RuntimeError(f"unknown column {name!r}")
    old_t = hit[0]["type"]
    norm = re.sub(r"\s+", "", ddl_type.lower())
    new_t = _SPARK_DDL_TO_DELTA.get(norm, norm)
    ok = (old_t, new_t) in _DELTA_WIDENINGS
    if not ok and isinstance(old_t, str):
        mo = re.fullmatch(r"decimal\((\d+),(\d+)\)", old_t)
        mn = re.fullmatch(r"decimal\((\d+),(\d+)\)", new_t)
        ok = bool(
            mo and mn and mo.group(2) == mn.group(2)
            and int(mn.group(1)) >= int(mo.group(1))
        )
    if not ok:
        raise RuntimeError(
            f"cannot widen {name!r} from {old_t!r} to {ddl_type!r} "
            "(typeWidening allows integer widening, float->double, and "
            "decimal precision growth at the same scale)"
        )
    if name in state.partition_columns:
        raise RuntimeError(f"cannot widen partition column {name!r}")
    log_dir = os.path.join(path, "_delta_log")
    version = 1 + (_latest_version(log_dir) or 0)
    out = []
    for f in fields:
        if f["name"] != name:
            out.append(f)
            continue
        nf = dict(f, type=new_t)
        md = dict(nf.get("metadata") or {})
        md["delta.typeWidening"] = list(
            md.get("delta.typeWidening") or []
        ) + [{"fromType": old_t, "toType": new_t,
              "tableVersion": version}]
        nf["metadata"] = md
        out.append(nf)
    meta = dict(state.metadata_raw or {})
    schema = json.loads(state.schema_json)
    schema["fields"] = out
    meta["schemaString"] = json.dumps(schema)
    _commit_actions(log_dir, version, [
        {"commitInfo": {"timestamp": int(time.time() * 1000),
                        "operation": "CHANGE COLUMN"}},
        {"protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(
                state.reader_features | {"typeWidening"}
            ),
            "writerFeatures": sorted(
                state.writer_features | {"typeWidening"}
            ),
        }},
        {"metaData": meta},
    ])
    return version


def drop_column_delta_native(path: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN — columnMapping tables only (the Delta
    protocol's requirement): one metadata commit removes the field; the
    physical data stays in old files and simply stops being read."""
    path = os.path.abspath(path)
    state = load_delta_state(path)
    if _mapping_mode(state) == "none":
        raise RuntimeError(
            "DROP COLUMN requires columnMapping (create the table "
            "with write_delta_native(column_mapping='name'))"
        )
    fields = json.loads(state.schema_json)["fields"]
    if name in state.partition_columns:
        raise RuntimeError(f"cannot drop partition column {name!r}")
    out = [f for f in fields if f["name"] != name]
    if len(out) == len(fields):
        raise RuntimeError(f"unknown column {name!r}")
    if not out:
        raise RuntimeError("cannot drop the last column")
    return _commit_new_metadata(path, state, out, operation="DROP COLUMNS")


# --- Change Data Feed (CDF) ---------------------------------------------------
#
# delta-spark's readChangeFeed surface over the native log: DML on a
# table with delta.enableChangeDataFeed=true writes its changed rows
# under _change_data/ referenced by spec `cdc` actions in the SAME
# commit, and table_changes() replays any version range as a DataFrame
# of (row, _change_type, _commit_version, _commit_timestamp) — the
# incremental-consumption handle a training-data pipeline needs
# (reprocess only what changed since the last run, not 100 TB).

_CDF_KEY = "delta.enableChangeDataFeed"


def _cdf_enabled(state: "DeltaState") -> bool:
    cfg = (state.metadata_raw or {}).get("configuration") or {}
    return str(cfg.get(_CDF_KEY, "")).lower() == "true"


def _stage_cdc_files(df: DataFrame, path: str,
                     pc_phys: list[str]) -> dict[str, os.stat_result]:
    """Write change rows (carrying ``_change_type``) under a unique
    _change_data/ subdirectory; returns rel path -> stat for the
    commit's cdc actions — one shared implementation with _staged_write
    (same race-free attribution + empty-result cleanup; r9 review)."""
    return _staged_write(df, path, pc_phys, parent="_change_data")


def _cdc_actions(new_files: dict, pc_phys: list[str]) -> list[dict]:
    return [
        {"cdc": {
            "path": urllib.parse.quote(rel.replace(os.sep, "/")),
            "partitionValues": _partition_values_from_path(rel, pc_phys),
            "size": st.st_size,
            "dataChange": False,
        }}
        for rel, st in sorted(new_files.items())
    ]


def table_changes_delta_native(
    spark: SparkSession, path: str,
    starting_version: int, ending_version: "int | None" = None,
) -> DataFrame:
    """Change feed between commit versions (inclusive): per version,
    spec `cdc` actions replay verbatim; commits WITHOUT cdc actions
    derive blind appends (adds -> 'insert') and blind deletes (removes
    -> 'delete', every row of the removed file); a commit that rewrote
    files (adds AND removes, dataChange, no cdc) is underivable and
    raises — enable CDF before running DML. Output columns: the table
    schema + _change_type / _commit_version / _commit_timestamp.

    Scale: the log fold is KB driver work; each version's files read
    distributed and the per-version frames union (no shuffle added
    beyond the scans)."""
    path = os.path.abspath(path)
    state = load_delta_state(path)
    schema = StructType.fromJson(json.loads(state.schema_json))
    part_cols = state.partition_columns
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(data_fields)
    types = {f.name: f.dataType for f in schema.fields}
    # columnMapping (r10, VERDICT r9 next #3): data and cdc files carry
    # PHYSICAL column names (stable across logical renames — which is
    # why the CURRENT mapping resolves every version in range); scan
    # physical, demap to logical for the caller. partitionValues in the
    # log are keyed physical too.
    phys = _physical_map(state)
    pc_phys = [phys.get(c, c) for c in part_cols]

    def _demap(df):
        if not phys:
            return df
        keep = [
            F.col(phys.get(f.name, f.name)).alias(f.name)
            for f in data_fields
        ]
        extra = [c for c in ("_change_type",) if c in df.columns]
        return df.select(*keep, *extra)
    log_dir = os.path.join(path, "_delta_log")
    latest = _latest_version(log_dir) or 0
    end = latest if ending_version is None else min(ending_version, latest)
    if starting_version > end:
        raise ValueError(
            f"starting_version {starting_version} exceeds the requested "
            f"range end {end} (table latest version: {latest})"
        )

    from pyspark.sql.types import StringType, StructField

    scan_schema = (
        _physical_data_schema(state, data_fields) if phys else data_schema
    )
    cdc_schema = StructType(
        scan_schema.fields + [StructField("_change_type", StringType(), True)]
    )

    def _attach(df, pv: dict, ctype: "str | None", ver: int, ts_ms: int):
        for c in part_cols:
            df = df.withColumn(c, _cast_partition_lit(pv.get(c), types[c]))
        if ctype is not None:
            df = df.withColumn("_change_type", F.lit(ctype))
        return df.select(
            *[f.name for f in schema.fields], "_change_type",
            F.lit(ver).cast("long").alias("_commit_version"),
            F.to_timestamp(
                F.lit(ts_ms) / F.lit(1000.0)
            ).alias("_commit_timestamp"),
        )

    pieces = []
    for ver in range(starting_version, end + 1):
        commit = os.path.join(log_dir, f"{ver:020d}.json")
        if not os.path.exists(commit):
            # checkpoint-compacted history: silently skipping would hand
            # an incremental consumer an INCOMPLETE feed (r9 review)
            raise RuntimeError(
                f"commit {ver} is no longer in the log (checkpoint "
                "cleanup) — its changes cannot be replayed; start "
                "table_changes at the earliest retained commit"
            )
        cdc, adds, removes = [], [], []
        ts_ms = None
        with open(commit) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    ts_ms = a["commitInfo"].get("timestamp")
                elif "cdc" in a:
                    cdc.append(a["cdc"])
                elif "add" in a and a["add"].get("dataChange", True):
                    adds.append(a["add"])
                elif "remove" in a and a["remove"].get("dataChange", True):
                    removes.append(a["remove"])
        if ts_ms is None:
            ts_ms = int(os.stat(commit).st_mtime * 1000)

        def _group(actions):
            by_pv: dict = {}
            for a in actions:
                pv = a.get("partitionValues")
                if pv is None and part_cols:
                    # remove actions may omit partitionValues — the
                    # hive-style path carries them (physical names)
                    pv = _partition_values_from_path(
                        urllib.parse.unquote(a["path"]), pc_phys
                    )
                key = tuple((pv or {}).get(c) for c in pc_phys)
                by_pv.setdefault(key, []).append(a)
            return sorted(by_pv.items(), key=_part_sort_key)

        if cdc:
            for key, acts in _group(cdc):
                pv = dict(zip(part_cols, key))
                files = [
                    os.path.join(path, urllib.parse.unquote(a["path"]))
                    for a in acts
                ]
                missing = [f for f in files if not os.path.exists(f)]
                if missing:
                    raise RuntimeError(
                        f"commit {ver}: {len(missing)} change-data "
                        "file(s) no longer exist (VACUUMed past "
                        "retention) — start table_changes at a later "
                        "version"
                    )
                df = _demap(spark.read.schema(cdc_schema).parquet(*files))
                pieces.append(_attach(df, pv, None, ver, ts_ms))
            continue
        if adds and removes:
            raise RuntimeError(
                f"commit {ver} rewrote files without change data (no cdc "
                "actions) — its row-level changes cannot be derived; "
                "enable CDF (delta.enableChangeDataFeed) before DML or "
                "start table_changes after it"
            )
        for ctype, actions in (("insert", adds), ("delete", removes)):
            for key, acts in _group(actions):
                pv = dict(zip(part_cols, key))
                files = [
                    os.path.join(path, urllib.parse.unquote(a["path"]))
                    for a in acts
                ]
                missing = [f for f in files if not os.path.exists(f)]
                if missing:
                    raise RuntimeError(
                        f"commit {ver}: {len(missing)} changed file(s) "
                        "no longer exist (VACUUMed past retention) — "
                        "start table_changes at a later version"
                    )
                df = _demap(spark.read.schema(scan_schema).parquet(*files))
                pieces.append(_attach(df, pv, ctype, ver, ts_ms))
    if not pieces:
        from pyspark.sql.types import LongType, TimestampType

        empty = StructType(
            schema.fields
            + [StructField("_change_type", StringType(), True),
               StructField("_commit_version", LongType(), True),
               StructField("_commit_timestamp", TimestampType(), True)]
        )
        return spark.createDataFrame([], empty)
    out = pieces[0]
    for df in pieces[1:]:
        out = out.unionAll(df)
    return out


def changes_cursor_delta_native(spark: SparkSession, path: str,
                                cursor_path: str):
    """Incremental CDF consumption with a durable cursor — the Delta
    twin of changes_cursor_iceberg_native: (changes_df, commit) over
    every commit AFTER the version in ``cursor_path`` (full feed from
    version 0 on first call); commit() atomically advances the cursor.
    Returns (None, no-op) when already caught up. A cursor behind the
    checkpoint-cleaned log raises inside table_changes (honest gap)."""
    from glaredb_spark.sources.iceberg_native import (
        _read_cursor,
        _write_cursor,
    )

    path = os.path.abspath(path)
    log_dir = os.path.join(path, "_delta_log")
    latest = _latest_version(log_dir)
    if latest is None:
        raise RuntimeError(f"not a Delta table: {path!r}")
    rec = _read_cursor(cursor_path, path, err_cls=RuntimeError)
    cur = int(rec["version"]) if rec is not None else None
    start = 0 if cur is None else cur + 1
    if start > latest:
        return None, (lambda: None)
    df = table_changes_delta_native(spark, path, start, latest)

    def commit() -> None:
        _write_cursor(cursor_path, {"version": latest, "table": path})

    return df, commit
