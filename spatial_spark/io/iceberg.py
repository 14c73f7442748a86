"""Apache Iceberg (format-version 2) metadata export / source —
from scratch against the PUBLIC table spec
(https://iceberg.apache.org/spec/), the fourth lakehouse-interop leg
beside GeoParquet / FlatGeobuf / Delta (VERDICT r14 "What's missing"
#5).  No reference parity — neo4j-spatial has no lakehouse surface
(grepped); the layout contract is the spec itself, the behavioural
model is this repo's own Delta leg (io/delta.py).

Implemented, Spark-first:

* ``export_iceberg(df, path, mode)`` — Spark's distributed parquet
  writer lands data files in a staging dir; the commit composes ONE
  manifest Avro file from their footers (record_count, value/null
  counts, lower/upper bounds in the spec's single-value binary), one
  manifest-LIST Avro, and a new ``v{N}.metadata.json`` — all
  O(changed files), published through the same put-if-absent
  LogStore seam as the Delta leg (HadoopTables' rename-based commit
  maps to exactly that primitive on object stores).  Appends REUSE
  the previous snapshot's manifests untouched in the new manifest
  list — an append's metadata cost is its own files only.
* ``iceberg_source(spark, path, snapshot_id=)`` — independent
  metadata replay: version-hint → metadata.json → manifest list →
  manifests, then ``spark.read.parquet`` over the planned files.
  ``props={col: (lo, hi)}`` prunes on the manifests' per-file bounds
  DRIVER-SIDE before any task launches (the delta_source contract:
  pruning shrinks the scan, the caller still applies the exact
  predicate).  Time travel via ``snapshot_id``.
* ``layer_to_iceberg(layer, out_dir)`` — metadata-only clone of a
  layer snapshot: manifest entries point at the layer's existing
  parquet ABSOLUTELY with the sharded manifest's per-file stats
  translated into Iceberg bounds; zero data copied (the
  layer_to_delta twin).

Deliberate seams (loud, spec-cited):

* IDENTITY partition transforms only (``partition_by=`` columns map
  to spec fields ``{transform: "identity"}``; data files land in
  hive layout, partition values live in the manifests' typed
  ``partition`` structs, and the reader restores the columns via
  basePath + metadata — spec-legal: readers must source identity
  values from metadata).  bucket/truncate/day/... transforms raise
  ``NotImplementedError`` until a gate demands them;
* reader requires format-version 2 and refuses delete files
  (``content != 0`` manifests) — merge-on-read is v2's optional
  row-level-delete tier, not needed for an analytics export;
* Avro files are null-codec (spec-required readable everywhere).

Storage seam: metadata (metadata.json, manifest lists, manifests,
the version hint) goes through the same ``LogStore`` as the Delta leg,
and every metadata-version commit (snapshot, expiry) runs under the
Delta leg's one conflict policy, ``delta._commit_or_rebase``: a lost
append re-reads the winner by listing, re-runs ``_check_table`` and
retries; a lost overwrite or expiry raises.  Data files are written by
the Delta leg's ``_write_staged`` (Spark into a staging dir, then
``manifest.publish_staged``, the one mover every table write shares,
into ``data/`` under stamped names) over a ``LocalManifestIO()``, not
the LogStore's IO (shared table storage, as for every Spark parquet
write); their bounds translate the Delta leg's stats over
``manifest.footer_stats``, the one footer reader, and ``props=``
pruning is ``manifest.range_filter``.

100 TB shape: commits are O(changed files) like the Delta leg; the
manifest list keeps planning at one small Avro read + one Avro per
manifest (appends never rewrite old manifests); bounds pruning runs
on metadata already in hand.  The per-file move + footer pass runs as
one Spark job above ``publish_staged``'s file-count threshold.
"""
from __future__ import annotations

import json
import os
import struct
import time
import uuid

from ..manifest import range_filter
from .avrofile import read_avro, write_avro
from .delta import (LogStore, _commit_or_rebase, _layer_files,
                    _layer_from_frame, _partition_values, _store,
                    _write_staged)

_FMT = 2
_INITIAL_SPEC_ID = 0
_LAST_PARTITION_ID = 999          # spec: partition field ids start at 1000


# --------------------------------------------------------------------
# type mapping + single-value binary (spec Appendix D)
# --------------------------------------------------------------------
_SPARK_TO_ICE = {
    "long": "long", "integer": "int", "int": "int", "short": "int",
    "byte": "int", "double": "double", "float": "float",
    "string": "string", "boolean": "boolean", "date": "date",
    "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
    "binary": "binary",
}

_ICE_TO_SPARK = {
    "long": "long", "int": "integer", "double": "double",
    "float": "float", "string": "string", "boolean": "boolean",
    "date": "date", "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz", "binary": "binary",
}


def _ice_schema_from_spark(schema) -> dict:
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        tn = f.dataType.typeName()
        if tn == "decimal":
            # typeName() is the BARE word — simpleString() carries
            # the spec-required precision/scale: decimal(P, S)
            p, s = f.dataType.precision, f.dataType.scale
            it = f"decimal({p}, {s})"
        elif tn in _SPARK_TO_ICE:
            it = _SPARK_TO_ICE[tn]
        else:
            raise ValueError(
                f"export_iceberg: Spark type {tn!r} has no flat "
                "Iceberg mapping (nested types need the struct tier)")
        fields.append({"id": i, "name": f.name,
                       "required": not f.nullable, "type": it})
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _spark_schema_from_ice(ice: dict):
    from pyspark.sql import types as T
    out = []
    for f in ice["fields"]:
        t = f["type"]
        if isinstance(t, str) and t.startswith("decimal"):
            sp = T._parse_datatype_string(t)
        elif t in _ICE_TO_SPARK:
            sp = T._parse_datatype_string(_ICE_TO_SPARK[t])
        else:
            raise NotImplementedError(
                f"iceberg_source: type {t!r} not mapped (nested/"
                "partition-transform tiers)")
        out.append(T.StructField(f["name"], sp, not f["required"]))
    return T.StructType(out)


def _sv_encode(ice_type: str, v) -> bytes | None:
    """Iceberg single-value binary (bounds maps).  None = this value
    can't be represented → omit the bound (prune on evidence only)."""
    try:
        if ice_type == "int" or ice_type == "date":
            return struct.pack("<i", int(v))
        if ice_type == "long":
            return struct.pack("<q", int(v))
        if ice_type == "float":
            return struct.pack("<f", float(v))
        if ice_type == "double":
            return struct.pack("<d", float(v))
        if ice_type == "string":
            return str(v).encode("utf-8")
        if ice_type == "boolean":
            return b"\x01" if v else b"\x00"
    except (TypeError, ValueError, struct.error):
        return None
    return None


#: Iceberg primitive → the Avro primitive its manifest partition
#: struct field uses (spec Appendix C Avro mapping, identity fields)
_ICE_TO_AVRO = {"int": "int", "long": "long", "float": "float",
                "double": "double", "string": "string",
                "boolean": "boolean", "date": "int",
                "timestamp": "long", "timestamptz": "long",
                "binary": "bytes"}


def _part_typed(ice_type: str, s: str | None):
    """Hive-dir partition STRING → the typed value the manifest
    stores (identity transform; None stays None).  Dates store as
    days-from-epoch ints, timestamps as micros-from-epoch longs
    (spec partition-value representation)."""
    if s is None:
        return None
    if ice_type == "date":
        import datetime
        return (datetime.date.fromisoformat(s)
                - datetime.date(1970, 1, 1)).days
    if ice_type in ("timestamp", "timestamptz"):
        import datetime
        dt = datetime.datetime.fromisoformat(s)
        epoch = datetime.datetime(1970, 1, 1, tzinfo=dt.tzinfo)
        return int((dt - epoch).total_seconds() * 1_000_000)
    if ice_type in ("int", "long"):
        return int(s)
    if ice_type in ("float", "double"):
        return float(s)
    if ice_type == "boolean":
        return s.lower() == "true"
    return s


def _spec_fields_for(partition_by: list, ice_schema: dict) -> list:
    ids = _ids_by_name(ice_schema)
    out = []
    for i, c in enumerate(partition_by):
        if c not in ids:
            raise ValueError(
                f"export_iceberg: partition column {c!r} not in the "
                "schema")
        out.append({"name": c, "transform": "identity",
                    "source-id": ids[c], "field-id": 1000 + i})
    return out


def _partition_avro_fields(spec_fields: list,
                           ice_schema: dict) -> list:
    types = _types_by_id(ice_schema)
    out = []
    for sf in spec_fields:
        it = types[sf["source-id"]]
        at = _ICE_TO_AVRO.get(it)
        if at is None:
            raise ValueError(
                f"export_iceberg: partition type {it!r} unsupported")
        out.append({"name": sf["name"], "type": ["null", at],
                    "default": None, "field-id": sf["field-id"]})
    return out


def _sv_decode(ice_type: str, b: bytes):
    if ice_type in ("int", "date"):
        return struct.unpack("<i", b)[0]
    if ice_type == "long":
        return struct.unpack("<q", b)[0]
    if ice_type == "float":
        return struct.unpack("<f", b)[0]
    if ice_type == "double":
        return struct.unpack("<d", b)[0]
    if ice_type == "string":
        return b.decode("utf-8")
    if ice_type == "boolean":
        return b != b"\x00"
    return None


# --------------------------------------------------------------------
# Avro schemas for the two metadata file kinds (field ids per spec)
# --------------------------------------------------------------------
def _kv_array(name: str, kid: int, vid: int, vtype) -> dict:
    """Iceberg encodes map<int, ...> as an array of key/value records
    (Avro map keys must be strings); field-id attrs ride along for
    foreign readers."""
    return {"type": "array", "items": {
        "type": "record", "name": name, "fields": [
            {"name": "key", "type": "int", "field-id": kid},
            {"name": "value", "type": vtype, "field-id": vid}]},
        "logicalType": "map"}


def _manifest_entry_schema(part_fields: list | None = None) -> dict:
    data_file = {"type": "record", "name": "r2", "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition",
         "type": {"type": "record", "name": "r102",
                  "fields": list(part_fields or [])},
         "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long",
         "field-id": 104},
        {"name": "value_counts",
         "type": ["null", _kv_array("k119_v120", 119, 120, "long")],
         "default": None, "field-id": 109},
        {"name": "null_value_counts",
         "type": ["null", _kv_array("k121_v122", 121, 122, "long")],
         "default": None, "field-id": 110},
        {"name": "lower_bounds",
         "type": ["null", _kv_array("k126_v127", 126, 127, "bytes")],
         "default": None, "field-id": 125},
        {"name": "upper_bounds",
         "type": ["null", _kv_array("k129_v130", 129, 130, "bytes")],
         "default": None, "field-id": 128},
        {"name": "split_offsets",
         "type": ["null", {"type": "array", "items": "long"}],
         "default": None, "field-id": 132},
        {"name": "sort_order_id", "type": ["null", "int"],
         "default": None, "field-id": 140},
    ]}
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {"name": "data_file", "type": data_file, "field-id": 2},
    ]}


def _manifest_file_schema() -> dict:
    summary = {"type": "record", "name": "r508", "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": ["null", "boolean"],
         "default": None, "field-id": 518},
        {"name": "lower_bound", "type": ["null", "bytes"],
         "default": None, "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"],
         "default": None, "field-id": 511},
    ]}
    return {"type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long",
         "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int",
         "field-id": 505},
        {"name": "deleted_files_count", "type": "int",
         "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long",
         "field-id": 513},
        {"name": "deleted_rows_count", "type": "long",
         "field-id": 514},
        {"name": "partitions",
         "type": ["null", {"type": "array", "items": summary}],
         "default": None, "field-id": 507},
    ]}


# --------------------------------------------------------------------
# metadata.json I/O
# --------------------------------------------------------------------
def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _read_table_meta(path: str, store: LogStore,
                     prefer_hint: bool = True) -> tuple | None:
    """→ (version, metadata dict) of the newest committed metadata
    json, or None for a fresh location.  Prefers version-hint.text
    (one read); falls back to a directory listing.  A commit-race
    rebase passes ``prefer_hint=False`` — the loser must see the
    WINNER's version, and the hint may lag the winner's commit."""
    md = _meta_dir(path)
    if prefer_hint:
        try:
            hint = int(store.read_text(
                os.path.join(md, "version-hint.text")).strip())
            # a writer that died between put_commit(v{N+1}) and the
            # hint update leaves the hint stale FOREVER — one probe
            # for the next version self-heals (fall through to the
            # listing, which finds the true newest)
            if not store.exists(
                    os.path.join(md, f"v{hint + 1}.metadata.json")):
                return hint, json.loads(store.read_text(
                    os.path.join(md, f"v{hint}.metadata.json")))
        except (FileNotFoundError, ValueError, NotADirectoryError):
            pass
    if not store.isdir(md):
        return None
    best = None
    for n in store.listdir(md):
        if n.startswith("v") and n.endswith(".metadata.json"):
            try:
                v = int(n[1:].split(".")[0])
            except ValueError:
                continue
            if best is None or v > best:
                best = v
    if best is None:
        return None
    return best, json.loads(store.read_text(
        os.path.join(md, f"v{best}.metadata.json")))


def _ids_by_name(ice_schema: dict) -> dict:
    return {f["name"]: f["id"] for f in ice_schema["fields"]}


def _types_by_id(ice_schema: dict) -> dict:
    return {f["id"]: f["type"] for f in ice_schema["fields"]}


def _data_file_record(full_path: str, size: int, ice_schema: dict,
                      stats: dict | None,
                      partition: dict | None = None) -> dict:
    """Compose a spec ``data_file`` struct from Delta-shape footer
    stats ({numRecords, minValues, maxValues, nullCount})."""
    ids = _ids_by_name(ice_schema)
    types = {f["name"]: f["type"] for f in ice_schema["fields"]}
    rec = {"content": 0, "file_path": full_path,
           "file_format": "PARQUET", "partition": dict(partition or {}),
           "record_count": int((stats or {}).get("numRecords", 0)),
           "file_size_in_bytes": int(size),
           "value_counts": None, "null_value_counts": None,
           "lower_bounds": None, "upper_bounds": None,
           "split_offsets": None, "sort_order_id": 0}
    if not stats:
        return rec
    lows, highs, nulls = [], [], []
    for name, lo in (stats.get("minValues") or {}).items():
        if name not in ids:
            continue
        hi = (stats.get("maxValues") or {}).get(name)
        eb_lo = _sv_encode(types[name], lo)
        eb_hi = None if hi is None else _sv_encode(types[name], hi)
        if eb_lo is not None and eb_hi is not None:
            lows.append({"key": ids[name], "value": eb_lo})
            highs.append({"key": ids[name], "value": eb_hi})
    for name, nc in (stats.get("nullCount") or {}).items():
        if name in ids:
            nulls.append({"key": ids[name], "value": int(nc)})
    if lows:
        rec["lower_bounds"] = lows
        rec["upper_bounds"] = highs
    if nulls:
        rec["null_value_counts"] = nulls
    return rec


def _write_manifest(path: str, entries: list, ice_schema: dict,
                    store: LogStore, snapshot_id: int,
                    seq: int, spec_fields: list | None = None) -> dict:
    """Write ONE manifest Avro + return its manifest_file row for the
    manifest list."""
    name = f"{uuid.uuid4().hex}-m0.avro"
    mpath = os.path.join(_meta_dir(path), name)
    added_rows = sum(e["data_file"]["record_count"] for e in entries
                     if e["status"] == 1)
    existing_rows = sum(e["data_file"]["record_count"] for e in entries
                        if e["status"] == 0)
    spec_fields = list(spec_fields or [])
    size = _write_avro_via_store(
        mpath,
        _manifest_entry_schema(
            _partition_avro_fields(spec_fields, ice_schema)),
        entries, store,
        metadata={
            "schema": json.dumps(ice_schema, separators=(",", ":")),
            "schema-id": str(ice_schema.get("schema-id", 0)),
            "partition-spec": json.dumps(spec_fields,
                                         separators=(",", ":")),
            "partition-spec-id": str(_INITIAL_SPEC_ID),
            "format-version": str(_FMT),
            "content": "data"})
    return {"manifest_path": mpath, "manifest_length": size,
            "partition_spec_id": _INITIAL_SPEC_ID, "content": 0,
            "sequence_number": seq, "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": sum(1 for e in entries
                                     if e["status"] == 1),
            "existing_files_count": sum(1 for e in entries
                                        if e["status"] == 0),
            "deleted_files_count": 0,
            "added_rows_count": added_rows,
            "existing_rows_count": existing_rows,
            "deleted_rows_count": 0,
            "partitions": None}


def _write_avro_via_store(path: str, schema: dict, records: list,
                          store: LogStore, metadata: dict) -> int:
    """Route Avro bytes through the LogStore (object-store seam) —
    local default writes temp-then-move via write_avro's own path."""
    from .avrofile import write_avro as _wa
    # write to a local temp then push bytes through the store, so a
    # non-local store still gets one whole-object PUT
    import tempfile
    with tempfile.NamedTemporaryFile(suffix=".avro",
                                     delete=False) as tf:
        tmp = tf.name
    try:
        _wa(tmp, schema, records, metadata=metadata)
        with open(tmp, "rb") as f:
            data = f.read()
        store.write_file(path, data)
        return len(data)
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def _snapshot_id() -> int:
    return uuid.uuid4().int & ((1 << 62) - 1)


def _check_table(meta: dict, mode: str, ice_schema: dict,
                 partition_by: list) -> dict:
    """The one compatibility check of an Iceberg write, run against the
    metadata it first read and again against a winner's on rebase: an
    append's column names and types must match the table's current
    schema, and the partition columns must match its default spec's.
    Returns the current schema."""
    cur = next(s for s in meta["schemas"]
               if s["schema-id"] == meta["current-schema-id"])
    if mode == "append" and \
            [(f["name"], f["type"]) for f in cur["fields"]] != \
            [(f["name"], f["type"]) for f in ice_schema["fields"]]:
        raise ValueError(
            "export_iceberg: append schema differs from the table's "
            "— overwrite or align the frame")
    spec = next(s for s in meta["partition-specs"]
                if s["spec-id"] == meta["default-spec-id"])
    cols = [f["name"] for f in spec["fields"]]
    if cols != partition_by:
        raise ValueError(
            f"export_iceberg: partition columns differ from the table's "
            f"{cols}")
    return cur


def export_iceberg(df, path: str, mode: str = "overwrite",
                   name: str | None = None,
                   partition_by: list | None = None,
                   store: LogStore | None = None) -> int:
    """Write ``df`` as an Iceberg v2 table at ``path``; returns the
    committed snapshot id.  ``mode``: 'overwrite' starts a new live
    file set (old snapshots stay readable via ``snapshot_id=`` time
    travel); 'append' adds files, reusing every previous manifest
    untouched."""
    partition_by = list(partition_by or [])
    if mode not in ("overwrite", "append"):
        raise ValueError("export_iceberg: mode must be "
                         "'overwrite' or 'append'")
    st = _store(store)
    ice_schema = _ice_schema_from_spark(df.schema)
    prev = _read_table_meta(path, st)
    if prev is not None:
        prev_schema = _check_table(prev[1], mode, ice_schema, partition_by)
        if mode == "append":
            # keep the table's field ids; but a nullable incoming column
            # RELAXES required -> optional (spec-legal evolution) — the
            # appended files may hold nulls, so keeping required=true
            # would poison the non-null contract for every reader
            merged = []
            for pf, nf in zip(prev_schema["fields"],
                              ice_schema["fields"]):
                f = dict(pf)
                f["required"] = pf["required"] and nf["required"]
                merged.append(f)
            ice_schema = {"type": "struct",
                          "schema-id": prev_schema["schema-id"],
                          "fields": merged}
    spec_fields = _spec_fields_for(partition_by, ice_schema)
    part_types = {sf["name"]: _types_by_id(ice_schema)[sf["source-id"]]
                  for sf in spec_fields}

    # distributed data write, published into data/ under stamped
    # names (hive layout preserved for partitioned tables — basePath
    # restores the columns the writer dropped; partition VALUES live
    # in the manifests, the spec's identity contract)
    data_dir = os.path.join(path, "data")
    snap_id = _snapshot_id()
    seq = 1 if prev is None else prev[1]["last-sequence-number"] + 1
    stamp = uuid.uuid4().hex[:8]
    published = _write_staged(
        df, path, data_dir, partition_by,
        name=lambda rel, i: os.path.join(os.path.dirname(rel),
                                         f"{stamp}-{i:05d}.parquet"))
    entries = []
    for dst_rel, (size, _, fstats) in published.items():
        # the stamped name keeps the staged file's hive dirs
        raw_parts = _partition_values(dst_rel, partition_by)
        part = {c: _part_typed(part_types[c], raw_parts.get(c))
                for c in partition_by}
        entries.append({
            "status": 1, "snapshot_id": snap_id,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": _data_file_record(
                os.path.abspath(os.path.join(data_dir, dst_rel)),
                size, ice_schema, fstats, partition=part)})
    return _commit_snapshot(path, st, ice_schema, entries, mode,
                            prev, snap_id, seq, name,
                            spec_fields=spec_fields)


#: an append whose manifest list would exceed this many manifests
#: first MERGES the previous ones into a single existing-status
#: manifest (the spec's manifest-rewrite: entries keep their original
#: sequence numbers, status flips added -> existing).  Planning then
#: stays a flat 2-3 Avro reads no matter how many appends the table
#: has seen — the Iceberg twin of the Delta checkpoint contract.
_MERGE_MANIFESTS_AT = 8


def _commit_snapshot(path: str, st: LogStore, ice_schema: dict,
                     entries: list, mode: str, prev, snap_id: int,
                     seq: int, name: str | None,
                     spec_fields: list | None = None) -> int:
    """Compose and publish one snapshot under the Delta leg's conflict
    policy (``delta._commit_or_rebase``): an APPEND that loses the
    put-if-absent metadata-version race re-reads the table by listing,
    re-runs ``_check_table`` against the winner and retries against the
    new snapshot (its added files are disjoint; the manifest is
    rewritten so entry sequence numbers match the new commit; the lost
    attempt's manifest avros stay as unreferenced orphans).  An
    OVERWRITE's semantics were computed against a snapshot that is now
    stale, so a lost overwrite SURFACES the conflict instead of
    rebasing."""
    spec_fields = list(spec_fields or [])

    def publish():
        nonlocal ice_schema
        now_ms = int(time.time() * 1000)
        # schema HISTORY: an overwrite that changes the schema appends
        # a new entry with the next schema-id instead of replacing the
        # list — snapshots pin their schema-id so time travel decodes
        # old manifests under the schema they were written with
        old_schemas = [] if prev is None else list(
            prev[1].get("schemas", []))

        def _sig(sch):
            return [(f["id"], f["name"], f["type"], f["required"])
                    for f in sch["fields"]]
        match = next((s for s in old_schemas
                      if _sig(s) == _sig(ice_schema)), None)
        if match is None:
            sid = max((s["schema-id"] for s in old_schemas),
                      default=-1) + 1
            ice_schema = dict(ice_schema)
            ice_schema["schema-id"] = sid
            schemas = old_schemas + [ice_schema]
        else:
            sid = match["schema-id"]
            schemas = old_schemas

        for e in entries:
            e["sequence_number"] = seq
            e["file_sequence_number"] = seq
            e["snapshot_id"] = snap_id
        manifest_row = _write_manifest(path, entries, ice_schema, st,
                                       snap_id, seq,
                                       spec_fields=spec_fields)
        manifests = [manifest_row]
        if mode == "append" and prev is not None:
            cur = prev[1].get("current-snapshot-id")
            for s in prev[1].get("snapshots", []):
                if s["snapshot-id"] == cur:
                    _, old_rows, _ = read_avro(
                        st.read_bytes(s["manifest-list"]))
                    if len(old_rows) + 1 > _MERGE_MANIFESTS_AT:
                        merged_entries = []
                        for mf in old_rows:
                            _, rows, _ = read_avro(
                                st.read_bytes(mf["manifest_path"]))
                            for e in rows:
                                if e["status"] == 2:
                                    continue
                                e = dict(e)
                                e["status"] = 0          # existing
                                merged_entries.append(e)
                        merged_row = _write_manifest(
                            path, merged_entries, ice_schema, st,
                            snap_id, seq, spec_fields=spec_fields)
                        merged_row["min_sequence_number"] = min(
                            [mf["min_sequence_number"]
                             for mf in old_rows] or [seq])
                        manifests = [merged_row, manifest_row]
                    else:
                        manifests = old_rows + manifests
                    break

        ml_name = f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro"
        ml_path = os.path.join(_meta_dir(path), ml_name)
        _write_avro_via_store(ml_path, _manifest_file_schema(),
                              manifests, st,
                              metadata={"format-version": str(_FMT)})

        added_rows = sum(e["data_file"]["record_count"]
                         for e in entries)
        snapshot = {"snapshot-id": snap_id,
                    "sequence-number": seq,
                    "timestamp-ms": now_ms,
                    "manifest-list": ml_path,
                    "summary": {
                        "operation": "append" if mode == "append"
                        else "overwrite",
                        "added-data-files": str(len(entries)),
                        "added-records": str(added_rows)},
                    "schema-id": sid}
        if prev is not None and prev[1].get("current-snapshot-id"):
            snapshot["parent-snapshot-id"] = \
                prev[1]["current-snapshot-id"]

        old_snaps = [] if prev is None else list(
            prev[1].get("snapshots", []))
        old_log = [] if prev is None else list(
            prev[1].get("snapshot-log", []))
        meta = {
            "format-version": _FMT,
            "table-uuid": (prev[1]["table-uuid"] if prev is not None
                           else str(uuid.uuid4())),
            "location": os.path.abspath(path),
            "last-sequence-number": seq,
            "last-updated-ms": now_ms,
            "last-column-id": max(f["id"] for s in schemas
                                  for f in s["fields"]),
            "current-schema-id": sid,
            "schemas": schemas,
            "default-spec-id": _INITIAL_SPEC_ID,
            "partition-specs": [{"spec-id": _INITIAL_SPEC_ID,
                                 "fields": spec_fields}],
            "last-partition-id": max(
                [_LAST_PARTITION_ID]
                + [sf["field-id"] for sf in spec_fields]),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": ({"name": name} if name else {}),
            "current-snapshot-id": snap_id,
            "snapshots": old_snaps + [snapshot],
            "snapshot-log": old_log + [{"timestamp-ms": now_ms,
                                        "snapshot-id": snap_id}],
            "metadata-log": [],
        }
        version = 1 if prev is None else prev[0] + 1
        vpath = os.path.join(_meta_dir(path),
                             f"v{version}.metadata.json")
        # HadoopTables' atomic version-file rename == put-if-absent
        st.put_commit(vpath, json.dumps(meta, separators=(",", ":")))
        st.write_file(os.path.join(_meta_dir(path),
                                   "version-hint.text"),
                      str(version).encode())
        return snap_id

    def rebase():
        nonlocal prev, seq
        # re-read by LISTING: the winner's commit may be newer than
        # the hint
        prev = _read_table_meta(path, st, prefer_hint=False)
        _check_table(prev[1], mode, ice_schema,
                     [sf["name"] for sf in spec_fields])
        seq = prev[1]["last-sequence-number"] + 1

    return _commit_or_rebase("export_iceberg", publish,
                             rebase if mode == "append" else None)


def layer_to_iceberg(layer, out_dir: str, name: str | None = None,
                     store: LogStore | None = None) -> int:
    """METADATA-ONLY Iceberg export of a layer snapshot (the
    layer_to_delta twin): manifest entries point at the layer's
    parquet absolutely, per-file stats translate into bounds
    (envelope mins/maxes, zkey range, ``amin:``/``amax:`` attribute
    ranges), zero data copied.  Returns the committed snapshot id."""
    from pyspark.sql import types as T

    st = _store(store)
    schema_json, files = _layer_files(layer, "layer_to_iceberg")
    spark_schema = T.StructType.fromJson(json.loads(schema_json))
    ice_schema = _ice_schema_from_spark(spark_schema)
    snap_id = _snapshot_id()
    entries = []
    for full, fst, s in files:
        mins: dict = {}
        maxs: dict = {}
        # Iceberg bounds need BOTH sides per column.  The manifest's
        # envelope stats give the file's [xmin_stat, xmax_stat] span,
        # which conservatively bounds EVERY envelope column (a row's
        # xmin and xmax both lie inside the file span) — so the four
        # bbox columns each get the full span, never a fabricated
        # tight side that could prune a file holding matching rows.
        if s.get("xmin") is not None and s.get("xmax") is not None:
            for c in ("xmin", "xmax"):
                mins[c] = s["xmin"]
                maxs[c] = s["xmax"]
        if s.get("ymin") is not None and s.get("ymax") is not None:
            for c in ("ymin", "ymax"):
                mins[c] = s["ymin"]
                maxs[c] = s["ymax"]
        if s.get("zmin") is not None and s.get("zmax") is not None:
            mins["zkey"] = s["zmin"]
            maxs["zkey"] = s["zmax"]
        for k, v in s.items():
            if k.startswith("amin:") and \
                    s.get("amax:" + k[5:]) is not None:
                mins[k[5:]] = v
                maxs[k[5:]] = s["amax:" + k[5:]]
        stats = {"numRecords": s.get("rows", 0)}
        if mins:
            stats["minValues"] = mins
            stats["maxValues"] = maxs
        entries.append({
            "status": 1, "snapshot_id": snap_id,
            "sequence_number": 1, "file_sequence_number": 1,
            "data_file": _data_file_record(full, fst.st_size,
                                           ice_schema, stats)})
    return _commit_snapshot(out_dir, st, ice_schema, entries,
                            "overwrite", None, snap_id, 1,
                            name or layer.name)


def layer_from_iceberg(ctx, path: str, layer_name: str,
                       snapshot_id: int | None = None):
    """Reconstitute a WKB layer from an Iceberg table carrying the
    layer-core column shape (what ``layer_to_iceberg`` / an
    ``export_iceberg`` of a layer frame produces): the inverse leg of
    the metadata-only export, so layer → Iceberg → layer round-trips
    — including snapshot time travel."""
    return _layer_from_frame(
        ctx, iceberg_source(ctx.spark, path, snapshot_id=snapshot_id),
        layer_name, "layer_from_iceberg", "iceberg_source")


def expire_snapshots(path: str, keep_last: int = 1,
                     clean_data: bool = False,
                     store: LogStore | None = None) -> dict:
    """Drop all but the newest ``keep_last`` snapshots from the table
    metadata (the spec's snapshot-expiration maintenance — the cap on
    the metadata.json growth probe_iceberg_log measures) and delete
    the manifest-list/manifest Avro objects only the expired
    snapshots referenced.  ``clean_data=True`` also deletes data
    files under the table's own ``data/`` dir that no SURVIVING
    snapshot references (never touches absolute clone targets
    outside the table).  Like vacuum_delta, ANY cleanup requires
    writer quiescence — an in-flight commit may reference objects
    this deletes.  Publishes a new metadata version through the
    put-if-absent seam; returns ``{removed_snapshots, removed_files}``.
    """
    st = _store(store)
    got = _read_table_meta(path, st)
    if got is None:
        raise FileNotFoundError(f"iceberg: no metadata under {path!r}")
    version, meta = got
    snaps = meta.get("snapshots", [])
    if keep_last < 1:
        raise ValueError("expire_snapshots: keep_last must be >= 1")
    if len(snaps) <= keep_last:
        return {"removed_snapshots": 0, "removed_files": 0}
    keep = snaps[-keep_last:]
    cur = meta.get("current-snapshot-id")
    if cur not in {s["snapshot-id"] for s in keep}:
        raise ValueError(
            "expire_snapshots: keep_last would drop the CURRENT "
            "snapshot")
    drop = snaps[:-keep_last]

    def objects_of(snapshot_list):
        mls, mans, datas = set(), set(), set()
        for s in snapshot_list:
            mls.add(s["manifest-list"])
            _, rows, _ = read_avro(st.read_bytes(s["manifest-list"]))
            for mf in rows:
                mans.add(mf["manifest_path"])
                _, es, _ = read_avro(
                    st.read_bytes(mf["manifest_path"]))
                for e in es:
                    datas.add(e["data_file"]["file_path"])
        return mls, mans, datas

    keep_mls, keep_mans, keep_datas = objects_of(keep)
    drop_mls, drop_mans, drop_datas = objects_of(drop)

    kept_ids = {s["snapshot-id"] for s in keep}
    new_meta = dict(meta)
    new_meta["snapshots"] = keep
    new_meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log", [])
        if e["snapshot-id"] in kept_ids]
    vpath = os.path.join(_meta_dir(path),
                         f"v{version + 1}.metadata.json")
    _commit_or_rebase("expire_snapshots", lambda: st.put_commit(
        vpath, json.dumps(new_meta, separators=(",", ":"))))
    st.write_file(os.path.join(_meta_dir(path), "version-hint.text"),
                  str(version + 1).encode())
    removed = 0
    for p in (drop_mls - keep_mls) | (drop_mans - keep_mans):
        removed += st.delete(p)
    if clean_data:
        own_data = os.path.abspath(os.path.join(path, "data")) + os.sep
        for p in drop_datas - keep_datas:
            if os.path.abspath(p).startswith(own_data):
                removed += st.delete(p)
    return {"removed_snapshots": len(drop), "removed_files": removed}


# --------------------------------------------------------------------
# reader
# --------------------------------------------------------------------
def read_iceberg_meta(path: str, snapshot_id: int | None = None,
                      store: LogStore | None = None) -> dict:
    """Independent metadata replay → {schema (Iceberg dict), files:
    [{path, size, records, bounds: {field_id: (lo, hi)}}],
    snapshot_id, snapshots: [...]}.  Never lists the data dir — the
    metadata IS the index (the Delta-log contract)."""
    st = _store(store)
    got = _read_table_meta(path, st)
    if got is None:
        raise FileNotFoundError(
            f"iceberg: no metadata under {path!r}")
    _, meta = got
    if meta.get("format-version") != _FMT:
        raise NotImplementedError(
            "iceberg: only format-version 2 is implemented "
            f"(found {meta.get('format-version')!r})")
    snaps = meta.get("snapshots", [])
    want = snapshot_id if snapshot_id is not None else \
        meta.get("current-snapshot-id")
    snap = next((s for s in snaps if s["snapshot-id"] == want), None)
    if snap is None:
        raise ValueError(
            f"iceberg: snapshot {want!r} not found "
            f"({[s['snapshot-id'] for s in snaps]})")
    # decode under the SNAPSHOT's schema (pinned at commit time), so
    # time travel across schema-changing overwrites stays type-exact
    want_sid = snap.get("schema-id", meta["current-schema-id"])
    ice_schema = next(s for s in meta["schemas"]
                      if s["schema-id"] == want_sid)
    types = _types_by_id(ice_schema)
    spec = next(s for s in meta["partition-specs"]
                if s["spec-id"] == meta["default-spec-id"])
    bad = [f["transform"] for f in spec["fields"]
           if f["transform"] != "identity"]
    if bad:
        raise NotImplementedError(
            f"iceberg: partition transforms {bad!r} not implemented "
            "(identity only)")
    _, manifests, _ = read_avro(st.read_bytes(snap["manifest-list"]))
    files = []
    for mf in manifests:
        if mf.get("content", 0) != 0:
            raise NotImplementedError(
                "iceberg: delete manifests (merge-on-read v2 tier) "
                "are not implemented")
        _, rows, _ = read_avro(st.read_bytes(mf["manifest_path"]))
        for e in rows:
            if e["status"] == 2:          # deleted
                continue
            dfr = e["data_file"]
            bounds = {}
            for lo in (dfr.get("lower_bounds") or []):
                fid = lo["key"]
                t = types.get(fid)
                if t is None:
                    continue
                bounds[fid] = [_sv_decode(t, lo["value"]), None]
            for hi in (dfr.get("upper_bounds") or []):
                fid = hi["key"]
                if fid in bounds:
                    bounds[fid][1] = _sv_decode(
                        types[fid], hi["value"])
            part = dict(dfr.get("partition") or {})
            # an identity partition value IS an exact bound on its
            # source column — fold it in so props= pruning sees it
            for sf in spec["fields"]:
                pv = part.get(sf["name"])
                if pv is not None and sf["source-id"] not in bounds:
                    bounds[sf["source-id"]] = [pv, pv]
            files.append({"path": dfr["file_path"],
                          "size": dfr["file_size_in_bytes"],
                          "records": dfr["record_count"],
                          "partition": part,
                          "bounds": {k: tuple(v)
                                     for k, v in bounds.items()}})
    return {"schema": ice_schema, "files": files,
            "snapshot_id": snap["snapshot-id"],
            "snapshots": [s["snapshot-id"] for s in snaps],
            "spec_fields": spec["fields"]}


def iceberg_source(spark, path: str, snapshot_id: int | None = None,
                   props: dict | None = None,
                   partitions: dict | None = None,
                   store: LogStore | None = None):
    """Read an Iceberg table into a DataFrame.  ``props``: ``{col:
    (lo, hi)}`` bounds — files whose manifest bounds PROVE the range
    empty are pruned driver-side before any task (None side =
    unbounded); the caller still applies the exact predicate
    (pruning only shrinks the scan — the delta_source contract).
    ``partitions``: ``{col: value}`` exact matches against the
    manifests' typed identity partition values."""
    meta = read_iceberg_meta(path, snapshot_id=snapshot_id,
                             store=store)
    ice_schema = meta["schema"]
    ids = _ids_by_name(ice_schema)
    spark_schema = _spark_schema_from_ice(ice_schema)
    files = meta["files"]
    if partitions:
        part_names = {sf["name"] for sf in meta["spec_fields"]}
        bad = set(partitions) - part_names
        if bad:
            raise ValueError(
                f"iceberg_source: partitions= keys {sorted(bad)} are "
                f"not partition fields {sorted(part_names)} — a typo "
                "would silently read an empty table")
        files = [fe for fe in files
                 if all(fe["partition"].get(k) == v
                        for k, v in partitions.items())]
    keep = range_filter(props, lambda fe, col: fe["bounds"].get(
        ids.get(col), (None, None)))
    files = [fe for fe in files if keep(fe)]
    if not files:
        return spark.createDataFrame([], spark_schema)
    paths = [fe["path"] for fe in files]
    if meta["spec_fields"]:
        # hive layout under data/: basePath restores the identity
        # partition columns with the types the table schema declares
        # (Spark appends partition columns last — the select pins the
        # table schema's declared order)
        return (spark.read.option(
            "basePath", os.path.join(os.path.abspath(path), "data"))
            .schema(spark_schema).parquet(*paths)
            .select(*[f.name for f in spark_schema.fields]))
    return spark.read.schema(spark_schema).parquet(*paths)
