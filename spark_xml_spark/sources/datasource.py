"""Python Data Source: ``spark.read.format("xml-graft")`` / ``df.write.format("xml-graft")``.

The idiomatic Spark-4 equivalent of the reference's DefaultSource /
XmlRelation / XmlInputFormat stack (/root/reference/src/main/scala/com/
databricks/spark/xml/DefaultSource.scala:29-111, XmlRelation.scala:29-84,
XmlInputFormat.scala:32-340), built on ``pyspark.sql.datasource``:

- ``partitions()`` plans byte-range file splits on the driver (the HDFS-split
  analogue); each ``read(partition)`` task scans only its range with the
  record-ownership rule, then parses records against the requested schema.
- ``schema()`` resolves the user-provided ``schema`` option or runs sampled
  inference (the reference's 2-pass inferred-read semantics,
  XmlRelation.scala:43-49). For cluster-distributed inference use
  ``spark_xml_spark.sources.api.read_xml`` which runs the partial/final
  schema merge as a Spark job and passes the resolved schema down.
- the writer emits one complete XML document per partition
  (declaration + rootTag framing, XmlFile.scala:104-155).

Scale notes: split planning is O(#files) driver metadata only; tasks never
materialize more than one record + a chunk buffer; no shuffle anywhere on
the read path; parsed rows flow straight into Tungsten via Spark's tuple
conversion.
"""

from __future__ import annotations

import os
import random
import uuid
from dataclasses import dataclass
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from spark_xml_spark.options import XmlOptions, get_option
from spark_xml_spark.xmlcore import generator, infer, parser, tokenizer

FORMAT_NAME = "xml-graft"

# --- catalog-table option stash -------------------------------------------
# Spark 4.1's Python DataSource does not deliver table options to ``reader()``
# for catalog tables (CREATE TABLE ... USING xml-graft): the read planner
# re-instantiates the DataSource with EMPTY options. Worse, ``schema()`` (which
# does receive the options, at CREATE TABLE time) runs in the
# create_data_source worker process while ``reader()`` runs in the separate
# plan_data_source_read worker — verified empirically by PID — so the bridge
# must cross processes: a small JSON sidecar spool keyed by the schema
# fingerprint, the one artifact both calls share. Only ``schema()`` writes the
# stash (the CREATE TABLE path always runs it; stashing from every reader
# would make any two datasets that merely share a schema collide). Ambiguity
# (two catalog tables with the byte-identical schema but different paths)
# raises instead of guessing.
_CATALOG_STASH: dict = {}

# --- tier-adoption instrumentation (always tallied, export env-gated) -------
# Which parse tier actually served each record is invisible from the plan
# (the fallbacks are per-batch, inside the Python reader). Every read task
# keeps a tally (a few dict updates per batch); when
# SPARK_XML_TIER_STATS_DIR names a directory, the task also pre-warms its
# imports and appends one JSON line per (tier, phase-time) tally on
# exhaustion; bench.py aggregates them into BENCH_r{N}'s tier_adoption
# counters. Local diagnostics only: on a real cluster the env var is unset
# and nothing is written.
_TIER_STATS_ENV = "SPARK_XML_TIER_STATS_DIR"


def _tier_stats_dir() -> Optional[str]:
    d = os.environ.get(_TIER_STATS_ENV)
    return d if d and os.path.isdir(d) else None


class _TierTally:
    __slots__ = ("counts", "times")

    def __init__(self):
        self.counts: dict = {}
        self.times: dict = {}

    def add(self, tier: str, rows: int, secs: float = 0.0) -> None:
        self.counts[tier] = self.counts.get(tier, 0) + rows
        self.times[tier] = self.times.get(tier, 0.0) + secs

    def flush(self) -> None:
        d = _tier_stats_dir()
        if not d or not self.counts:
            return
        import json as _json

        lines = "".join(
            _json.dumps(
                {"tier": t, "rows": n, "secs": round(self.times.get(t, 0.0), 4)}
            )
            + "\n"
            for t, n in self.counts.items()
        )
        try:
            with open(os.path.join(d, f"tally-{os.getpid()}.jsonl"), "a") as fh:
                fh.write(lines)
        except OSError:
            pass  # diagnostics must never fail the scan


def _counted(rows, tally: _TierTally, tier: str) -> Iterator:
    """Yield ``rows``, booking their count to ``tier`` once exhausted."""
    n = 0
    for row in rows:
        n += 1
        yield row
    tally.add(tier, n)


def _sidecar_dir() -> str:
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "xml_graft_catalog")
    os.makedirs(d, exist_ok=True)
    return d


def _stash_key(schema: T.StructType) -> str:
    import hashlib

    # simpleString ignores nullability and metadata: the INSERT write path
    # hands the writer the incoming data's schema, whose nullability can
    # differ from the stashed inferred schema
    return hashlib.sha256(schema.simpleString().encode()).hexdigest()[:32]


def _sidecar_path(key: str) -> str:
    return os.path.join(_sidecar_dir(), key + ".json")


def _canon_path(p: str) -> str:
    from spark_xml_spark.xmlcore import fs as _fs

    if _fs.is_remote(p):
        return p
    return os.path.realpath(_strip_scheme_local(p))


def _load_entries(key: str) -> List[dict]:
    import json

    entries = list(_CATALOG_STASH.get(key, []))
    seen = {_canon_path(e["path"]) for e in entries}
    try:
        with open(_sidecar_path(key)) as fh:
            for e in json.load(fh):
                c = _canon_path(e.get("path", ""))
                if c not in seen:
                    seen.add(c)
                    entries.append(e)
    except (OSError, ValueError):
        pass
    return entries


def _stash_options(schema: T.StructType, options: dict) -> None:
    import json
    import time

    path = options.get("path") or options.get("location")
    if not path:
        return
    key = _stash_key(schema)
    entry = {k: v for k, v in dict(options).items() if isinstance(v, str)}
    entry["path"] = path
    entry["__ts"] = time.time()
    canon = _canon_path(path)
    # Re-stashing an existing path refreshes its options and timestamp
    # (a re-created table with new OPTIONS must not serve the old ones);
    # dead paths are garbage-collected here so the sidecar cannot grow
    # without bound across sessions.
    entries = [
        e
        for e in _load_entries(key)
        if _canon_path(e.get("path", "")) != canon and _path_exists(e["path"])
    ]
    entries.append(entry)
    _CATALOG_STASH[key] = entries
    tmp = _sidecar_path(key) + f".tmp{os.getpid()}"
    try:
        with open(tmp, "w") as fh:
            json.dump(entries, fh)
        os.replace(tmp, _sidecar_path(key))
    except OSError:
        pass


def _path_exists(p: str) -> bool:
    from spark_xml_spark.xmlcore import fs as _fs

    if not _fs.is_remote(p):
        return os.path.exists(_strip_scheme_local(p))
    try:
        return _fs.dir_has_data(p) or _fs.size_of(p) >= 0
    except Exception:
        return False


def _listing_opts(opts: dict):
    """(pathGlobFilter, recursiveFileLookup) from a case-insensitive
    option dict — Spark's standard file-source listing options."""
    gf = get_option(opts, "pathGlobFilter")
    rl = str(
        get_option(opts, "recursiveFileLookup") or "false"
    ).lower() == "true"
    return gf, rl


_IDENTITY_META = "xml_graft_path"


def _tag_schema_identity(schema: T.StructType, path: str) -> T.StructType:
    """Embed the table's data path in the first field's metadata. Field
    metadata survives the catalog round-trip into ``reader(schema)``
    (verified empirically on Spark 4.1), so a catalog table recovers its
    options EXACTLY even when another xml table has a byte-identical
    column layout — closing the ambiguity gap the schema-fingerprint
    stash alone cannot (simpleString ignores metadata, so the stash key
    is unchanged). The crumb is visible in df.schema for raw
    ``format('xml-graft')`` reads; it doubles as provenance."""
    first = schema.fields[0]
    meta = dict(first.metadata or {})
    meta[_IDENTITY_META] = _canon_path(path)
    return T.StructType(
        [T.StructField(first.name, first.dataType, first.nullable, meta)]
        + schema.fields[1:]
    )


def _schema_identity(schema: T.StructType) -> Optional[str]:
    for f in schema.fields:
        m = f.metadata or {}
        if _IDENTITY_META in m:
            return str(m[_IDENTITY_META])
    return None


def _recover_options(schema: T.StructType) -> Optional[dict]:
    entries = _load_entries(_stash_key(schema))
    # Exact recovery first: the identity metadata names the data path
    # outright (same-schema tables cannot collide on it; the stash holds
    # at most one entry per canonical path).
    ident = _schema_identity(schema)
    if ident is not None:
        hit = [
            e
            for e in entries
            if _canon_path(e["path"]) == ident and _path_exists(e["path"])
        ]
        if hit:
            return hit[-1]
        # The crumb NAMES the right path; never degrade to the
        # newest-live-entry guess (it could silently serve another
        # same-schema table's rows). A missing stash entry means the
        # sidecar was cleared or the data moved — both need the user.
        raise ValueError(
            "xml-graft: catalog table's stashed options are gone (its "
            f"schema names data path {ident!r}, but no live stash entry "
            "matches — sidecar cleared, or the data directory moved). "
            "Re-read with spark.read.format('xml-graft')"
            ".option('path', ...), or re-CREATE the table."
        )
    # Keep only entries whose path still exists: dropped/moved tables age out.
    live = [e for e in entries if _path_exists(e["path"])]
    if len(live) == 1:
        return live[0]
    if len(live) > 1:
        # Stale same-schema entries survive a DROP TABLE whenever the old
        # directory is still on disk (nothing hooks the catalog drop), so
        # prefer the strictly newest stash — the table most recently
        # CREATEd with this schema. Only a genuine timestamp tie (two
        # same-schema tables created in the same instant) is ambiguous.
        live.sort(key=lambda e: e.get("__ts", 0.0), reverse=True)
        if live[0].get("__ts", 0.0) > live[1].get("__ts", 0.0):
            return live[0]
        raise ValueError(
            "xml-graft: ambiguous catalog table (multiple xml tables share "
            "this exact schema); re-read with "
            "spark.read.format('xml-graft').option('path', ...) instead"
        )
    return None


def _strip_scheme_local(p: str) -> str:
    if p.startswith("file://"):
        return p[7:]
    if p.startswith("file:"):
        return p[5:]
    return p


@dataclass
class XmlInputPartition(InputPartition):
    # One task reads these splits sequentially. Small files are bin-packed
    # Spark-style (FilePartition/maxSplitBytes semantics) so a million
    # 1 MB files does not mean a million tasks; a large file's byte-range
    # splits stay one per partition. ``pvals`` carries the Hive-style
    # partition-directory values shared by every split in the partition
    # (splits are packed within one partition-value group only).
    splits: Tuple[Tuple[str, int, int, Optional[str], bool], ...]
    pvals: Tuple = ()


def _pack_splits(splits, max_split_bytes: int, open_cost: int,
                 sizes: Optional[dict] = None,
                 pvals: Tuple = ()) -> List[XmlInputPartition]:
    """Greedy size-descending bin-packing of file splits into partitions,
    mirroring Spark's FilePartition.getFilePartitions: a partition closes
    when adding the next split would exceed ``max_split_bytes``, and every
    split charges ``open_cost`` on top of its bytes (so tiny files don't
    pack without bound)."""
    sized = []
    for s in splits:
        if s.end >= 0:
            size = s.end - s.start
        else:  # whole-file split (compressed / non-seekable)
            size = (sizes or {}).get(s.path)
            if size is None:
                try:
                    size = os.path.getsize(s.path)
                except OSError:
                    size = max_split_bytes
        sized.append((size, s))
    sized.sort(key=lambda t: (-t[0], t[1].path, t[1].start))
    parts: List[List] = []
    cur: List = []
    cur_cost = 0
    for size, s in sized:
        if cur and cur_cost + size > max_split_bytes:
            parts.append(cur)
            cur, cur_cost = [], 0
        cur.append(s)
        cur_cost += size + open_cost
    if cur:
        parts.append(cur)
    return [
        XmlInputPartition(
            tuple((s.path, s.start, s.end, s.compression, s.whole_file) for s in g),
            pvals,
        )
        for g in parts
    ]


def _tz_fixer(schema: T.StructType):
    """Build a row post-processor attaching UTC tzinfo to naive datetimes so
    Spark interprets them as instants regardless of session timezone.
    Returns None when the schema holds no timestamps (zero-cost path)."""
    import datetime as dt

    utc = dt.timezone.utc

    def needs(d: T.DataType) -> bool:
        if isinstance(d, T.TimestampType):
            return True
        if isinstance(d, T.StructType):
            return any(needs(f.dataType) for f in d.fields)
        if isinstance(d, T.ArrayType):
            return needs(d.elementType)
        if isinstance(d, T.MapType):
            return needs(d.valueType)
        return False

    if not needs(schema):
        return None

    def fix_value(v, d):
        if v is None:
            return None
        if isinstance(d, T.TimestampType):
            return v.replace(tzinfo=utc) if v.tzinfo is None else v
        if isinstance(d, T.StructType):
            return tuple(
                fix_value(x, f.dataType) if needs(f.dataType) else x
                for x, f in zip(v, d.fields)
            )
        if isinstance(d, T.ArrayType):
            return [fix_value(x, d.elementType) for x in v]
        if isinstance(d, T.MapType):
            return {k: fix_value(x, d.valueType) for k, x in v.items()}
        return v

    def fix_row(row: tuple) -> tuple:
        return tuple(
            fix_value(v, f.dataType) if needs(f.dataType) else v
            for v, f in zip(row, schema.fields)
        )

    return fix_row


# --- Arrow batch output ----------------------------------------------------
# Spark 4's Python DataSource accepts ``pyarrow.RecordBatch`` from read();
# batching rows into Arrow skips the per-row pickle + JVM-side converter
# (the biggest scan-path cost after the parse itself).


def _arrow_type(dt: T.DataType):
    import pyarrow as pa

    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.ShortType):
        return pa.int16()
    if isinstance(dt, T.ByteType):
        return pa.int8()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    if isinstance(dt, T.StructType):
        return pa.struct([pa.field(f.name, _arrow_type(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.MapType):
        return pa.map_(_arrow_type(dt.keyType), _arrow_type(dt.valueType))
    raise TypeError(f"no arrow mapping for {dt.simpleString()}")


def _struct_fixer(dt: T.DataType):
    """Converter turning parser output (structs as tuples, maps as dicts)
    into what pyarrow accepts (structs as dicts, maps as item lists), or
    None when the subtree needs no conversion."""
    if isinstance(dt, T.StructType):
        subs = [(f.name, _struct_fixer(f.dataType)) for f in dt.fields]

        def fix_struct(v):
            if v is None:
                return None
            return {
                name: (sub(x) if sub is not None else x)
                for (name, sub), x in zip(subs, v)
            }

        return fix_struct
    if isinstance(dt, T.ArrayType):
        sub = _struct_fixer(dt.elementType)
        if sub is None:
            return None
        return lambda v: None if v is None else [sub(x) for x in v]
    if isinstance(dt, T.MapType):
        sub = _struct_fixer(dt.valueType)

        def fix_map(v):
            if v is None:
                return None
            return [(k, sub(x) if sub is not None else x) for k, x in v.items()]

        return fix_map
    return None


def _rows_to_arrow_batches(rows, schema: T.StructType, batch_size: int):
    """Yield pyarrow.RecordBatch objects from row tuples. Raises on the
    FIRST batch if the schema/value shapes don't map — callers fall back to
    tuple mode before anything has been emitted."""
    import pyarrow as pa

    fields = schema.fields
    arrow_schema = pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType)) for f in fields]
    )
    fixers = [_struct_fixer(f.dataType) for f in fields]
    ncols = len(fields)
    while True:
        cols: List[list] = [[] for _ in range(ncols)]
        n = 0
        for row in rows:
            for i in range(ncols):
                cols[i].append(row[i])
            n += 1
            if n >= batch_size:
                break
        if n == 0:
            return
        arrays = [
            pa.array(
                [fx(v) for v in cols[i]] if (fx := fixers[i]) is not None else cols[i],
                type=arrow_schema.field(i).type,
            )
            for i in range(ncols)
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


# --- columnar flat scan ----------------------------------------------------
# For flat all-scalar schemas (the dominant shape for large tabular XML),
# record batches skip per-row tuples entirely: the tier-0 whole-record
# pattern collects raw field STRINGS per column, and pyarrow compute casts
# them to the target types in C. Exactness is preserved by construction:
# any record the pattern can't prove flat, any value Arrow's (stricter)
# parser rejects, and any guard-regex miss re-runs through the exact
# row-path casts — Arrow only ever handles values whose Python-side result
# would be identical. ~2x scan throughput on clean tabular data.

# C-level validity guards where Arrow's string parser is MORE lenient than
# the row path (it must never accept a value the row path would reject):
# date-only strings cast to timestamp, exotic offsets, non-canonical bools.
_C_CAST_GUARDS = {
    "boolean": r"(?i)^(true|false|1|0)$",
    "date": r"^\d{4}-\d{2}-\d{2}$",
    "timestamp": (
        r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}"
        r"(\.\d{1,6})?(Z|[+-]\d{2}:\d{2})$"
    ),
}

# Zone-LESS ISO timestamps ("1997-02-15 00:00:00", the overwhelmingly
# common shape) may take the Arrow cast only when no `timezone` option is
# set: the row path then resolves naive values as UTC, which is exactly
# Arrow's string->timestamp cast. With a timezone option the naive value
# is interpreted in that zone (shifted), so such columns must stay on the
# Python caster. timestampFormat does NOT affect guard-passing values —
# the ISO branch runs before the custom format (parse_xml_timestamp).
_C_TS_GUARD_NO_TZ = (
    r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}"
    r"(\.\d{1,6})?(Z|[+-]\d{2}:\d{2})?$"
)


def _cast_guards(xopts: "XmlOptions") -> dict:
    if xopts.timezone:
        return _C_CAST_GUARDS
    g = dict(_C_CAST_GUARDS)
    g["timestamp"] = _C_TS_GUARD_NO_TZ
    return g

# Types Arrow casts from string with semantics identical to casts.cast_to
# (given the guards above); everything else uses the per-cell Python caster.
_C_CASTABLE = ("string", "long", "integer", "short", "byte",
               "double", "float", "boolean", "date", "timestamp")


def _columnar_ok(schema: T.StructType, xopts: XmlOptions) -> bool:
    """Columnar path applies only when the row path's per-record extras
    can't fire: no XSD row validation, no corrupt-record column to
    populate, and default empty/null-string semantics (non-defaults are
    honored by the casters, but the C string column is identity-only)."""
    if xopts.row_validation_xsd_path:
        return False
    if (
        xopts.null_value is not None
        or xopts.ignore_surrounding_spaces
        or xopts.treat_empty_values_as_nulls
    ):
        return False
    if any(f.name == xopts.column_name_of_corrupt_record for f in schema.fields):
        return False
    fast = parser.FastFlatParser.try_build(schema, xopts)
    if fast is None:
        return False
    if fast.array_fields:
        # repeated-tag arrays have variable per-record group counts — the
        # fixed-group columnar transpose can't represent them
        return False
    return True


def _py_cast_column(vals, caster, target_type):
    import pyarrow as pa

    return pa.array(
        [None if v is None else caster(v) for v in vals], type=target_type
    )


def _cast_column(vals, dt: T.DataType, caster, target_type, guards=None,
                 is_attr=False, vt=False):
    """One column of raw strings -> Arrow array. C casts when provably
    equivalent; Python casters otherwise. Raises (ValueError /
    parser fallback) only from the Python casters — the caller then
    re-runs the whole batch through the exact row path so the parse-mode
    policy applies. ``guards`` defaults to the conservative option-free
    set; pass _cast_guards(xopts) for the option-aware set. ``is_attr``
    columns carry ATTRIBUTE cell semantics: an empty value is NOT
    null-coerced (plain cast_to — raises for non-string scalars, which
    must surface through the row path's parse policy). ``vt`` columns are
    an attribute-only element's body: an empty body is an END event, so
    it nulls even for strings."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tname = dt.typeName()
    if tname not in _C_CASTABLE:
        return _py_cast_column(vals, caster, target_type)
    arr = pa.array(vals, pa.string())
    if tname == "string":
        if vt:
            empties = pc.equal(arr, "")
            if pc.any(empties).as_py():
                arr = pc.if_else(empties, pa.scalar(None, pa.string()), arr)
        return arr  # defaults only (see _columnar_ok): "" stays "", no nullValue
    empties = pc.equal(arr, "")
    if pc.any(empties).as_py():
        if is_attr:
            # empty attribute on a non-string scalar: the generic path
            # raises from cast_to -> parse policy; route via the Python
            # caster so the caller re-runs the batch on the row path
            return _py_cast_column(vals, caster, target_type)
        # empty element -> null for every non-string scalar (row-path END
        # branch, and the END semantics of an attribute-only element's
        # body); whitespace-only is NOT empty and falls to the casters
        arr = pc.if_else(empties, pa.scalar(None, pa.string()), arr)
    guard = (guards if guards is not None else _C_CAST_GUARDS).get(tname)
    if guard is not None:
        ok = pc.match_substring_regex(arr, guard)
        if not pc.all(pc.fill_null(ok, True)).as_py():
            return _py_cast_column(vals, caster, target_type)
    try:
        if tname == "float":
            # two-step to reproduce the row path's double-rounding
            # (python float() -> float32 storage)
            return pc.cast(pc.cast(arr, pa.float64()), pa.float32())
        if (
            tname == "timestamp"
            and pa.types.is_timestamp(target_type)
            and target_type.tz is not None
        ):
            # zone-less column first (the dominant shape; guard-checked
            # ISO): naive == UTC on the row path, so attach the zone
            # without shifting. The doomed-parse branch order matters:
            # each branch either raises or is correct, and trying the
            # common case first saves a full failed parse pass per batch
            # (~65% of all cast time on a timestamp-bearing scan).
            try:
                naive = pc.cast(arr, pa.timestamp(target_type.unit))
                return pc.assume_timezone(naive, target_type.tz)
            except Exception:
                # all-zoned column: Arrow parses the offsets and converts
                return pc.cast(arr, target_type)
        return pc.cast(arr, target_type)
    except Exception:
        return _py_cast_column(vals, caster, target_type)


def _transpose_groups(groups, group_map, ncols):
    """Per-record capture-group tuples -> one list of raw strings per
    schema field; a field no group feeds is all-null."""
    gcols = list(zip(*groups))  # C-speed transpose: one tuple per group
    cols: List[list] = [None] * ncols  # type: ignore[list-item]
    for g, i, _is_attr in group_map:
        cols[i] = list(gcols[g - 1])
    nrec = len(groups)
    return [[None] * nrec if c is None else c for c in cols]


def _collect_columns(batch, pat, group_map, ncols, strict=None):
    """Match every record against the learned whole-record pattern and
    transpose the captured field strings into columns. None when any
    record needs the real parser (no match, or entity references)."""
    for rec in batch:
        if "&" in rec:
            return None
    groups = None
    if strict is not None:
        try:
            # all-fields-required pattern: ~45% faster when every record
            # carries every probe-observed part (identical captures by
            # construction — see _compile_seq_pattern)
            groups = [m.groups() for m in map(strict.match, batch)]
        except AttributeError:
            groups = None  # some record diverged: optional pattern decides
    if groups is None:
        try:
            # map() drives pat.match in C; a None match (record shape
            # drifted) raises AttributeError -> whole batch to the row path
            groups = [m.groups() for m in map(pat.match, batch)]
        except AttributeError:
            return None
    return _transpose_groups(groups, group_map, ncols)


def _collect_group_columns(batch, pat, ngroups):
    """Match every record against a learned whole-record pattern and
    transpose ALL capture groups into columns (struct mode: groups map to
    fields OR struct subfields via the 4-tuple gmap). None when any
    record needs the real parser."""
    for rec in batch:
        if "&" in rec:
            return None
    try:
        groups = [m.groups() for m in map(pat.match, batch)]
    except AttributeError:  # a None match: whole batch to the row path
        return None
    return [list(c) for c in zip(*groups)]


def _struct_gmap_columnar_ok(gmap) -> bool:
    """The columnar assembler needs each (field, sub, kind) target fed by
    at most ONE group: duplicated tags in the learning record (last-wins
    row semantics) or a field captured as both element and root attribute
    can't be expressed as independent columns — those batches take the
    row path."""
    seen = set()
    targets = set()
    for _g, i, sub, kind in gmap:
        key = (i, sub, kind)
        if key in seen:
            return False
        seen.add(key)
        if kind in ("elem", "rootattr"):
            if i in targets:
                return False
            targets.add(i)
    return True


def _assemble_struct_arrays(cols, fast, schema, arrow_schema, guards, nrec):
    """Capture-group columns -> one Arrow array per schema field, building
    StructArrays (validity = the vt presence group) for simple-struct
    fields. Raises like _cast_column on anything unprovable — the caller
    re-runs the batch through the exact row path."""
    import pyarrow as pa

    by_field: dict = {}
    for k, (_g, i, sub, kind) in enumerate(fast.struct_gmap):
        by_field.setdefault(i, {})[(sub, kind)] = cols[k]
    arrays = []
    for i, f in enumerate(schema.fields):
        at = arrow_schema.field(i).type
        srcs = by_field.get(i)
        if isinstance(f.dataType, T.StructType):
            _nsub, _vt_sub, _attr_sub, subcast = fast.simple_structs[i]
            vt_raw = None
            sub_raw = {}
            if srcs:
                for (sub, kind), raw in srcs.items():
                    if kind == "vt":
                        vt_raw = raw
                        if sub >= 0:
                            sub_raw[sub] = ("vt", raw)
                    elif kind == "attr":
                        sub_raw[sub] = ("attr", raw)
            if vt_raw is None:  # struct element not in the learned shape
                arrays.append(pa.nulls(nrec, at))
                continue
            children = []
            for j, sf in enumerate(f.dataType.fields):
                sat = at.field(j).type
                src = sub_raw.get(j)
                if src is None:
                    children.append(pa.nulls(nrec, sat))
                    continue
                skind, raw = src
                children.append(
                    _cast_column(
                        raw, sf.dataType, subcast[j], sat, guards,
                        is_attr=skind == "attr", vt=skind == "vt",
                    )
                )
            mask = pa.array([v is None for v in vt_raw], pa.bool_())
            arrays.append(
                pa.StructArray.from_arrays(children, fields=list(at), mask=mask)
            )
        elif srcs is None:
            arrays.append(pa.nulls(nrec, at))
        else:
            (sub, kind), raw = next(iter(srcs.items()))
            arrays.append(
                _cast_column(
                    raw, f.dataType,
                    (fast.attr_casters if kind == "rootattr" else fast.casters)[i],
                    at, guards, is_attr=kind == "rootattr",
                )
            )
    return arrays


def _row_batches(batch, schema: T.StructType, xopts: XmlOptions,
                 batch_size: int, fix) -> list:
    """The exact row path for one record batch: the generic parser (and
    its parse-mode policy), the timezone fix-up, then Arrow assembly.
    Every columnar tier re-runs a batch here when it can't prove its own
    result equivalent."""
    rows = parser.parse_records(iter(batch), schema, xopts)
    if fix is not None:
        rows = (fix(row) for row in rows)
    return list(_rows_to_arrow_batches(rows, schema, batch_size))


def _columnar_struct_batches(
    records: Iterator[str], schema: T.StructType, xopts: XmlOptions,
    batch_size: int, fast, tally: _TierTally,
):
    """Struct-mode columnar scan: the generic-verified learned pattern
    (parser.FastFlatParser struct mode) feeds the Arrow transpose; any
    batch the pattern or casts can't prove equivalent re-runs through the
    exact row path."""
    import itertools
    from time import perf_counter

    import pyarrow as pa

    arrow_schema = pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType)) for f in schema.fields]
    )
    fix = _tz_fixer(schema)
    guards = _cast_guards(xopts)
    records = iter(records)
    while True:
        batch = list(itertools.islice(records, batch_size))
        if not batch:
            return
        t0 = perf_counter()
        if fast.struct_pattern is None and fast._struct_learn_attempts < 16:
            probe = next((r for r in batch if "&" not in r), None)
            if probe is not None:
                fast._learn_struct_pattern(probe)
        pat = fast.struct_pattern
        arrays = None
        if pat is not None and _struct_gmap_columnar_ok(fast.struct_gmap):
            cols = _collect_group_columns(batch, pat, len(fast.struct_gmap))
            if cols is not None:
                try:
                    arrays = _assemble_struct_arrays(
                        cols, fast, schema, arrow_schema, guards, len(batch)
                    )
                except Exception:
                    pass  # unprovable cast: the batch takes the row path
        if arrays is None:
            out = _row_batches(batch, schema, xopts, batch_size, fix)
            tally.add("row_fallback", len(batch), perf_counter() - t0)
            yield from out
            continue
        tally.add("columnar_struct", len(batch), perf_counter() - t0)
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def _cast_ladder(cols, fast, fields, arrow_schema, guards):
    """The column-cast step of the flat columnar tiers: one Arrow array
    per schema field via _cast_column, root-attribute columns with
    attribute semantics. The attribute set is read from the LEARNED
    group map on every call — it is empty until a pattern is learned.
    None when a Python caster rejected a value (malformed /
    whitespace-only) — the caller re-runs the batch through the exact row
    path so the parse-mode policy applies."""
    attr_cols = {i for _g, i, is_attr in fast.group_map if is_attr}
    try:
        return [
            _cast_column(
                cols[i],
                fields[i].dataType,
                (fast.attr_casters if i in attr_cols else fast.casters)[i],
                arrow_schema.field(i).type,
                guards,
                is_attr=i in attr_cols,
            )
            for i in range(len(fields))
        ]
    except Exception:
        return None


def _columnar_batches(
    items, schema: T.StructType, xopts: XmlOptions, batch_size: int,
    tally: _TierTally,
):
    """The columnar scan: consume tokenizer.scan_split_windows items and
    yield Arrow record batches. Unpushed scans feed it the tokenizer's
    windows; pushed scans feed it ``("rec", record)`` items that passed
    the raw-text prefilter.

    A clean window runs the learned STRICT whole-record pattern's findall
    straight over its text — no per-record slicing, decoding, or match
    objects (tier ``columnar_window``). Soundness: a window is already
    proven clean by _batch_scan_window (no quotes/comments/PIs, aligned
    starts/ends, no nested same-name rows), a strict-pattern match is
    confined to one record ([^<]* fields, literal tags) and can occur at
    most once per record, so ``len(findall) == len(spans)`` implies
    per-record strict.match equivalence; strict has no optional groups,
    so every findall tuple has all groups participating (None-vs-''
    never arises — missing-field records fail strict and route to the
    per-record ladder).

    Records — ``"rec"`` items and the records of an ineligible window —
    take the per-record ladder: learn the pattern, strict-then-optional
    match, Arrow casts (tier ``columnar_flat``). Anything the ladder
    can't prove (entities, shape drift, duplicate group targets, a
    rejected cast) re-runs through the exact row path (``row_fallback``),
    so every tier applies the generic parser's parse-mode policy."""
    from time import perf_counter

    import pyarrow as pa

    fast = parser.FastFlatParser.try_build(schema, xopts)
    if fast.simple_structs:
        yield from _columnar_struct_batches(
            tokenizer.window_records(items), schema, xopts, batch_size,
            fast, tally,
        )
        return
    fields = schema.fields
    ncols = len(fields)
    arrow_schema = pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType)) for f in fields]
    )
    fix = _tz_fixer(schema)
    guards = _cast_guards(xopts)

    def learn(probe):
        try:
            fast._parse_regex(probe)  # compiles the pattern on success
        except Exception:
            pass

    def transposable():
        # a field fed by several groups (root attr + same-named element,
        # or a duplicated tag) parses correctly on the row tiers via
        # in-order overwrite, but the columnar transpose would
        # double-append its column — those records stay on the row path
        targets = [i for _g, i, _a in fast.group_map]
        return len(targets) == len(set(targets))

    def emit_records(batch):
        """The per-record ladder, INCLUDING pattern learning: pushed
        scans and corpora whose windows are all dirty (attributes or
        apostrophes make every window quote-bearing) send every record
        here, so this must be able to learn the pattern or the scan
        would silently run the row tier forever."""
        t0 = perf_counter()
        if fast.seq_pattern is None:
            probe = next((r for r in batch if "&" not in r), None)
            if probe is not None:
                learn(probe)
        arrays = None
        if fast.seq_pattern is not None and transposable():
            cols = _collect_columns(
                batch, fast.seq_pattern, fast.group_map, ncols,
                strict=fast.strict_seq_pattern,
            )
            if cols is not None:
                arrays = _cast_ladder(cols, fast, fields, arrow_schema, guards)
        if arrays is not None:
            tally.add("columnar_flat", len(batch), perf_counter() - t0)
            return [pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)]
        out = _row_batches(batch, schema, xopts, batch_size, fix)
        tally.add("row_fallback", len(batch), perf_counter() - t0)
        return out

    def emit_groups(groups, refs):
        """Strict window captures -> one Arrow batch; a cast failure
        re-slices the records and uses the per-record ladder."""
        t0 = perf_counter()
        cols = _transpose_groups(groups, fast.group_map, ncols)
        arrays = _cast_ladder(cols, fast, fields, arrow_schema, guards)
        if arrays is None:
            return emit_records([t[s:e] for t, s, e in refs])
        tally.add("columnar_window", len(groups), perf_counter() - t0)
        return [pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)]

    learn_attempts = 0

    def window_groups(text, spans):
        """The strict findall's group tuples for a clean window, one per
        span; None when the window must take the per-record ladder."""
        nonlocal learn_attempts
        if fast.seq_pattern is None and learn_attempts < 16:
            s0, e0 = spans[0]
            probe = text[s0:e0]
            if "&" not in probe:
                learn_attempts += 1
                learn(probe)
        wp = fast.strict_window_pattern
        if wp is None or "&" in text or not transposable():
            return None
        t0 = perf_counter()
        found = wp.findall(text)
        if len(found) != len(spans):
            return None
        if wp.groups == 1:
            found = [(v,) for v in found]
        # findall cost booked to the window tier
        tally.add("columnar_window", 0, perf_counter() - t0)
        return found

    pending_groups: List[tuple] = []
    pending_refs: List[tuple] = []
    rec_buf: List[str] = []
    for item in items:
        if item[0] == "win":
            text, spans = item[1], item[2]
            found = window_groups(text, spans)
            if found is not None:
                if rec_buf:
                    yield from emit_records(rec_buf)
                    rec_buf = []
                pending_groups.extend(found)
                pending_refs.extend((text, s, e) for s, e in spans)
                while len(pending_groups) >= batch_size:
                    yield from emit_groups(
                        pending_groups[:batch_size], pending_refs[:batch_size]
                    )
                    pending_groups = pending_groups[batch_size:]
                    pending_refs = pending_refs[batch_size:]
                continue
        if pending_groups:
            yield from emit_groups(pending_groups, pending_refs)
            pending_groups, pending_refs = [], []
        if item[0] == "rec":
            rec_buf.append(item[1])
        else:  # ineligible window
            rec_buf.extend(text[s:e] for s, e in spans)
        while len(rec_buf) >= batch_size:
            yield from emit_records(rec_buf[:batch_size])
            rec_buf = rec_buf[batch_size:]
    if pending_groups:
        yield from emit_groups(pending_groups, pending_refs)
    if rec_buf:
        yield from emit_records(rec_buf)


# --- filter pushdown -------------------------------------------------------
# Spark 4.1's Python DataSource API delivers Catalyst's pushable predicates
# via DataSourceReader.pushFilters. Accepted filters are REMOVED from the
# Spark plan, so evaluation must be exact: predicates run on the very row
# tuples the scan emits (same values Spark would have filtered), with SQL
# three-valued null semantics folded in (null comparisons -> row dropped,
# matching a post-scan Filter). Payoff at scale: filtered rows never leave
# the Python worker — no Arrow transfer, no JVM processing.

_PUSH_SCALARS = (
    T.StringType,
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.BooleanType,
    T.DateType,
    T.DecimalType,
)


def _push_field(attr, schema: T.StructType, corrupt_col: str):
    """Resolve a filter attribute to (index, field) when it names a
    top-level scalar column we can evaluate exactly; None otherwise."""
    if not isinstance(attr, tuple) or len(attr) != 1:
        return None  # nested fields stay Spark-side
    name = attr[0]
    matches = [
        (i, f)
        for i, f in enumerate(schema.fields)
        if f.name == name or f.name.lower() == name.lower()
    ]
    exact = [m for m in matches if m[1].name == name]
    if exact:
        matches = exact
    if len(matches) != 1:
        return None
    i, f = matches[0]
    if f.name == corrupt_col:
        return None  # corrupt-record column is populated by the parse itself
    if not isinstance(f.dataType, _PUSH_SCALARS):
        return None  # timestamps excluded too: tz-repr pitfalls
    return i, f


def _compile_filter(flt, schema: T.StructType, corrupt_col: str):
    """Compile one pushed Filter into row-tuple -> bool with SQL null
    semantics, or None when the filter can't be evaluated exactly here."""
    from pyspark.sql import datasource as ds

    if isinstance(flt, ds.Not):
        child = flt.child
        sub = _compile_filter(child, schema, corrupt_col)
        if sub is None:
            return None
        if isinstance(child, (ds.IsNull, ds.IsNotNull, ds.EqualNullSafe)):
            # these child predicates are never UNKNOWN: plain negation
            return lambda row: not sub(row)
        if not hasattr(child, "attribute"):
            return None  # Not(Not(..)) / composite child: leave to Spark
        # NOT(pred) on a null operand is UNKNOWN -> row dropped
        loc = _push_field(child.attribute, schema, corrupt_col)
        if loc is None:
            return None
        i = loc[0]
        return lambda row: row[i] is not None and not sub(row)
    if isinstance(flt, ds.IsNull):
        loc = _push_field(flt.attribute, schema, corrupt_col)
        if loc is None:
            return None
        i = loc[0]
        return lambda row: row[i] is None
    if isinstance(flt, ds.IsNotNull):
        loc = _push_field(flt.attribute, schema, corrupt_col)
        if loc is None:
            return None
        i = loc[0]
        return lambda row: row[i] is not None
    if not hasattr(flt, "attribute") or not hasattr(flt, "value"):
        return None  # unknown/future filter class: leave to Spark
    loc = _push_field(flt.attribute, schema, corrupt_col)
    if loc is None:
        return None
    i, field = loc
    v = flt.value
    if isinstance(flt, ds.EqualNullSafe):
        return lambda row: (row[i] is None and v is None) or (
            row[i] is not None and row[i] == v
        )
    if v is None:
        return None  # null literal in other comparators: UNKNOWN everywhere
    str_field = isinstance(field.dataType, T.StringType)
    if isinstance(flt, ds.EqualTo):
        return lambda row: row[i] is not None and row[i] == v
    if isinstance(flt, ds.GreaterThan):
        return lambda row: row[i] is not None and row[i] > v
    if isinstance(flt, ds.GreaterThanOrEqual):
        return lambda row: row[i] is not None and row[i] >= v
    if isinstance(flt, ds.LessThan):
        return lambda row: row[i] is not None and row[i] < v
    if isinstance(flt, ds.LessThanOrEqual):
        return lambda row: row[i] is not None and row[i] <= v
    if isinstance(flt, ds.In):
        if any(x is None for x in flt.value):
            # x IN (.., NULL) is UNKNOWN for every non-member x; under a
            # parent NOT that must drop ALL rows, which the Not wrapper
            # above cannot express -> refuse to push, Spark evaluates it
            return None
        vals = set(flt.value)
        return lambda row: row[i] is not None and row[i] in vals
    if isinstance(flt, ds.StringStartsWith) and str_field:
        return lambda row: row[i] is not None and row[i].startswith(v)
    if isinstance(flt, ds.StringEndsWith) and str_field:
        return lambda row: row[i] is not None and row[i].endswith(v)
    if isinstance(flt, ds.StringContains) and str_field:
        return lambda row: row[i] is not None and v in row[i]
    return None


def _compile_filter_arrow(flt, schema: T.StructType, corrupt_col: str):
    """Compile one pushed Filter into RecordBatch -> BooleanArray (no
    nulls: null comparisons are filled False, matching _compile_filter's
    row semantics exactly — both follow IEEE comparison on doubles, so
    the columnar and row pushdown paths always agree). None when the
    filter can't be expressed with pyarrow.compute."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import datasource as ds

    if isinstance(flt, ds.Not):
        child = flt.child
        sub = _compile_filter_arrow(child, schema, corrupt_col)
        if sub is None:
            return None
        if isinstance(child, (ds.IsNull, ds.IsNotNull, ds.EqualNullSafe)):
            # these child predicates are never UNKNOWN: plain negation
            return lambda b: pc.invert(sub(b))
        if not hasattr(child, "attribute"):
            return None  # Not(Not(..)) / composite child: leave to Spark
        loc = _push_field(child.attribute, schema, corrupt_col)
        if loc is None:
            return None
        i = loc[0]
        # NOT(pred) on a null operand is UNKNOWN -> row dropped
        return lambda b: pc.and_(pc.is_valid(b.column(i)), pc.invert(sub(b)))
    if isinstance(flt, ds.IsNull):
        loc = _push_field(flt.attribute, schema, corrupt_col)
        if loc is None:
            return None
        i = loc[0]
        return lambda b: pc.is_null(b.column(i))
    if isinstance(flt, ds.IsNotNull):
        loc = _push_field(flt.attribute, schema, corrupt_col)
        if loc is None:
            return None
        i = loc[0]
        return lambda b: pc.is_valid(b.column(i))
    if not hasattr(flt, "attribute") or not hasattr(flt, "value"):
        return None
    loc = _push_field(flt.attribute, schema, corrupt_col)
    if loc is None:
        return None
    i, field = loc
    v = flt.value
    if isinstance(flt, ds.EqualNullSafe):
        if v is None:
            return lambda b: pc.is_null(b.column(i))
        return lambda b: pc.fill_null(pc.equal(b.column(i), v), False)
    if v is None:
        return None
    str_field = isinstance(field.dataType, T.StringType)
    cmp = {
        ds.EqualTo: pc.equal,
        ds.GreaterThan: pc.greater,
        ds.GreaterThanOrEqual: pc.greater_equal,
        ds.LessThan: pc.less,
        ds.LessThanOrEqual: pc.less_equal,
    }.get(type(flt))
    if cmp is not None:
        return lambda b: pc.fill_null(cmp(b.column(i), v), False)
    if isinstance(flt, ds.In):
        if any(x is None for x in flt.value):
            return None  # see _compile_filter: NULL member breaks NOT(In)
        try:
            value_set = pa.array(
                list(flt.value), type=_arrow_type(field.dataType)
            )
        except Exception:
            return None
        return lambda b: pc.fill_null(
            pc.is_in(b.column(i), value_set=value_set), False
        )
    if isinstance(flt, ds.StringStartsWith) and str_field:
        return lambda b: pc.fill_null(pc.starts_with(b.column(i), v), False)
    if isinstance(flt, ds.StringEndsWith) and str_field:
        return lambda b: pc.fill_null(pc.ends_with(b.column(i), v), False)
    if isinstance(flt, ds.StringContains) and str_field:
        return lambda b: pc.fill_null(pc.match_substring(b.column(i), v), False)
    return None


def _raw_prefilter(filters, schema: T.StructType, corrupt_col: str):
    """Reject-only prefilter on the RAW record text: a record that doesn't
    contain a required string literal anywhere can't satisfy an equality /
    contains / startswith / endswith filter on any field — skip the parse.
    Sound only when the literal appears verbatim in well-formed XML, so it
    is guarded per record: entity references ('&') or CDATA splits (']]>')
    disable the shortcut for that record. Caller must not use this in
    FAILFAST mode (a skipped malformed record would no longer raise)."""
    from pyspark.sql import datasource as ds

    literals = []
    for flt in filters:
        if isinstance(
            flt, (ds.EqualTo, ds.StringContains, ds.StringStartsWith, ds.StringEndsWith)
        ):
            loc = _push_field(getattr(flt, "attribute", None), schema, corrupt_col)
            if (
                loc is not None
                and isinstance(loc[1].dataType, T.StringType)
                and isinstance(flt.value, str)
                and flt.value
                and not any(c in flt.value for c in "&<>\"'")
            ):
                literals.append(flt.value)
    if not literals:
        return None

    def reject(rec: str) -> bool:
        if "&" in rec or "]]>" in rec:
            return False
        return any(lit not in rec for lit in literals)

    return reject


class XmlReader(DataSourceReader):
    def __init__(self, options: dict, schema: T.StructType):
        self._opts_dict = dict(options)
        self._schema = schema
        self._pushed: List = []  # Filter dataclasses accepted by pushFilters
        self._path = options.get("path") or options.get("location")
        if not self._path:
            # catalog-table read: Spark handed us empty options (see
            # _CATALOG_STASH); recover them by schema fingerprint
            recovered = _recover_options(schema)
            if recovered is not None:
                self._opts_dict = dict(recovered)
                self._path = self._opts_dict.get("path")
        if not self._path:
            raise ValueError("path option is required for the xml data source")

    def _discover(self, need_files: bool = False):
        """Driver-side Hive-style partition discovery, cached on self.
        pushFilters (to classify partition filters) and partitions() (to
        group/prune) both need it; partitions() drops the FILE list
        afterwards so executor pickles stay slim, while the small
        ``_pcols`` result stays cached — executors consult it without
        ever touching the filesystem."""
        if getattr(self, "_pcols", None) is None or (
            need_files and getattr(self, "_pfiles", None) is None
        ):
            from spark_xml_spark.sources import partitions as pmod

            gf, rl = _listing_opts(self._opts_dict)
            self._pfiles, self._pcols = pmod.discover_partitions(
                self._path, glob_filter=gf, recursive_lookup=rl
            )
        return getattr(self, "_pfiles", None), self._pcols

    def _attach_cols(self):
        """The partition columns this scan actually EXPOSES: the trailing
        schema fields matching the discovered partition keys, in order.
        [] when the schema omits them (data-only output — a pruned
        projection or an explicit schema without partition columns)."""
        _, pcols = self._discover()
        if not pcols:
            return []
        names = [n for n, _ in pcols]
        tail = [f.name for f in self._schema.fields[-len(pcols):]]
        if tail == names:
            return pcols
        present = [n for n in names if n in {f.name for f in self._schema.fields}]
        if present:
            raise ValueError(
                f"partition columns {names} must be the LAST fields of the "
                f"schema, in discovery order; got schema tail {tail}"
            )
        return []

    def _data_schema(self) -> T.StructType:
        """The schema the XML parser fills — the full scan schema minus
        the attached partition columns (constants from the directory
        names, never parsed from file content)."""
        attach = self._attach_cols()
        if not attach:
            return self._schema
        return T.StructType(self._schema.fields[: -len(attach)])

    def partitions(self) -> List[InputPartition]:
        xopts = XmlOptions.from_dict(self._opts_dict)
        open_cost = int(
            get_option(self._opts_dict, "openCostBytes") or 4 * 1024 * 1024
        )
        try:
            pfiles, pcols = self._discover(need_files=True)
        except OSError as exc:
            from spark_xml_spark.sources.partitions import NoMatchingFilesError

            if isinstance(exc, NoMatchingFilesError):
                raise  # zero-match pathGlobFilter: never scan unfiltered
            if getattr(self, "_ppushed", None):
                # pushFilters CONSUMED partition-column filters (removed
                # from the Spark plan) on the strength of an earlier
                # listing; degrading to the unpartitioned path here would
                # silently never apply them — wrong rows, not an error
                raise
            pfiles, pcols = None, []
        if pcols:
            return self._partitions_partitioned(
                xopts, open_cost, pfiles, pcols
            )
        listed = [(f, sz) for f, sz, _ in pfiles] if pfiles is not None else None
        sizes = dict(listed) if listed is not None else {}
        target = self._split_target(open_cost, listed)
        out = _pack_splits(
            tokenizer.plan_splits(self._path, xopts.charset, target, files=listed),
            target,
            open_cost,
            sizes,
        )
        self._pfiles = None  # keep executor pickles slim
        return out

    def _split_target(self, open_cost: int, listed) -> int:
        explicit = get_option(
            self._opts_dict, "targetSplitSize", "maxPartitionBytes"
        )
        if explicit is not None:
            return int(explicit)
        # Spark's maxSplitBytes: min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/minPartitionNum)) — small corpora
        # split finer to feed every core, huge corpora cap at 128 MB per
        # task, and the open cost keeps a million tiny files from becoming
        # a million tasks.
        total = open_cost  # avoid zero; matches Spark's +openCost/file
        for _f, size in listed or ():
            total += size + open_cost
        par = int(get_option(self._opts_dict, "minPartitions") or 0)
        if par <= 0:
            # split planning runs in Spark's Python planner worker, where
            # getActiveSession() is None — read_xml injects the session's
            # defaultParallelism as minPartitions; raw format() reads fall
            # back to the planner host's cores
            par = os.cpu_count() or 8
        bytes_per_core = total // max(par, 1)
        return min(128 * 1024 * 1024, max(open_cost, bytes_per_core))

    def _partitions_partitioned(
        self, xopts, open_cost: int, pfiles, pcols
    ) -> List[InputPartition]:
        """Split planning for a Hive-partitioned layout: splits pack
        WITHIN one partition-value group (a task's rows share one value
        tuple), pushed partition filters prune whole groups before any
        byte is read (the 100 TB point of a partitioned layout), and the
        surviving groups' typed values ride the partition objects."""
        from spark_xml_spark.sources import partitions as pmod

        attach = self._attach_cols()
        pschema = T.StructType(
            [
                T.StructField(
                    n,
                    {"bigint": T.LongType(), "double": T.DoubleType()}.get(
                        t, T.StringType()
                    ),
                )
                for n, t in pcols
            ]
        )
        preds = [
            _compile_filter(f, pschema, "\x00none")
            for f in getattr(self, "_ppushed", [])
        ]
        groups: dict = {}
        for f, sz, pv in pfiles:
            groups.setdefault(pv, []).append((f, sz))
        all_listed = [(f, sz) for f, sz, _ in pfiles]
        target = self._split_target(open_cost, all_listed)
        out: List[InputPartition] = []
        for pv in sorted(
            groups, key=lambda t: tuple("" if v is None else v for v in t)
        ):
            typed = tuple(
                pmod.typed_value(v, t) for v, (_n, t) in zip(pv, pcols)
            )
            if preds and not all(p(typed) for p in preds if p is not None):
                continue  # pruned: no file in this group is opened
            listed = groups[pv]
            out.extend(
                _pack_splits(
                    tokenizer.plan_splits(
                        self._path, xopts.charset, target, files=listed
                    ),
                    target,
                    open_cost,
                    dict(listed),
                    pvals=typed if attach else (),
                )
            )
        self._pfiles = None  # keep executor pickles slim
        return out

    def read(self, partition: XmlInputPartition) -> Iterator:
        tally = _TierTally()
        gen = self._read_impl(partition, tally)
        if _tier_stats_dir():
            # Pre-warm the heavy lazy imports OUTSIDE any timed region,
            # booked to an explicit "setup" tally (once per worker
            # process; ~0 on reuse). Without this, each worker's first
            # timed batch absorbed the one-time pyarrow.compute import
            # (~0.3s), so a tiny tier could report secs wildly out of
            # proportion to its rows and corrupt tier economics.
            from time import perf_counter

            t0 = perf_counter()
            import pyarrow  # noqa: F401
            import pyarrow.compute  # noqa: F401

            # pyarrow's first pa.array() lazily imports pandas through
            # its _pandas_api shim (~0.35s/worker) — trigger it here or
            # the first timed cast batch absorbs it
            pyarrow.array(["x"], pyarrow.string())
            tally.add("setup", 0, perf_counter() - t0)
            gen = self._flush_after(gen, tally)
        pv = getattr(partition, "pvals", ())
        if pv:
            gen = self._attach_pvals(gen, pv)
        yield from gen

    def _flush_after(self, gen, tally) -> Iterator:
        try:
            yield from gen
        finally:
            tally.flush()

    def _attach_pvals(self, gen, pv) -> Iterator:
        """Append the partition-directory constants to every output row /
        batch: the parser never sees these columns (they are not in the
        file content), so tuples extend and Arrow batches gain constant
        arrays — the analogue of Spark appending partition values outside
        the FileFormat reader."""
        import pyarrow as pa

        attach = self._attach_cols()
        pa_types = {"bigint": pa.int64(), "double": pa.float64()}
        names = [f.name for f in self._data_schema().fields] + [
            n for n, _ in attach
        ]
        for item in gen:
            if isinstance(item, pa.RecordBatch):
                arrays = list(item.columns)
                for v, (_n, t) in zip(pv, attach):
                    ptype = pa_types.get(t, pa.string())
                    arrays.append(
                        pa.nulls(item.num_rows, ptype)
                        if v is None
                        else pa.array([v] * item.num_rows, ptype)
                    )
                yield pa.RecordBatch.from_arrays(arrays, names=names)
            else:
                yield tuple(item) + pv

    def _read_impl(self, partition: XmlInputPartition, tally) -> Iterator:
        import itertools

        xopts = XmlOptions.from_dict(self._opts_dict)
        dschema = self._data_schema()

        def _items():
            for path, start, end, compression, whole_file in partition.splits:
                split = tokenizer.FileSplit(path, start, end, compression, whole_file)
                yield from tokenizer.scan_split_windows(
                    split, xopts.row_tag, xopts.charset
                )

        records = tokenizer.window_records(_items())
        corrupt = xopts.column_name_of_corrupt_record
        if self._pushed and xopts.mode != "FAILFAST":
            # raw-text reject shortcut: skip parsing records that can't
            # match (FAILFAST keeps parsing everything so malformed
            # records still raise exactly as an unfiltered scan would)
            reject = _raw_prefilter(self._pushed, dschema, corrupt)
            if reject is not None:
                records = (r for r in records if not reject(r))
        fix = _tz_fixer(dschema)
        rows = parser.parse_records(records, dschema, xopts)
        if fix is not None:
            rows = (fix(row) for row in rows)
        if self._pushed:
            preds = [
                _compile_filter(f, dschema, corrupt) for f in self._pushed
            ]
            rows = (row for row in rows if all(p(row) for p in preds))

        arrow_flag = str(
            get_option(self._opts_dict, "arrowBatches") or "true"
        ).lower()
        if arrow_flag == "false":
            yield from _counted(rows, tally, "row_tuple")
            return
        batch_size = int(
            get_option(self._opts_dict, "arrowBatchSize")
            or 8192  # fewer IPC batches & JVM per-batch setups than 4096
        )
        if _columnar_ok(dschema, xopts):
            # Columnar fast path: record batches go straight from matched
            # field strings to Arrow arrays with C-level casts; any batch
            # the pattern or casts can't prove equivalent re-runs through
            # the exact row path. `rows` above was never advanced, so
            # `records` is still whole.
            if not self._pushed:
                # unpushed: consume the tokenizer's clean windows directly
                yield from _columnar_batches(
                    _items(), dschema, xopts, batch_size, tally
                )
                return
            # pushed: per-record items, so the raw-text prefilter
            # composes; the filters run per batch as pyarrow.compute
            # masks when every one maps, else the row path below
            # evaluates them all
            masks = [
                _compile_filter_arrow(f, dschema, corrupt)
                for f in self._pushed
            ]
            if all(m is not None for m in masks):
                import pyarrow.compute as pc

                for batch in _columnar_batches(
                    (("rec", r) for r in records), dschema, xopts, batch_size,
                    tally,
                ):
                    mask = masks[0](batch)
                    for m in masks[1:]:
                        mask = pc.and_(mask, m(batch))
                    batch = batch.filter(mask)
                    if batch.num_rows:
                        yield batch
                return
        # Probe arrow conversion on the first batch only: the rows are
        # buffered, so an unmappable schema (or value shape) falls back to
        # tuple mode with nothing lost. Later batches propagate errors —
        # a mixed tuple/batch stream is not allowed.
        buf = list(itertools.islice(rows, batch_size))
        if not buf:
            return
        try:
            first = next(_rows_to_arrow_batches(iter(buf), dschema, batch_size))
        except Exception:
            yield from _counted(itertools.chain(buf, rows), tally, "row_tuple")
            return
        tally.add("row_arrow", first.num_rows)
        yield first
        for b in _rows_to_arrow_batches(rows, dschema, batch_size):
            tally.add("row_arrow", b.num_rows)
            yield b


class XmlPushdownReader(XmlReader):
    """XmlReader with Catalyst filter pushdown. Kept as a separate class:
    Spark raises DATA_SOURCE_PUSHDOWN_DISABLED for any reader that merely
    OVERRIDES pushFilters while spark.sql.python.filterPushdown.enabled is
    false, so the plain XmlReader must not define it. Selected via reader
    option ``filterPushdown=true`` (read_xml injects it automatically from
    the session conf)."""

    def pushFilters(self, filters):
        """Accept every filter we can evaluate exactly on parsed rows
        (top-level scalar fields, SQL null semantics); the rest stay in
        the Spark plan. Stores raw Filter dataclasses — self must remain
        picklable, so compilation to closures happens in read()."""
        xopts = XmlOptions.from_dict(self._opts_dict)
        corrupt = xopts.column_name_of_corrupt_record
        # Spark reuses one reader instance across plannings of the same
        # relation (e.g. a temp view queried twice): pushed filters are
        # per-scan state, never accumulated
        self._pushed = []
        self._ppushed = []  # partition-column filters -> file pruning
        remaining = []
        try:
            attach = self._attach_cols()
        except OSError as exc:
            from spark_xml_spark.sources.partitions import NoMatchingFilesError

            if isinstance(exc, NoMatchingFilesError):
                raise
            attach = []
        pnames = {n for n, _ in attach}
        pschema = T.StructType(
            [
                T.StructField(
                    n,
                    {"bigint": T.LongType(), "double": T.DoubleType()}.get(
                        t, T.StringType()
                    ),
                )
                for n, t in attach
            ]
        )
        dschema = self._data_schema() if attach else self._schema
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr is None:
                attr = getattr(getattr(f, "child", None), "attribute", None)
            if attr is not None and len(attr) == 1 and attr[0] in pnames:
                # constant per file: consumed by pruning whole partition
                # groups in partitions(), never re-checked per row
                if _compile_filter(f, pschema, corrupt) is not None:
                    self._ppushed.append(f)
                else:
                    remaining.append(f)
            elif _compile_filter(f, dschema, corrupt) is not None:
                self._pushed.append(f)
            else:
                remaining.append(f)
        return remaining


@dataclass
class XmlCommitMessage(WriterCommitMessage):
    # ``files`` are RELATIVE to the sink root (partitioned writes prefix
    # the col=value/ dirs) so abort can delete every file this task wrote
    # — the old single-last-file field missed earlier rolls of a
    # partitioned task and lacked the directory prefix.
    files: Tuple[str, ...]
    count: int


def iter_partition_groups(schema: T.StructType, iterator, pby: List[str]):
    """Split a row iterator into Hive-style partition groups: yields
    (relative directory, data-only schema, group-row iterator) per run of
    equal partition-column values. Shared by the batch and streaming XML
    writers. Values escape like Spark's escapePathName (NULL ->
    __HIVE_DEFAULT_PARTITION__); partition columns are dropped from the
    yielded rows — the partitioned read re-derives them from the
    directory names. The caller MUST exhaust each group's iterator
    before advancing (both writers stream a group straight to a file).
    Files roll on value change: sorted-within-partition input gives one
    file per (task, value); unsorted input stays correct but produces
    more files. O(1) memory either way."""
    from urllib.parse import quote

    names = [f.name for f in schema.fields]
    missing = [c for c in pby if c not in names]
    if missing:
        raise ValueError(f"partitionBy column(s) {missing} not in schema")
    pidx = [names.index(c) for c in pby]
    didx = [i for i in range(len(names)) if i not in pidx]
    dschema = T.StructType([schema.fields[i] for i in didx])

    def dirname(vals) -> str:
        segs = []
        for c, v in zip(pby, vals):
            s = (
                "__HIVE_DEFAULT_PARTITION__"
                if v is None
                else quote(str(v), safe="")
            )
            segs.append(f"{c}={s}")
        return "/".join(segs)

    _SENTINEL = object()
    it = iter(iterator)
    pending = next(it, _SENTINEL)
    while pending is not _SENTINEL:
        cur = tuple(pending[i] for i in pidx)

        def group():
            nonlocal pending
            while (
                pending is not _SENTINEL
                and tuple(pending[i] for i in pidx) == cur
            ):
                row = pending
                pending = next(it, _SENTINEL)
                yield tuple(row[i] for i in didx)

        yield dirname(cur), dschema, group()


def write_document_file(
    directory: str, schema: T.StructType, rows, xopts, pid: int, seq: int
):
    """Stream one complete XML document file into ``directory`` (created
    if needed), honoring the compression codec; returns (file name, row
    count). Shared by the batch and streaming XML writers."""
    import io

    from spark_xml_spark.xmlcore import codecs as _codecs
    from spark_xml_spark.xmlcore import fs as _fs
    from spark_xml_spark.xmlcore import generator

    _fs.makedirs(directory)
    suffix = ".xml"
    if xopts.compression:
        suffix = ".xml" + _codecs.WRITE_SUFFIX[xopts.compression]
    name = f"part-{pid:05d}-{seq:03d}-{uuid.uuid4().hex[:8]}{suffix}"
    target = directory.rstrip("/") + "/" + name
    count = 0

    def counted(it):
        nonlocal count
        for row in it:
            count += 1
            yield row

    raw = _fs.open_output(target)
    body = raw
    try:
        if xopts.compression:
            body = _codecs.wrap_write(raw, xopts.compression)
        fh = io.TextIOWrapper(body, encoding=xopts.charset)
        for line in generator.rows_to_document(schema, counted(rows), xopts):
            fh.write(line)
            fh.write("\n")
        fh.close()  # flushes + closes the compression wrapper
    finally:
        try:
            raw.close()  # GzipFile/BZ2File leave the raw stream open
        except Exception:
            pass
    return name, count


class XmlWriter(DataSourceWriter):
    """One complete XML document per partition (XmlFile.scala:104-155);
    SaveMode semantics follow DefaultSource.scala:83-106 (Append unsupported,
    Overwrite deletes, ErrorIfExists/Ignore resolved by the caller)."""

    def __init__(self, options: dict, schema: T.StructType, overwrite: bool):
        self._opts_dict = dict(options)
        self._schema = schema
        self._path = options.get("path") or options.get("location")
        if not self._path:
            # catalog-table INSERT: Spark hands the writer empty options
            # (same gap as the reader) — recover via the schema stash
            recovered = _recover_options(schema)
            if recovered is not None:
                self._opts_dict = dict(recovered)
                self._path = self._opts_dict.get("path")
        if not self._path:
            raise ValueError("path option is required for the xml data source")
        from spark_xml_spark.xmlcore import fs as _fs

        if not _fs.is_remote(self._path):
            self._path = _strip_scheme_local(self._path)
        existing = _fs.dir_has_data(self._path)
        if not overwrite and existing:
            # reference semantics: only INSERT OVERWRITE is supported
            # (XmlRelation.scala:61-84, DefaultSource.scala:83-106)
            raise ValueError(
                "Append mode is not supported by the xml data source; "
                "use INSERT OVERWRITE / mode('overwrite')"
            )
        if overwrite and _fs.dir_exists(self._path):
            # whenever the target exists at all — a stale dir holding only
            # _SUCCESS/hidden files must not survive into the new output
            _fs.delete_dir(self._path)

    def _partition_by(self) -> List[str]:
        raw = get_option(self._opts_dict, "partitionBy")
        return [c.strip() for c in raw.split(",") if c.strip()] if raw else []

    def write(self, iterator) -> XmlCommitMessage:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        xopts = XmlOptions.from_dict(self._opts_dict)
        pby = self._partition_by()
        if not pby:
            name, count = write_document_file(
                self._path, self._schema, iterator, xopts, pid, 0
            )
            return XmlCommitMessage(files=(name,), count=count)
        # Hive-style partitioned write (iter_partition_groups): partition
        # columns become <col>=<value>/ directories and are NOT written
        # into the XML content — the read side re-derives them from the
        # directory names.
        files: List[str] = []
        total = 0
        for seq, (reldir, dschema, rows) in enumerate(
            iter_partition_groups(self._schema, iterator, pby)
        ):
            name, n = write_document_file(
                self._path.rstrip("/") + "/" + reldir,
                dschema, rows, xopts, pid, seq,
            )
            files.append(reldir + "/" + name)
            total += n
        return XmlCommitMessage(files=tuple(files), count=total)

    def commit(self, messages) -> None:
        pass

    def abort(self, messages) -> None:
        from spark_xml_spark.xmlcore import fs as _fs

        for m in messages:
            for f in getattr(m, "files", ()) if m is not None else ():
                try:
                    _fs.delete_file(self._path.rstrip("/") + "/" + f)
                except OSError:
                    pass


class XmlDataSource(DataSource):
    """Register with ``spark.dataSource.register(XmlDataSource)`` then use
    ``spark.read.format("xml-graft")`` — the Python-native analogue of the
    reference's DataSourceRegister service (DefaultSource.scala:29-38)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> T.StructType:
        xopts = XmlOptions.from_dict(self.options)
        path = self.options.get("path") or self.options.get("location")
        if not path:
            raise ValueError("path option is required for the xml data source")
        # Driver-side sampled inference (the inference *semantics* of
        # XmlRelation.scala:43-49 + InferSchema.scala:68-72). read_xml()
        # distributes this as a Spark job for big inputs and passes the
        # resolved schema explicitly, skipping this path. To keep the raw
        # format path (SQL DDL / spark.read.format) from parking the cluster
        # behind a single-threaded driver scan of the whole corpus, this path
        # is bounded by ``inferLimit`` records by default (0 = unbounded,
        # matching the reference's full extra pass).
        ratio = xopts.sampling_ratio
        rng = random.Random(1)
        limit_raw = (
            get_option(self.options, "inferLimit") or _DEFAULT_INFER_LIMIT
        )
        limit = int(limit_raw) or None

        from spark_xml_spark.sources import partitions as pmod

        gf, rl = _listing_opts(dict(self.options))
        pfiles, pcols = pmod.discover_partitions(
            path, glob_filter=gf, recursive_lookup=rl
        )
        flat = [(f, sz) for f, sz, _ in pfiles]

        def sampled() -> Iterator[str]:
            n = 0
            for s in tokenizer.plan_splits(path, xopts.charset, files=flat):
                for rec in tokenizer.scan_split(s, xopts.row_tag, xopts.charset):
                    if ratio >= 1.0 or rng.random() < ratio:
                        n += 1
                        yield rec
                        if limit and n >= limit:
                            # Fields first appearing past the cap would be
                            # silently absent from the schema — say so
                            # (ADVICE r2); the distributed read_xml path
                            # has no cap, and inferLimit=0 forces the
                            # reference's full extra pass here too.
                            import warnings

                            warnings.warn(
                                f"XML schema inference stopped after "
                                f"{limit} sampled records (inferLimit); "
                                f"fields first appearing later are not in "
                                f"the schema. Set inferLimit=0 for a full "
                                f"pass or provide an explicit schema.",
                                stacklevel=2,
                            )
                            return

        # With infer_schema=false, infer_from() types every leaf as string but
        # field *discovery* still walks all sampled records — the reference's
        # InferSchema.inferFrom inferSchema=false branch (InferSchema.scala
        # still unions field names; only types are forced to string).
        schema = infer.infer_schema_from_records(sampled(), xopts)
        if not schema.fields:
            raise ValueError(f"no XML rows with rowTag '{xopts.row_tag}' found in {path}")
        schema = pmod.append_partition_fields(schema, pcols)
        schema = _tag_schema_identity(schema, path)
        _stash_options(schema, dict(self.options))
        return schema

    def reader(self, schema: T.StructType) -> XmlReader:
        opts = dict(self.options)
        if not (opts.get("path") or opts.get("location")):
            # catalog-table read: Spark hands reader() empty options;
            # recover them here so the pushdown flag survives too
            recovered = _recover_options(schema)
            if recovered is not None:
                opts = dict(recovered)
        push = str(
            opts.get("filterPushdown") or opts.get("filterpushdown") or "false"
        ).lower()
        if push == "true":
            return XmlPushdownReader(opts, schema)
        return XmlReader(opts, schema)

    def writer(self, schema: T.StructType, overwrite: bool) -> XmlWriter:
        return XmlWriter(self.options, schema, overwrite)

    def streamReader(self, schema: T.StructType):
        from spark_xml_spark.streaming.source import XmlStreamReader

        return XmlStreamReader(dict(self.options), schema)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        from spark_xml_spark.streaming.source import XmlStreamWriter

        return XmlStreamWriter(dict(self.options), schema)


# Default cap on driver-side inference for the raw format/DDL path; the
# distributed path (sources.api.read_xml) has no cap — it infers as a Spark
# job. Override with option inferLimit (0 = unbounded full pass).
_DEFAULT_INFER_LIMIT = 10000
