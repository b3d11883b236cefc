"""Apache Iceberg v2 table writer (create / append / overwrite).

The write-side counterpart of :class:`~buzz_rust_spark.sources.iceberg.
IcebergCatalog`, built the same way the Delta writer mirrors the Delta
catalog: the engine's own codecs produce the table's metadata (Avro
manifests via ``sources/avro.py``, JSON table metadata), and Spark's
executors produce the data — the driver never touches a data row.

Reference parity note: the reference engine is read-only over parquet
(SURVEY.md §2.A A1); table-format WRITES are rebuild extension surface,
ranked next to the Delta writer because a lakehouse user round-trips both
formats.

Scale design:

- **Data files are written by executors**, one ``mapInArrow`` pass: the
  input is repartitioned on the partition columns so each task holds few
  distinct partition values, then each task streams its Arrow batches
  into per-partition-value ``pyarrow.parquet.ParquetWriter``\\ s (bounded
  memory: one open row-group buffer per live partition value in the
  task).  A 100 TB append is exactly one Spark job; the driver sees only
  the per-file manifest rows (path, row count, byte size, partition
  tuple) — kilobytes.
- **Commit is O(metadata)**: one manifest Avro for the new files, one
  manifest list (previous manifests carried forward on append), one new
  ``v<N>.metadata.json`` promoted through the commit store's CONDITIONAL
  PUT (``sources/write_store.py``): the version-filename claim is the
  compare-and-swap, so two racing writers produce one winner and one
  typed retryable ``BuzzCommitConflictError`` — never a clobbered table.
  ``version-hint.text`` is advisory and refreshed after the claim.
  Snapshot history, sequence numbers, and manifest-list partition
  summaries (lower/upper bounds per partition field, little-endian
  single-value serialization per spec Appendix D) are written so the
  catalog's manifest SKIPPING works against our own tables.
- Data-file parquet footers carry ``PARQUET:field_id`` for top-level
  columns, so a later column rename (a metadata-only operation) keeps
  old files readable by id — the evolution path the reader implements.

Boundaries (typed errors, never silent): local-filesystem table URIs
only (data files and manifests are written with plain ``os`` IO; the
COMMIT already routes through the conditional-put store, so an S3
backend slots in as a store implementing ``If-None-Match`` puts),
format v2 only, and nested struct/list/map FIELD ids are not emitted
into parquet footers (top-level ids only — renames of nested fields are
out of scope).  Partition transforms: identity, year/month/day/hour,
truncate[W], bucket[N]; the spec itself can be EVOLVED in place
(:func:`evolve_iceberg_partition_spec`).
Appends verify the incoming schema against the table schema by name and
type and re-order columns to match.

Iceberg spec: https://iceberg.apache.org/spec/ (v2); manifest /
manifest-list field ids follow the spec's Avro schemas.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame

from ..errors import (
    BuzzBadRequestError,
    BuzzCommitAbortedError,
    BuzzExecutionError,
    BuzzNotImplementedError,
    BuzzSchemaError,
)
from .write_store import commit_with_retry, default_store
from .avro import decode_avro_file, encode_avro_records
from .iceberg import _iceberg_type

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_EPOCH_TS_NAIVE = datetime.datetime(1970, 1, 1)

# identity-partitionable source types and their Avro physical schema in the
# manifest's partition record (spec: date/timestamp are int/long ordinals)
_PART_AVRO = {
    "int": "int",
    "long": "long",
    "string": "string",
    "boolean": "boolean",
    "date": "int",
    "timestamp": "long",
    "timestamptz": "long",
}


def _local_table_dir(table_uri: str) -> str:
    """Local filesystem directory for a table URI the WRITE path supports
    (same posture as the Delta writer: reads are scheme-agnostic, writes
    need os-level atomic renames)."""
    if table_uri.startswith("file:"):
        rest = table_uri[len("file:"):]
        # file:///p and file:/p both mean local /p (no authority support)
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    if "://" in table_uri:
        raise BuzzBadRequestError(
            f"iceberg WRITE path supports local file URIs only, got"
            f" {table_uri!r} (reads are scheme-agnostic via LogStore)"
        )
    return table_uri


# --- Spark schema → Iceberg schema (field ids assigned by a counter) ---------


def _to_iceberg_type(dt, next_id) -> object:
    """Spark DataType → Iceberg JSON type; ``next_id`` is a mutable [int]
    counter for nested element/key/value ids."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id[0]
            next_id[0] += 1
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": None,  # filled below so ids are depth-last
                }
            )
        for f, spec in zip(dt.fields, fields):
            spec["type"] = _to_iceberg_type(f.dataType, next_id)
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {
            "type": "list",
            "element-id": eid,
            "element": _to_iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = next_id[0], next_id[0] + 1
        next_id[0] += 2
        return {
            "type": "map",
            "key-id": kid,
            "key": _to_iceberg_type(dt.keyType, next_id),
            "value-id": vid,
            "value": _to_iceberg_type(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    prim = {
        T.BooleanType: "boolean",
        T.IntegerType: "int",
        T.LongType: "long",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.DateType: "date",
        T.TimestampType: "timestamptz",
        T.TimestampNTZType: "timestamp",
        T.StringType: "string",
        T.BinaryType: "binary",
    }.get(type(dt))
    if prim is None:
        raise BuzzSchemaError(
            f"spark type {dt.simpleString()} has no iceberg mapping "
            "(byte/short upcast to int before writing)"
        )
    return prim


def _build_schema(spark_schema) -> dict:
    """Iceberg schema JSON (schema-id 0) for a Spark StructType; returns a
    dict also carrying ``last-column-id``."""
    next_id = [1]
    struct = _to_iceberg_type(spark_schema, next_id)
    return {
        "type": "struct",
        "schema-id": 0,
        "fields": struct["fields"],
        "_last_column_id": next_id[0] - 1,
    }


# --- single-value serialization (spec Appendix D, bounds) ---------------------


def _bound_bytes(value, iceberg_type) -> bytes | None:
    if value is None:
        return None
    if iceberg_type == "int" or iceberg_type == "date":
        return int(value).to_bytes(4, "little", signed=True)
    if iceberg_type in ("long", "timestamp", "timestamptz"):
        return int(value).to_bytes(8, "little", signed=True)
    if iceberg_type == "string":
        return str(value).encode("utf-8")
    if iceberg_type == "boolean":
        return b"\x01" if value else b"\x00"
    if iceberg_type in ("float", "double"):
        import math
        import struct

        if math.isnan(value):
            return None  # NaN poisons a bound; omitting it stays sound
        return struct.pack("<f" if iceberg_type == "float" else "<d", value)
    return None  # no summary for this type — skipping stays sound


def _to_physical(value, iceberg_type):
    """Partition value → the Avro physical representation manifests store
    (date → days since epoch, timestamp → micros)."""
    if value is None:
        return None
    if iceberg_type == "date":
        if isinstance(value, datetime.date):
            return (value - _EPOCH_DATE).days
        return int(value)
    if iceberg_type in ("timestamp", "timestamptz"):
        if isinstance(value, datetime.datetime):
            epoch = _EPOCH_TS if value.tzinfo is not None else _EPOCH_TS_NAIVE
            d = value - epoch
            # integer micros — float total_seconds() loses the microsecond
            # past ~2^32 seconds from the epoch
            return (
                d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds
            )
        return int(value)
    if iceberg_type == "boolean":
        return bool(value)
    if iceberg_type in ("int", "long"):
        return int(value)
    if iceberg_type in ("float", "double"):
        return float(value)
    return str(value)


# --- manifest / manifest-list Avro schemas (spec field ids) -------------------


def _int_keyed_map(name: str, fid: int, kid: int, vid: int, vtype: str) -> dict:
    """Iceberg's int-keyed maps in manifest Avro are arrays of key/value
    records (``logicalType: map``) — plain Avro maps only key by string."""
    return {
        "name": name,
        "field-id": fid,
        "type": [
            "null",
            {
                "type": "array",
                "logicalType": "map",
                "items": {
                    "type": "record",
                    "name": f"k{kid}_v{vid}",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": kid},
                        {"name": "value", "type": vtype, "field-id": vid},
                    ],
                },
            },
        ],
    }


def _entry_schema(part_fields: list[dict]) -> dict:
    """v2 ``manifest_entry`` Avro schema with the table's partition record."""
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "field-id": 4,
            },
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": [
                                    {
                                        "name": f["name"],
                                        "type": [
                                            "null",
                                            _PART_AVRO[
                                                f.get("store_type")
                                                or f["source_type"]
                                            ],
                                        ],
                                        "field-id": f["field_id"],
                                    }
                                    for f in part_fields
                                ],
                            },
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {
                            "name": "file_size_in_bytes",
                            "type": "long",
                            "field-id": 104,
                        },
                        {
                            # key field ids of an EQUALITY delete file
                            # (content=2); null for data / position-delete
                            # entries
                            "name": "equality_ids",
                            "type": ["null", {"type": "array", "items": "int"}],
                            "field-id": 135,
                        },
                        # per-column stats (spec field ids): external
                        # engines plan scans off these
                        _int_keyed_map("value_counts", 109, 119, 120, "long"),
                        _int_keyed_map(
                            "null_value_counts", 110, 121, 122, "long"
                        ),
                        _int_keyed_map("lower_bounds", 125, 126, 127, "bytes"),
                        _int_keyed_map("upper_bounds", 128, 129, 130, "bytes"),
                    ],
                },
            },
        ],
    }


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            "name": "partitions",
            "field-id": 507,
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {
                                "name": "contains_null",
                                "type": "boolean",
                                "field-id": 509,
                            },
                            {
                                "name": "contains_nan",
                                "type": ["null", "boolean"],
                                "field-id": 518,
                            },
                            {
                                "name": "lower_bound",
                                "type": ["null", "bytes"],
                                "field-id": 510,
                            },
                            {
                                "name": "upper_bound",
                                "type": ["null", "bytes"],
                                "field-id": 511,
                            },
                        ],
                    },
                },
            ],
        },
    ],
}


# --- existing-table metadata --------------------------------------------------


def _load_meta(root: str) -> tuple[int, dict] | None:
    """(version N, metadata dict) of the newest ``v<N>.metadata.json``, or
    None when the table does not exist yet.  Write-side: local FS, v<N>
    layout (the layout this writer produces)."""
    meta_dir = os.path.join(root, "metadata")
    if not os.path.isdir(meta_dir):
        return None
    import re

    best = None
    for n in os.listdir(meta_dir):
        m = re.fullmatch(r"v(\d+)\.metadata\.json", n)
        if m:
            v = int(m.group(1))
            if best is None or v > best[0]:
                best = (v, n)
    if best is None:
        names = [
            n for n in os.listdir(meta_dir) if n.endswith(".metadata.json")
        ]
        if names:
            raise BuzzExecutionError(
                "iceberg write path requires the v<N>.metadata.json layout "
                f"(found {sorted(names)[:3]}…) — tables created by external "
                "catalogs are read-only here"
            )
        return None
    with open(os.path.join(meta_dir, best[1])) as fh:
        return best[0], json.load(fh)


def _schema_fields_match(table_schema: dict, df_schema) -> list[str] | None:
    """Column order aligning ``df_schema`` to the table schema, or None on
    mismatch (missing/extra/other-typed columns)."""
    by_name = {f.name: f for f in df_schema.fields}
    if set(by_name) != {f["name"] for f in table_schema["fields"]}:
        return None
    from pyspark.sql import types as T

    order = []
    for f in table_schema["fields"]:
        have = by_name[f["name"]]
        # timestamp vs timestamptz both surface as TimestampType on the
        # READ side; the write side keeps them apart (NTZ ↔ "timestamp")
        if f["type"] == "timestamp":
            ok = isinstance(have.dataType, T.TimestampNTZType)
        elif f["type"] == "timestamptz":
            ok = isinstance(have.dataType, T.TimestampType)
        else:
            ok = _iceberg_type(f["type"]) == have.dataType
        if not ok:
            return None
        order.append(f["name"])
    return order


# column types whose per-file min/max/null stats go into manifests
_STATS_TYPES = set(_PART_AVRO) | {"float", "double"}


def _stats_context(by_name: dict, columns: list[str]):
    """(col_types aligned to ``columns`` for the data-file writer,
    [(column, field id, iceberg type)] for the manifest maps) — None type
    = no stats for that column (nested/binary/decimal)."""
    col_types: list[str | None] = []
    stat_fields: list[tuple[str, int, str]] = []
    for c in columns:
        t = by_name[c]["type"]
        if isinstance(t, str) and t in _STATS_TYPES:
            col_types.append(t)
            stat_fields.append((c, int(by_name[c]["id"]), t))
        else:
            col_types.append(None)
    return col_types, stat_fields


# partition transform syntax accepted in ``partition_by`` (Iceberg's
# SQL-ish forms: bare column = identity, days(ts), bucket(16, id), ...)
_PART_BY_RE = re.compile(
    r"(?:(year|years|month|months|day|days|hour|hours)\s*\(\s*(\w+)\s*\)"
    r"|(truncate|bucket)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)"
    r"|(\w+))\s*",
)

# valid source iceberg types per transform kind (spec §Partition Transforms)
_KIND_SOURCES = {
    "identity": set(_PART_AVRO),
    "year": {"date", "timestamp", "timestamptz"},
    "month": {"date", "timestamp", "timestamptz"},
    "day": {"date", "timestamp", "timestamptz"},
    "hour": {"timestamp", "timestamptz"},
    "truncate": {"int", "long", "string"},
    "bucket": {"int", "long", "string", "date", "timestamp", "timestamptz"},
}


def _parse_partition_entry(entry: str) -> tuple[str, int | None, str]:
    """One ``partition_by`` entry → (kind, param, source column)."""
    m = _PART_BY_RE.fullmatch(entry.strip())
    if not m:
        raise BuzzBadRequestError(
            f"unparseable partition_by entry {entry!r} (forms: col, "
            "year(col), month(col), day(col), hour(col), "
            "truncate(W, col), bucket(N, col))"
        )
    tkind, tsrc, pkind, pparam, psrc, ident = m.groups()
    if ident is not None:
        return "identity", None, ident
    if tkind is not None:
        return tkind.rstrip("s") if tkind != "days" else "day", None, tsrc
    if int(pparam) < 1:
        raise BuzzBadRequestError(
            f"partition_by entry {entry!r}: {pkind} parameter must be >= 1"
        )
    return pkind, int(pparam), psrc


def _canonical_entry(kind: str, param: int | None, source: str) -> str:
    if kind == "identity":
        return source
    if param is None:
        return f"{kind}({source})"
    return f"{kind}({param}, {source})"


def _spec_transform_string(kind: str, param: int | None) -> str:
    """(kind, param) → the metadata transform string."""
    if kind in ("truncate", "bucket"):
        return f"{kind}[{param}]"
    return kind


def _spec_field_name(kind: str, param, src: str, taken: set[str]) -> str:
    """Iceberg's conventional partition-field name for a transform
    (``ts_day``, ``id_bucket``, ...), suffixed if it collides with a data
    column or another spec field."""
    if kind == "identity":
        return src
    base = f"{src}_trunc" if kind == "truncate" else f"{src}_{kind}"
    name = base
    i = 2
    while name in taken:
        name = f"{base}_{i}"
        i += 1
    taken.add(name)
    return name


def _spec_transform_parts(transform: str) -> tuple[str, int | None]:
    """Metadata transform string → (kind, param)."""
    m = re.fullmatch(r"(truncate|bucket)\[(\d+)\]", transform or "")
    if m:
        return m.group(1), int(m.group(2))
    kind = {
        "years": "year", "months": "month", "days": "day", "date": "day",
        "hours": "hour", "date_hour": "hour",
    }.get(transform, transform)
    return kind, None


def _partition_context(schema_json: dict, spec_fields: list[dict]) -> list[dict]:
    """The writer-internal partition field view.  A spec field keeps its
    own NAME forever while the source COLUMN can be renamed (metadata-only
    schema evolution), so the two are carried separately: manifests key
    the partition record by the SPEC field name; the data-side grouping
    and the per-file partition dicts key by ``group_col`` — the CURRENT
    source column for identity fields, a derived ``__p_<name>`` ordinal
    column (computed just before the fanout write, dropped from the data
    files) for transform fields.  ``store_type`` is the iceberg type of
    the stored partition VALUE (ordinals are ints; truncate keeps the
    source type)."""
    field_types = {f["id"]: f["type"] for f in schema_json["fields"]}
    field_names = {f["id"]: f["name"] for f in schema_json["fields"]}
    part_fields = []
    for f in spec_fields:
        st = field_types[f["source-id"]]
        kind, param = _spec_transform_parts(f.get("transform") or "identity")
        if kind not in _KIND_SOURCES:
            raise BuzzBadRequestError(
                f"partition transform {f.get('transform')!r} is not "
                "writable (identity, year/month/day/hour, truncate[W], "
                "bucket[N])"
            )
        if not isinstance(st, str) or st not in _KIND_SOURCES[kind]:
            raise BuzzBadRequestError(
                f"partition field {f['name']!r}: transform {kind!r} does "
                f"not accept source type {st!r} "
                f"(valid: {sorted(_KIND_SOURCES[kind])})"
            )
        source_name = field_names[f["source-id"]]
        part_fields.append(
            {
                "name": f["name"],
                "field_id": f["field-id"],
                "source_id": f["source-id"],
                "source_name": source_name,
                "source_type": st,
                "kind": kind,
                "param": param,
                "store_type": st if kind in ("identity", "truncate") else "int",
                "group_col": (
                    source_name if kind == "identity" else f"__p_{f['name']}"
                ),
            }
        )
    return part_fields


def _transform_column(pf: dict):
    """The Spark Column computing a transform partition field's stored
    value from its source column — JVM expressions for the time/truncate
    transforms (ordinals per spec: years/months/days/hours since epoch;
    the session runs UTC so NTZ↔LTZ casts are wall-clock exact), an
    Arrow-batched pandas UDF for bucket (the spec's murmur3 of the
    single-value serialization has no JVM builtin — Spark's hash() uses a
    different seed and serialization)."""
    from pyspark.sql import functions as F

    c = F.col(pf["source_name"])
    kind, param, st = pf["kind"], pf["param"], pf["source_type"]
    if kind == "year":
        return (F.year(c) - F.lit(1970)).cast("int")
    if kind == "month":
        return (
            (F.year(c) - F.lit(1970)) * F.lit(12) + F.month(c) - F.lit(1)
        ).cast("int")
    if kind == "day":
        return F.datediff(
            c.cast("date"), F.lit(datetime.date(1970, 1, 1))
        ).cast("int")
    if kind == "hour":
        return F.floor(
            F.unix_micros(c.cast("timestamp")) / F.lit(3_600_000_000)
        ).cast("int")
    if kind == "truncate":
        if st == "string":
            return F.when(c.isNull(), None).otherwise(
                F.substring(c, 1, param)
            )
        return (c - F.pmod(c, F.lit(param))).cast("long" if st == "long" else "int")
    if kind == "bucket":
        return _bucket_udf(st, param)(c.cast("string"))
    raise BuzzBadRequestError(f"unwritable transform kind {kind!r}")


def _murmur3_32_8le(vals) -> "object":
    """Vectorized murmur3-32 (seed 0) of each int64's 8-byte little-endian
    serialization — the Iceberg spec's single-value hash for int/long/
    date/timestamp bucket sources.  8 bytes = exactly two 4-byte blocks
    and no tail, so the whole block schedule is expressible as uint32
    numpy ops; pinned equal to the scalar ``_bucket_ordinal`` path (spec
    Appendix B vectors + cross-check tests)."""
    import numpy as np

    v = vals.astype(np.int64).view(np.uint64)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    h = np.zeros(len(v), dtype=np.uint32)
    for k in (
        (v & np.uint64(0xFFFFFFFF)).astype(np.uint32),  # bytes 0-3 (LE)
        (v >> np.uint64(32)).astype(np.uint32),         # bytes 4-7
    ):
        k = k * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h ^= k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(8)  # total length in bytes
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def _bucket_udf(source_type: str, n: int):
    """Arrow-batched bucket[n] ordinal UDF over the source CAST TO STRING
    (see _transform_column): string transport keeps exact digits where a
    pandas float64 series would corrupt nullable longs past 2^53 and
    timestamp microseconds — and shares the reader's spec-pinned literal
    hashing (_bucket_ordinal, Appendix B vectors), so writer ordinals and
    filter-time ordinals CANNOT diverge.

    Numeric sources (int/long/date/timestamp) take the VECTORIZED path:
    the strings parse to an int64 array (exact) and the murmur3 block
    schedule runs as uint32 numpy ops (``_murmur3_32_8le``) — per-row
    Python only remains for string sources (UTF-8 length varies) and as
    the fallback when a batch won't parse vectorized (e.g. timestamps
    outside pandas' ns range)."""
    from pyspark.sql.functions import pandas_udf

    from .iceberg import _bucket_ordinal

    def one(v):
        if v is None or v != v:
            return None
        return _bucket_ordinal(str(v), source_type == "string", source_type, n)

    if source_type == "string":

        @pandas_udf("int")
        def _b(s):
            return s.map(one)

        return _b

    @pandas_udf("int")
    def _bn(s):
        import numpy as np
        import pandas as pd

        mask = s.notna()
        vals = s[mask]
        out = pd.array([None] * len(s), dtype="Int32")
        if len(vals):
            try:
                if source_type in ("int", "long"):
                    iv = vals.astype("int64").to_numpy()
                elif source_type == "date":
                    iv = (
                        pd.to_datetime(vals)
                        .to_numpy()
                        .astype("datetime64[D]")
                        .astype("int64")
                    )
                else:  # timestamp / timestamptz (session runs UTC)
                    iv = (
                        pd.to_datetime(vals)
                        .to_numpy()
                        .astype("datetime64[us]")
                        .astype("int64")
                    )
            except (ValueError, OverflowError, pd.errors.OutOfBoundsDatetime):
                return s.map(one)  # exact scalar fallback
            h = _murmur3_32_8le(iv)
            ords = (
                (h & np.uint32(0x7FFFFFFF)).astype("int64") % n
            ).astype("int32")
            out[np.asarray(mask)] = ords
        return pd.Series(out)

    return _bn


# --- the distributed data-file writer -----------------------------------------


def _write_data_files(
    df: DataFrame,
    data_dir: str,
    part_cols: list[str],
    field_ids: list[int],
    part_types: dict[str, str],
    target_file_rows: int,
    col_types: list[str | None] | None = None,
    no_null_cols: list[str] | None = None,
    required: bool = False,
    name_prefix: str = "",
    drop_cols: list[str] | None = None,
    sort_within: list[str] | None = None,
) -> list[dict]:
    """One ``mapInArrow`` job writing parquet data files; returns the small
    per-file manifest rows.  Partition columns STAY in the data files (the
    reader scans them in-file; Iceberg convention).  Each task keeps one
    open ParquetWriter per distinct partition value it sees — the upstream
    repartition on the partition columns keeps that count small — and rolls
    to a new file every ``target_file_rows`` rows so one hot partition
    can't produce a monster file.

    ``col_types`` (iceberg type string per df column, None = no stats for
    that column) turns on per-file column stats: null counts and
    min/max accumulate per open writer (vectorized ``pc.min_max`` per
    Arrow chunk), shipped back as ``stats`` = {col: [min, max, nulls]}
    with date/timestamp already in physical form — the driver serializes
    them into the manifest's bound maps.

    ``required=True`` marks every written parquet field non-nullable (the
    position-delete file columns, which the spec declares required).

    ``no_null_cols`` are columns the TABLE schema declares required while
    the incoming DataFrame schema is merely nullable (Spark marks nearly
    every read nullable, so a plan-time rejection would refuse almost all
    legitimate appends): each Arrow batch is null-checked executor-side —
    O(1) per batch via the Arrow null count, no extra pass — so a NULL can
    never reach a data file whose footer declares the field required
    (external engines trust that invariant).

    ``drop_cols`` are grouping-only columns (derived transform ordinals):
    tasks group/roll by them but they are EXCLUDED from the written files
    — ``field_ids``/``col_types`` align with the remaining columns.

    ``sort_within`` sorts each task's rows AFTER the partition
    repartition (the repartition would destroy a pre-existing order) —
    per-group subsequences of a sorted task stay sorted, which is how
    partition-scoped position-delete files keep the spec's required
    (file_path, pos) ordering."""
    from pyspark.sql import functions as F

    cols = list(df.columns)
    drop_set = set(drop_cols or ())
    file_cols = [c for c in cols if c not in drop_set]
    stat_cols = {
        i: (c, t)
        for i, (c, t) in enumerate(zip(file_cols, col_types or []))
        if t is not None
    }
    stat_cols_by_name = {c: t for c, t in stat_cols.values()}
    inp = df.repartition(*part_cols) if part_cols else df
    if sort_within:
        inp = inp.sortWithinPartitions(*sort_within)

    def task(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        out_schema = pa.schema(
            [
                pa.field("file_path", pa.string()),
                pa.field("record_count", pa.int64()),
                pa.field("file_size_in_bytes", pa.int64()),
                pa.field("partition_json", pa.string()),
                pa.field("stats_json", pa.string()),
            ]
        )
        writers: dict = {}  # part tuple -> [writer, path, rows, part, stats]
        done: list = []

        def file_schema(batch_schema):
            return pa.schema(
                [
                    f.with_nullable(not required and f.nullable).with_metadata(
                        {b"PARQUET:field_id": str(fid).encode()}
                    )
                    for f, fid in zip(batch_schema, field_ids)
                ]
            )

        def close(key):
            w, path, rows, part, stats = writers.pop(key)
            w.close()
            done.append((path, rows, part, stats))

        def fold_stats(stats, chunk):
            for i, (c, t) in stat_cols.items():
                col = chunk.column(i)
                cur = stats.setdefault(c, [None, None, 0])
                cur[2] += col.null_count
                if col.null_count == len(col):
                    continue
                mm = pc.min_max(col)
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if cur[0] is None or (lo is not None and lo < cur[0]):
                    cur[0] = lo
                if cur[1] is None or (hi is not None and hi > cur[1]):
                    cur[1] = hi

        def sink(key, part_values, tbl):
            if drop_set:
                tbl = tbl.select(file_cols)
            while tbl.num_rows:
                ent = writers.get(key)
                if ent is None:
                    path = os.path.join(
                        data_dir, f"{name_prefix}{uuid.uuid4().hex}.parquet"
                    )
                    ent = writers[key] = [
                        pq.ParquetWriter(path, file_schema(tbl.schema)),
                        path,
                        0,
                        part_values,
                        {},
                    ]
                take = min(target_file_rows - ent[2], tbl.num_rows)
                chunk = tbl.slice(0, take)
                ent[0].write_table(
                    pa.Table.from_arrays(chunk.columns, schema=ent[0].schema)
                )
                ent[2] += take
                fold_stats(ent[4], chunk)
                tbl = tbl.slice(take)
                if ent[2] >= target_file_rows:
                    close(key)

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if tbl.num_rows == 0:
                continue
            for c in no_null_cols or ():
                if tbl.column(c).null_count:
                    raise ValueError(
                        f"required iceberg field {c!r} received NULL values; "
                        "writing them would produce spec-violating data files "
                        "— fill or filter the nulls upstream"
                    )
            if not part_cols:
                sink((), {}, tbl)
                continue
            key_lists = [tbl.column(c).to_pylist() for c in part_cols]
            keys = list(zip(*key_lists))
            uniq = sorted(set(keys), key=repr)
            if len(uniq) == 1:
                key = uniq[0]
                sink(key, dict(zip(part_cols, key)), tbl)
            else:
                # one python pass groups row indices per key (the repartition
                # upstream keeps distinct keys per task small, but a
                # per-key full scan would still be O(keys × rows))
                by_key: dict = {k: [] for k in uniq}
                for i, k in enumerate(keys):
                    by_key[k].append(i)
                for key in uniq:
                    sub = tbl.take(pa.array(by_key[key], pa.int64()))
                    sink(key, dict(zip(part_cols, key)), sub)
        for key in list(writers):
            close(key)

        fp, rc, fs, pj, sj = [], [], [], [], []
        for path, rows, part, stats in done:
            fp.append(path)
            rc.append(rows)
            fs.append(os.path.getsize(path))
            pj.append(
                json.dumps(
                    {
                        c: _to_physical(v, part_types[c])
                        for c, v in part.items()
                    },
                    sort_keys=True,
                )
            )
            sj.append(
                json.dumps(
                    {
                        c: [
                            _to_physical(v[0], stat_cols_by_name[c]),
                            _to_physical(v[1], stat_cols_by_name[c]),
                            v[2],
                        ]
                        for c, v in stats.items()
                    },
                    sort_keys=True,
                )
            )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(fp, pa.string()),
                pa.array(rc, pa.int64()),
                pa.array(fs, pa.int64()),
                pa.array(pj, pa.string()),
                pa.array(sj, pa.string()),
            ],
            schema=out_schema,
        )

    rows = inp.select(*cols).mapInArrow(
        task,
        "file_path string, record_count long, "
        "file_size_in_bytes long, partition_json string, stats_json string",
    ).collect()
    return [
        {
            "file_path": r.file_path,
            "record_count": r.record_count,
            "file_size_in_bytes": r.file_size_in_bytes,
            "partition": json.loads(r.partition_json),
            "stats": json.loads(r.stats_json),
        }
        for r in rows
    ]


def _load_v2_meta(root: str, table_uri: str) -> tuple[int, dict]:
    """(version, metadata) of an EXISTING v2 table, or a typed error —
    the shared prelude of every operation that cannot create the table."""
    existing = _load_meta(root)
    if existing is None:
        raise BuzzBadRequestError(f"not an iceberg table: {table_uri!r}")
    version, meta = existing
    if int(meta.get("format-version", 1)) != 2:
        raise BuzzExecutionError(
            "iceberg write path supports format-version 2 tables only"
        )
    return version, meta


def _norm_snapshot_id(sid) -> int:
    """Normalize the two spellings of 'no current snapshot' (absent/None
    and the writer's -1) to -1, so an EMPTY table is a pinnable basis for
    replace operations: a first append racing an empty-table rewrite must
    trip the superseded-snapshot abort, not slip past a None check."""
    return -1 if sid is None else int(sid)


def _txn_already_committed(meta: dict, txn_app_id: str, txn_version) -> bool:
    """Whether a txn marker ≥ ``txn_version`` for ``txn_app_id`` is already
    committed — in a snapshot summary, or (post-expiry) in the persisted
    ``buzz.txn.<app>`` table property."""
    props = meta.get("properties") or {}
    if int(props.get(f"buzz.txn.{txn_app_id}", -1)) >= int(txn_version):
        return True
    for s in meta.get("snapshots", []):
        summ = s.get("summary") or {}
        if summ.get("txn-app-id") == txn_app_id and int(
            summ.get("txn-version", -1)
        ) >= int(txn_version):
            return True
    return False


def _schema_sig(schema_json: dict) -> list:
    """Identity signature of a schema's fields — what staged data files
    depend on (names drive column resolution, ids drive footer field ids,
    required drives the null checks already enforced at stage time)."""
    return [
        (
            f["name"],
            f["type"] if isinstance(f["type"], str)
            else json.dumps(f["type"], sort_keys=True),
            int(f["id"]),
            bool(f.get("required")),
        )
        for f in schema_json["fields"]
    ]


def _require_expected_properties(
    meta: dict, expect_properties: dict[str, str] | None
) -> None:
    """Raise the typed NON-retryable abort when a table property a commit's
    computation depended on no longer holds its expected value — the CAS
    that makes read-compute-commit cycles over properties (e.g. the
    matview cursor) safe against concurrent committers: two refreshes that
    both read cursor C cannot both apply their delta, because the second
    one's commit (original claim or any retry) sees the advanced cursor
    and aborts instead of double-counting the window."""
    if not expect_properties:
        return
    props = meta.get("properties") or {}
    for k, v in expect_properties.items():
        if props.get(k) != v:
            raise BuzzCommitAbortedError(
                f"table property {k!r} changed concurrently (expected "
                f"{v!r}, found {props.get(k)!r}) — this operation's basis "
                "is stale; re-run against the current table"
            )


def _require_same_write_basis(
    meta: dict, schema_json: dict, spec_id: int, spec_fields: list
) -> None:
    """Raise the typed NON-retryable abort when a concurrent commit changed
    the schema or default partition spec a staged write was built against —
    staged files carry field ids / partition tuples from the old basis and
    cannot be committed under the new one."""
    sid = meta.get("current-schema-id", 0)
    cur_schema = next(
        s for s in meta["schemas"] if s.get("schema-id") == sid
    )
    if _schema_sig(cur_schema) != _schema_sig(schema_json):
        raise BuzzCommitAbortedError(
            "concurrent schema evolution invalidated this write's staged "
            "files — re-run the operation against the current table"
        )
    cur_spec_id = meta.get("default-spec-id", 0)
    cur_fields = next(
        s["fields"]
        for s in meta["partition-specs"]
        if s.get("spec-id") == cur_spec_id
    )
    if cur_spec_id != spec_id or cur_fields != spec_fields:
        raise BuzzCommitAbortedError(
            "the table's default partition spec changed concurrently — "
            "re-run the operation against the current table"
        )


# --- public API -----------------------------------------------------------------


# Spark type (jsonValue) → iceberg primitive accepted for a schema-merge
# ADD COLUMN (the evolve_iceberg _ADDABLE_TYPES vocabulary)
_SPARK_TO_ICE_ADD = {
    "integer": "int", "long": "long", "float": "float", "double": "double",
    "boolean": "boolean", "date": "date", "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz", "string": "string", "binary": "binary",
}

# table iceberg type → Spark simpleStrings a DataFrame column may upcast
# FROM losslessly (value-preserving widenings only)
_MERGE_UPCASTS = {
    "long": {"int", "smallint", "tinyint"},
    "int": {"smallint", "tinyint"},
    "double": {"float"},
}


def _merge_write_schema(
    df: DataFrame, schema_json: dict, table_uri: str, store
) -> tuple[DataFrame, bool]:
    """``schema_mode='merge'`` resolution for :func:`write_iceberg`: NEW
    DataFrame columns become table columns via :func:`evolve_iceberg`
    (optional, null for existing files), MISSING optional table columns
    null-fill, and common columns may upcast losslessly INTO the table's
    wider type.  Everything else — required columns absent, narrowing,
    unaddable types — refuses typed (a silent drop or truncation is how
    pipelines corrupt tables).  Returns (adjusted df, whether an
    evolution commit happened — the caller must re-read the metadata)."""
    from pyspark.sql import functions as F

    tbl = {f["name"]: f for f in schema_json["fields"]}
    add_map: dict[str, str] = {}
    for f in df.schema.fields:
        if f.name in tbl:
            continue
        jv = f.dataType.jsonValue()
        ice = _SPARK_TO_ICE_ADD.get(jv) if isinstance(jv, str) else None
        if ice is None:
            raise BuzzSchemaError(
                f"schema_mode='merge': new column {f.name!r} has type "
                f"{f.dataType.simpleString()} — not addable via schema "
                "merge (add nested/decimal columns explicitly with "
                "evolve_iceberg)"
            )
        add_map[f.name] = ice
    for f in df.schema.fields:
        if f.name not in tbl:
            continue
        tf = tbl[f.name]
        tice = tf["type"]
        from pyspark.sql import types as T

        if tice == "timestamp":
            matches = isinstance(f.dataType, T.TimestampNTZType)
        elif tice == "timestamptz":
            matches = isinstance(f.dataType, T.TimestampType)
        else:
            matches = _iceberg_type(tice) == f.dataType
        if matches:
            continue
        if not isinstance(tice, str):
            # nested table type (struct/list/map) with a differing
            # DataFrame type: no upcast story — typed refusal, not the
            # unhashable-dict crash a _MERGE_UPCASTS lookup would be
            raise BuzzSchemaError(
                f"schema_mode='merge': column {f.name!r} is "
                f"{f.dataType.simpleString()} but the table declares a "
                "nested type — nested columns must match exactly"
            )
        if f.dataType.simpleString() in _MERGE_UPCASTS.get(tice, ()):
            df = df.withColumn(
                f.name, F.col(f.name).cast(_iceberg_type(tice))
            )
            continue
        raise BuzzSchemaError(
            f"schema_mode='merge': column {f.name!r} is "
            f"{f.dataType.simpleString()} but the table declares {tice!r} "
            "— not a lossless upcast; widen the TABLE first with "
            "evolve_iceberg(promote_columns=...) if that is the intent"
        )
    for name, tf in tbl.items():
        if name in df.columns:
            continue
        if tf.get("required"):
            raise BuzzSchemaError(
                f"schema_mode='merge': required table column {name!r} is "
                "absent from the DataFrame — null-filling it would violate "
                "the table contract"
            )
        tice = tf["type"]
        from pyspark.sql import types as T

        if tice == "timestamp":
            dt = T.TimestampNTZType()
        elif tice == "timestamptz":
            dt = T.TimestampType()
        else:
            dt = _iceberg_type(tice)
        df = df.withColumn(name, F.lit(None).cast(dt))
    if add_map:
        evolve_iceberg(table_uri, add_columns=add_map, store=store)
    return df, bool(add_map)


def write_iceberg(
    df: DataFrame,
    table_uri: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    properties: dict[str, str] | None = None,
    target_file_rows: int = 1_000_000,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    max_commit_retries: int = 5,
    branch: str | None = None,
    zorder_by: list[str] | None = None,
    schema_mode: str = "strict",
    set_properties: dict[str, str] | None = None,
    expect_properties: dict[str, str] | None = None,
    _operation: str | None = None,
    _expect_snapshot_id: int | None = None,
    _basis_manifests: list[dict] | None = None,
    _zorder_partitions: int | None = None,
    store=None,
) -> dict | None:
    """Write ``df`` into an Iceberg v2 table at ``table_uri``.

    Creates the table when it does not exist (either mode); ``append``
    adds a snapshot keeping prior data, ``overwrite`` adds a snapshot
    that replaces the table contents (prior snapshots stay time-travel
    readable — Iceberg never deletes history on overwrite).  Identity
    partitioning only; the partition columns remain in the data files.

    Returns a summary dict (snapshot id, files/rows written, metadata
    version), or None for an empty ``df`` on an existing table (nothing
    to commit — same skip semantics as ``write_delta``'s no-op paths).

    ``txn_app_id``/``txn_version`` give streaming sinks exactly-once
    replay protection: the pair is recorded in the snapshot SUMMARY
    (atomic with the commit, Iceberg's analogue of Delta's
    SetTransaction), and a write whose version is ≤ an already-committed
    version for the same app id SKIPS (returns None) — at-least-once
    ``foreachBatch`` delivery becomes exactly-once table content.

    Losing a commit race does NOT re-run the Spark job: data files are
    staged once under fresh UUID names, and up to ``max_commit_retries``
    claim attempts re-read the table, re-validate the basis (schema and
    default spec unchanged — appends commute with other appends), and
    re-claim at the advanced version with metadata-only work.  A basis
    change raises the NON-retryable
    :class:`~..errors.BuzzCommitAbortedError` instead (the staged files
    become orphans for ``vacuum_iceberg``).

    ``branch`` commits to a named BRANCH ref instead of ``main`` (the
    write-audit-publish staging write): the snapshot parents on the
    branch head — a missing branch forks from the current table state at
    first write — and only that ref advances; reads of the table stay
    unchanged until :func:`fast_forward_iceberg` publishes the branch.
    Read the staged state with ``IcebergCatalog(..., ref=branch)``.
    Branch writes require an existing table; writing to a TAG refuses.

    ``zorder_by`` clusters the written rows along the auto-scaled Z-order
    curve over the given numeric/timestamp columns (a single column =
    plain linear clustering): files then carry tight manifest bounds on
    EVERY listed dimension simultaneously, so bound-based skipping
    (``file_key_bounds`` / retraction scans / external engines' metrics
    filtering) prunes on any of them — the layout half of zone-map
    pruning, same as Delta's OPTIMIZE ZORDER BY.  Layout-only: the
    committed content is identical.  Cost: one min/max pass for the
    scaling plus a range shuffle on the key.

    ``set_properties`` applies table-property updates ATOMICALLY with the
    write's metadata promote, and ``expect_properties`` CAS-validates a
    read-compute-commit basis (both exactly as on :func:`merge_iceberg`)
    — how a matview RE-BOOTSTRAP overwrites state and cursor in one
    commit that loses cleanly to a concurrent refresh.

    ``schema_mode='merge'`` (Spark's ``mergeSchema`` / Delta's
    ``autoMerge`` analogue) reconciles a drifted DataFrame schema
    instead of refusing: NEW columns evolve into the table (one
    metadata-only :func:`evolve_iceberg` commit before the append;
    existing files read them as NULL), MISSING optional table columns
    null-fill, and common columns upcast losslessly into the table's
    wider type (int→long, float→double).  Required-column absence,
    narrowing, and unaddable types still refuse typed.  Default
    ``'strict'`` keeps the exact-schema contract.
    """
    if mode not in ("append", "overwrite"):
        raise BuzzBadRequestError(
            f"unsupported iceberg write mode {mode!r} (append/overwrite)"
        )
    if schema_mode not in ("strict", "merge"):
        raise BuzzBadRequestError(
            f"schema_mode must be strict|merge, got {schema_mode!r}"
        )
    if branch == "main":
        branch = None
    if (txn_app_id is None) != (txn_version is None):
        raise BuzzBadRequestError(
            "txn_app_id and txn_version must be given together"
        )
    root = _local_table_dir(table_uri)
    partition_by = list(partition_by or [])
    part_specs = [_parse_partition_entry(e) for e in partition_by]
    for kind, param, src in part_specs:
        if src not in df.columns:
            raise BuzzBadRequestError(
                f"partition column {src!r} not in dataframe columns"
            )
    if set_properties and any(
        k.startswith("buzz.txn.") for k in set_properties
    ):
        raise BuzzBadRequestError(
            "properties under buzz.txn. are exactly-once transaction "
            "markers managed by snapshot expiry — refusing to overwrite"
        )

    existing = _load_meta(root)
    now_ms = int(time.time() * 1000)
    if existing is not None:
        _require_expected_properties(existing[1], expect_properties)
    elif expect_properties:
        raise BuzzCommitAbortedError(
            "expect_properties given but the table does not exist — the "
            "operation's basis is stale; re-run against the current table"
        )

    if existing is not None and txn_app_id is not None:
        # snapshot summaries are the primary record; expired snapshots'
        # markers live on as `buzz.txn.<app>` table properties (written by
        # expire_iceberg_snapshots) so a checkpoint replay after expiry
        # still can't double-commit
        if _txn_already_committed(existing[1], txn_app_id, txn_version):
            return None  # replayed micro-batch: already committed

    def _commute_appends(meta_x: dict) -> list[dict] | None:
        """Concurrent commits COMMUTE with a replace built from
        ``_basis_manifests`` iff they only ADDED pure-data manifests (an
        ingest append): those manifests carry into the replace's manifest
        list untouched — Iceberg's own commit validation for rewrites.
        Anything else (a delete/merge's new delete files could target the
        rewritten rows at stale sequence numbers; a concurrent rewrite
        removed basis manifests) returns None → typed abort."""
        if _basis_manifests is None:
            return None
        fresh = _prev_manifests(meta_x)
        basis_paths = {m["manifest_path"] for m in _basis_manifests}
        extra = [
            m for m in fresh if m["manifest_path"] not in basis_paths
        ]
        if basis_paths <= {m["manifest_path"] for m in fresh} and all(
            int(m.get("content") or 0) == 0 for m in extra
        ):
            return extra
        return None

    commute_carry: list[dict] = []
    if (
        existing is not None
        and _expect_snapshot_id is not None
        and _norm_snapshot_id(existing[1].get("current-snapshot-id"))
        != _norm_snapshot_id(_expect_snapshot_id)
    ):
        carried = _commute_appends(existing[1])
        if carried is None:
            raise BuzzCommitAbortedError(
                "the snapshot this replace was built from was superseded "
                "by a non-append commit — re-run the rewrite against the "
                "current table"
            )
        commute_carry = carried

    if existing is None and branch is not None:
        raise BuzzBadRequestError(
            "branch writes require an existing table (a branch forks from "
            "table state; create the table on main first)"
        )

    if existing is None:
        schema_json = _build_schema(df.schema)
        last_column_id = schema_json.pop("_last_column_id")
        by_name = {f["name"]: f for f in schema_json["fields"]}
        # type validation happens in _partition_context on the common path
        taken = set(by_name)
        spec_fields = [
            {
                "name": _spec_field_name(kind, param, src, taken),
                "transform": _spec_transform_string(kind, param),
                "source-id": by_name[src]["id"],
                "field-id": 1000 + i,
            }
            for i, (kind, param, src) in enumerate(part_specs)
        ]
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": root,
            "last-sequence-number": 0,
            "last-updated-ms": now_ms,
            "last-column-id": last_column_id,
            "schemas": [schema_json],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "last-partition-id": 999 + len(spec_fields),
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0,
            "properties": dict(properties or {}),
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
            "current-snapshot-id": -1,
        }
        version = 0
        spec_id = 0
        prev_manifests: list[dict] = []
    else:
        version, meta = existing
        if int(meta.get("format-version", 1)) != 2:
            raise BuzzExecutionError(
                "iceberg write path supports format-version 2 tables only"
            )
        sid = meta.get("current-schema-id", 0)
        schema_json = next(
            s for s in meta["schemas"] if s.get("schema-id") == sid
        )
        order = _schema_fields_match(schema_json, df.schema)
        if order is None and schema_mode == "merge":
            df, evolved = _merge_write_schema(
                df, schema_json, table_uri, store
            )
            if evolved:
                # the evolution committed a new metadata version — the
                # write must base (and validate) on it
                version, meta = _load_v2_meta(root, table_uri)
                sid = meta.get("current-schema-id", 0)
                schema_json = next(
                    s for s in meta["schemas"] if s.get("schema-id") == sid
                )
            order = _schema_fields_match(schema_json, df.schema)
        if order is None:
            raise BuzzSchemaError(
                "dataframe schema does not match the iceberg table schema "
                f"(table: {[ (f['name'], f['type']) for f in schema_json['fields'] ]})"
            )
        df = df.select(*order)
        spec_id = meta.get("default-spec-id", 0)
        spec_fields = next(
            s["fields"]
            for s in meta["partition-specs"]
            if s.get("spec-id") == spec_id
        )
        field_names = {f["id"]: f["name"] for f in schema_json["fields"]}
        spec_desc = [
            _canonical_entry(
                *_spec_transform_parts(f.get("transform") or "identity"),
                field_names[f["source-id"]],
            )
            for f in spec_fields
        ]
        user_desc = [_canonical_entry(k, p, c) for k, p, c in part_specs]
        if partition_by and user_desc != spec_desc:
            raise BuzzBadRequestError(
                f"partition_by {user_desc} does not match the table's "
                f"partition spec {spec_desc}"
            )
        # previous manifests carried forward on append (from the BRANCH
        # head when staging a write-audit-publish branch); a replace
        # carries only the manifests concurrent APPENDS added past its
        # basis (commute_carry — empty on the pinned-basis fast path)
        prev_manifests = (
            _prev_manifests(meta, _branch_head(meta, branch))
            if mode == "append"
            else list(commute_carry)
        )

    by_name = {f["name"]: f for f in schema_json["fields"]}
    part_fields = _partition_context(schema_json, spec_fields)
    part_cols = [pf["group_col"] for pf in part_fields]
    part_types = {pf["group_col"]: pf["store_type"] for pf in part_fields}
    field_ids = [by_name[c]["id"] for c in df.columns]
    col_types, stat_fields = _stats_context(by_name, df.columns)
    # table-required fields fed from a merely-nullable Spark column get an
    # executor-side null check (empty on create: required there = df
    # non-nullable, which Spark already enforces)
    required_nullable = [
        c for c in df.columns
        if by_name[c].get("required") and df.schema[c].nullable
    ]
    derived = [pf for pf in part_fields if pf["kind"] != "identity"]
    for pf in derived:
        df = df.withColumn(pf["group_col"], _transform_column(pf))

    zorder_by = list(zorder_by or [])
    sort_within: list[str] | None = None
    if zorder_by:
        from pyspark.sql.types import (
            NumericType,
            TimestampNTZType,
            TimestampType,
        )

        from .writer import scaled_zorder_key

        fields_by_name = {f.name: f for f in df.schema.fields}
        for c in zorder_by:
            if c not in by_name:
                raise BuzzBadRequestError(
                    f"zorder_by column {c!r} is not a table column"
                )
            dt = fields_by_name[c].dataType
            if not isinstance(
                dt, (NumericType, TimestampType, TimestampNTZType)
            ):
                raise BuzzBadRequestError(
                    f"zorder_by column {c!r} has type {dt.simpleString()} "
                    "— the Z-order curve needs numeric or timestamp "
                    "dimensions (hash or truncate other types into a "
                    "numeric column first)"
                )
        df = df.withColumn("__zorder", scaled_zorder_key(df, zorder_by))
        if not part_cols:
            # distribute curve segments across tasks; partitioned writes
            # already shuffle on the partition columns and cluster via
            # the within-task sort below
            df = (
                df.repartitionByRange(_zorder_partitions, "__zorder")
                if _zorder_partitions
                else df.repartitionByRange("__zorder")
            )
        sort_within = ["__zorder"]

    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(meta_dir, exist_ok=True)

    new_files = _write_data_files(
        df, data_dir, part_cols, field_ids, part_types, target_file_rows,
        col_types=col_types, no_null_cols=required_nullable,
        drop_cols=[pf["group_col"] for pf in derived]
        + (["__zorder"] if zorder_by else []),
        sort_within=sort_within,
    )
    if not new_files and existing is not None and mode == "append":
        return None  # nothing to commit

    # --- commit loop: the data files above are staged ONCE (fresh UUID
    # names, durable); every attempt below is metadata-only — on a lost
    # claim the loop re-reads table state, re-validates the basis, and
    # re-claims at the next version without re-running the Spark job ---
    added_rows = sum(int(f["record_count"]) for f in new_files)
    operation = _operation or (
        "append" if mode == "append" else "overwrite"
    )
    counts = {
        "added-data-files": str(len(new_files)),
        "added-records": str(added_rows),
    }
    if txn_app_id is not None:
        counts["txn-app-id"] = txn_app_id
        counts["txn-version"] = str(int(txn_version))

    def _attempt(state):
        version_a, meta_a, prev_a, existed_a = state
        if set_properties:
            # atomic with the snapshot promote (merge_iceberg's shape)
            meta_a = dict(meta_a)
            props = dict(meta_a.get("properties") or {})
            props.update({str(k): str(v) for k, v in set_properties.items()})
            meta_a["properties"] = props
        seq = int(meta_a.get("last-sequence-number", 0)) + 1
        snap_id = uuid.uuid4().int >> 65  # positive, fits a long
        manifest_path = _write_manifest(
            meta_dir,
            _manifest_entries(
                new_files, 0, None, part_fields, snap_id, stat_fields
            ),
            part_fields,
            schema_json,
            spec_id,
            "data",
        )
        new_manifest_rec = _manifest_rec(
            manifest_path,
            spec_id,
            0,
            seq,
            snap_id,
            len(new_files),
            added_rows,
            _part_summaries(new_files, part_fields),
        )
        mlist_path = _write_manifest_list(
            meta_dir,
            snap_id,
            seq,
            [new_manifest_rec] + _carry_manifests(prev_a),
        )
        new_version = _finish_commit(
            root,
            version_a,
            meta_a,
            snap_id,
            seq,
            now_ms,
            mlist_path,
            schema_json.get("schema-id", 0),
            operation,
            counts,
            log_prior_metadata=existed_a,
            store=store,
            branch=branch,
        )
        return {
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "metadata_version": new_version,
            "added_files": len(new_files),
            "added_records": added_rows,
            "operation": operation,
        }

    def _refresh():
        version_f, meta_f = _load_v2_meta(root, table_uri)
        _require_same_write_basis(meta_f, schema_json, spec_id, spec_fields)
        _require_expected_properties(meta_f, expect_properties)
        commute_f: list[dict] = []
        if (
            _expect_snapshot_id is not None
            and _norm_snapshot_id(meta_f.get("current-snapshot-id"))
            != _norm_snapshot_id(_expect_snapshot_id)
        ):
            carried = _commute_appends(meta_f)
            if carried is None:
                raise BuzzCommitAbortedError(
                    "the snapshot this replace was built from was "
                    "superseded by a non-append commit — re-run the "
                    "rewrite against the current table"
                )
            commute_f = carried
        if existing is None and properties:
            # this writer lost a CREATE race and is retrying as an append
            # onto the winner's table; the creation-time properties the
            # caller asked for (e.g. a matview's cursor/spec markers) were
            # never applied — committing rows without them would leave the
            # table in a state the caller's contract does not allow
            props_f = meta_f.get("properties") or {}
            dropped = {
                k: v for k, v in properties.items() if props_f.get(k) != v
            }
            if dropped:
                raise BuzzCommitAbortedError(
                    "the table was created concurrently and does not carry "
                    f"the requested creation properties {sorted(dropped)} — "
                    "re-run against the existing table (set properties "
                    "explicitly if intended)"
                )
        if txn_app_id is not None and _txn_already_committed(
            meta_f, txn_app_id, txn_version
        ):
            return None  # a peer committed our txn: idempotent no-op
        prev_f = (
            _prev_manifests(meta_f, _branch_head(meta_f, branch))
            if mode == "append"
            else commute_f
        )
        return (version_f, meta_f, prev_f, True)

    return commit_with_retry(
        _attempt,
        _refresh,
        (version, meta, prev_manifests, existing is not None),
        max_commit_retries,
    )


# string bounds longer than this stay out of the manifest (omitting a
# bound is always sound; a document-sized text column must not bloat
# every manifest entry)
MAX_BOUND_BYTES = 100


def _stats_maps(f: dict, stat_fields) -> dict:
    """The four per-column stat maps of one entry (spec's int-keyed maps
    as key/value record lists), or all-null when stats weren't gathered."""
    out = {
        "value_counts": None,
        "null_value_counts": None,
        "lower_bounds": None,
        "upper_bounds": None,
    }
    stats = f.get("stats")
    if not stat_fields or not stats:
        return out
    vc, nvc, lb, ub = [], [], [], []
    for name, fid, ice_type in stat_fields:
        if name not in stats:
            continue
        lo, hi, nulls = stats[name]
        # value_counts = values INCLUDING nulls (spec) = the row count
        vc.append({"key": fid, "value": int(f["record_count"])})
        nvc.append({"key": fid, "value": int(nulls)})
        for target, v in ((lb, lo), (ub, hi)):
            b = _bound_bytes(v, ice_type)
            if b is not None and len(b) <= MAX_BOUND_BYTES:
                target.append({"key": fid, "value": b})
    out["value_counts"] = vc or None
    out["null_value_counts"] = nvc or None
    out["lower_bounds"] = lb or None
    out["upper_bounds"] = ub or None
    return out


def _manifest_entries(
    files: list[dict],
    content: int,
    eq_ids,
    part_fields: list[dict],
    snap_id: int,
    stat_fields=None,
) -> list[dict]:
    """ADDED manifest entries for writer-produced files; ``content`` 0 =
    data, 1 = position deletes, 2 = equality deletes (with ``eq_ids``).
    Sequence numbers stay null — inherited from the manifest list.
    ``stat_fields`` = [(column, field id, iceberg type), ...] turns the
    gathered per-file stats into the spec's bound/count maps."""
    return [
        {
            "status": 1,  # ADDED
            "snapshot_id": snap_id,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": content,
                "file_path": f["file_path"],
                "file_format": "PARQUET",
                "partition": {
                    pf["name"]: f.get("partition", {}).get(
                        pf.get("group_col") or pf["source_name"]
                    )
                    for pf in part_fields
                },
                "record_count": int(f["record_count"]),
                "file_size_in_bytes": int(f["file_size_in_bytes"]),
                "equality_ids": list(eq_ids) if eq_ids else None,
                **_stats_maps(f, stat_fields),
            },
        }
        for f in sorted(files, key=lambda f: f["file_path"])
    ]


def _write_manifest(
    meta_dir: str,
    entries: list[dict],
    part_fields: list[dict],
    schema_json: dict,
    spec_id: int,
    content_label: str,
) -> str:
    """Encode one manifest Avro with the spec-required header metadata."""
    path = os.path.join(meta_dir, f"{uuid.uuid4().hex}-m0.avro")
    spec_json = json.dumps(
        [
            {
                "name": f["name"],
                "transform": "identity",
                "source-id": f["source_id"],
                "field-id": f["field_id"],
            }
            for f in part_fields
        ]
    )
    with open(path, "wb") as fh:
        fh.write(
            encode_avro_records(
                _entry_schema(part_fields),
                entries,
                metadata={
                    "schema": json.dumps(schema_json),
                    "schema-id": str(schema_json.get("schema-id", 0)),
                    "partition-spec": spec_json,
                    "partition-spec-id": str(spec_id),
                    "format-version": "2",
                    "content": content_label,
                },
            )
        )
    return path


def _part_summaries(files: list[dict], part_fields: list[dict]) -> list | None:
    """Manifest-list field summaries (contains_null + lower/upper bounds)
    over the added files' partition values — what the reader's manifest
    SKIPPING proves disjointness against."""
    if not part_fields:
        return None
    summaries = []
    for pf in part_fields:
        key = pf.get("group_col") or pf["source_name"]
        st = pf.get("store_type") or pf["source_type"]
        vals = [f.get("partition", {}).get(key) for f in files]
        non_null = [v for v in vals if v is not None]
        lo = min(non_null) if non_null else None
        hi = max(non_null) if non_null else None
        summaries.append(
            {
                "contains_null": any(v is None for v in vals),
                "contains_nan": False,
                "lower_bound": _bound_bytes(lo, st),
                "upper_bound": _bound_bytes(hi, st),
            }
        )
    return summaries


def _manifest_rec(
    path: str,
    spec_id: int,
    content: int,
    seq: int,
    snap_id: int,
    n_files: int,
    n_rows: int,
    partitions: list | None,
) -> dict:
    return {
        "manifest_path": path,
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": n_files,
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": n_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": partitions,
    }


def _branch_head(meta: dict, branch: str | None) -> int | None:
    """The snapshot id a write on ``branch`` parents on: the ref's pinned
    snapshot, the table's CURRENT for main/None, or — for a branch that
    does not exist yet — the current snapshot (the branch forks from the
    table state at first write, the write-audit-publish bootstrap).
    Writing to a TAG is a typed refusal (tags are immutable audit points).
    None = empty basis."""
    if branch in (None, "main"):
        cur = meta.get("current-snapshot-id")
        return None if cur in (None, -1) else int(cur)
    r = (meta.get("refs") or {}).get(branch)
    if r is None:
        cur = meta.get("current-snapshot-id")
        return None if cur in (None, -1) else int(cur)
    if r.get("type") == "tag":
        raise BuzzBadRequestError(
            f"ref {branch!r} is a TAG — tags are immutable; write to a "
            "branch instead"
        )
    return int(r["snapshot-id"])


def _prev_manifests(meta: dict, snapshot_id: int | None = ...) -> list[dict]:
    """A snapshot's manifest-list entries — the CURRENT snapshot by
    default, or the given one (a branch head).  Empty when the basis is an
    empty table."""
    cur = (
        meta.get("current-snapshot-id") if snapshot_id is ... else snapshot_id
    )
    snap = next(
        (s for s in meta.get("snapshots", []) if s["snapshot-id"] == cur),
        None,
    )
    if snap is None or "manifest-list" not in snap:
        return []
    with open(snap["manifest-list"], "rb") as fh:
        _, prev = decode_avro_file(fh.read())
    return prev


def _unpartitioned_spec_id(meta: dict) -> int:
    """The spec id of an UNPARTITIONED spec, adding one to
    ``meta['partition-specs']`` (in place) when the table has none — the
    spec's required home for GLOBAL delete files: an equality delete
    written under a partitioned spec applies only to its own partition,
    so a partitioned-spec delete manifest with null tuples would be read
    by external engines as 'delete in the null partition only'."""
    for s in meta.get("partition-specs", []):
        if not s.get("fields"):
            return int(s["spec-id"])
    new_id = (
        max(int(s["spec-id"]) for s in meta["partition-specs"]) + 1
        if meta.get("partition-specs")
        else 0
    )
    meta["partition-specs"] = list(meta.get("partition-specs", [])) + [
        {"spec-id": new_id, "fields": []}
    ]
    return new_id


def _carry_manifests(prev_manifests: list[dict]) -> list[dict]:
    """Prior manifest-list entries re-encoded under this writer's field set
    (lossless for self-written tables; unknown optional fields from other
    writers are dropped — documented interop caveat)."""
    return [
        {
            "manifest_path": m["manifest_path"],
            "manifest_length": int(m.get("manifest_length") or 0),
            "partition_spec_id": int(m.get("partition_spec_id") or 0),
            "content": int(m.get("content") or 0),
            "sequence_number": int(m.get("sequence_number") or 0),
            "min_sequence_number": int(m.get("min_sequence_number") or 0),
            "added_snapshot_id": int(m.get("added_snapshot_id") or 0),
            "added_files_count": int(m.get("added_files_count") or 0),
            "existing_files_count": int(m.get("existing_files_count") or 0),
            "deleted_files_count": int(m.get("deleted_files_count") or 0),
            "added_rows_count": int(m.get("added_rows_count") or 0),
            "existing_rows_count": int(m.get("existing_rows_count") or 0),
            "deleted_rows_count": int(m.get("deleted_rows_count") or 0),
            "partitions": m.get("partitions"),
        }
        for m in prev_manifests
    ]


def _write_manifest_list(
    meta_dir: str, snap_id: int, seq: int, recs: list[dict]
) -> str:
    path = os.path.join(meta_dir, f"snap-{snap_id}-{uuid.uuid4().hex}.avro")
    with open(path, "wb") as fh:
        fh.write(
            encode_avro_records(
                _MANIFEST_FILE_SCHEMA,
                recs,
                metadata={
                    "snapshot-id": str(snap_id),
                    "sequence-number": str(seq),
                    "format-version": "2",
                },
            )
        )
    return path


def _finish_commit(
    root: str,
    version: int,
    meta: dict,
    snap_id: int,
    seq: int,
    now_ms: int,
    mlist_path: str,
    schema_id: int,
    operation: str,
    summary_counts: dict[str, str],
    log_prior_metadata: bool,
    store=None,
    branch: str | None = None,
) -> int:
    """Append the snapshot to the table metadata and atomically promote
    ``v<N+1>.metadata.json`` + ``version-hint.text``.  Returns N+1.

    ``branch`` (non-main) parents the snapshot on THAT ref's head and
    advances only that ref — ``current-snapshot-id``, ``main``, and the
    ``snapshot-log`` (the spec's record of changes to the CURRENT state)
    stay untouched: the write-audit-publish staging write.  Sequence
    numbers are table-global either way.

    The version promote is a conditional put (compare-and-swap on the
    version filename) through the commit store: a concurrent writer that
    also read version N loses the N+1 claim with a typed retryable
    :class:`~..errors.BuzzCommitConflictError` instead of silently
    overwriting the winner's metadata."""
    meta_dir = os.path.join(root, "metadata")
    parent = _branch_head(meta, branch)
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": mlist_path,
        "schema-id": schema_id,
        "summary": {"operation": operation, **summary_counts},
    }
    if parent is not None:
        snapshot["parent-snapshot-id"] = parent
    meta = dict(meta)
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["snapshots"] = list(meta.get("snapshots", [])) + [snapshot]
    refs = dict(meta.get("refs") or {})
    if branch in (None, "main"):
        meta["current-snapshot-id"] = snap_id
        refs["main"] = {"snapshot-id": snap_id, "type": "branch"}
        meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
            {"timestamp-ms": now_ms, "snapshot-id": snap_id}
        ]
    else:
        refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
    meta["refs"] = refs
    if log_prior_metadata:
        meta["metadata-log"] = list(meta.get("metadata-log", [])) + [
            {
                "timestamp-ms": now_ms,
                "metadata-file": os.path.join(
                    meta_dir, f"v{version}.metadata.json"
                ),
            }
        ]
        keep = _metadata_versions_max(meta)
        if keep is not None:
            meta["metadata-log"] = meta["metadata-log"][-keep:]
    return _promote_metadata(meta_dir, version + 1, meta, store)


def _metadata_versions_max(meta: dict) -> int | None:
    """Previous-metadata retention bound, or None when cleanup is off —
    Iceberg's ``write.metadata.delete-after-commit.enabled`` +
    ``write.metadata.previous-versions-max`` (default 100) properties."""
    props = meta.get("properties") or {}
    if str(
        props.get("write.metadata.delete-after-commit.enabled", "")
    ).lower() != "true":
        return None
    try:
        return max(1, int(props.get("write.metadata.previous-versions-max", 100)))
    except (TypeError, ValueError):
        return 100


def _promote_metadata(meta_dir: str, new_version: int, meta: dict, store=None) -> int:
    """Claim ``v<new_version>.metadata.json`` via conditional put, then
    refresh the advisory ``version-hint.text``.  Raises
    :class:`~..errors.BuzzCommitConflictError` when a concurrent writer
    already promoted this version (retryable — re-read and re-commit).

    When ``write.metadata.delete-after-commit.enabled`` is set, superseded
    ``v<N>.metadata.json`` beyond the last
    ``write.metadata.previous-versions-max`` are deleted AFTER the claim —
    long-lived tables (a streaming sink commits one metadata version per
    micro-batch) otherwise accumulate metadata JSONs forever.  The new
    version and ``version-hint.text`` always survive; the reader needs
    only the current metadata (snapshot history lives inside it)."""
    if store is None:
        store = default_store()
    store.put_if_absent(
        os.path.join(meta_dir, f"v{new_version}.metadata.json"),
        json.dumps(meta).encode(),
    )
    store.put_atomic(
        os.path.join(meta_dir, "version-hint.text"), str(new_version).encode()
    )
    keep = _metadata_versions_max(meta)
    if keep is not None:
        cutoff = new_version - keep
        for n in os.listdir(meta_dir):
            m = re.fullmatch(r"v(\d+)\.metadata\.json", n)
            if m and int(m.group(1)) < cutoff:
                try:
                    os.unlink(os.path.join(meta_dir, n))
                except OSError:
                    pass
    return new_version


# Iceberg reserves these field ids for position-delete file columns
_POS_DELETE_PATH_ID = 2147483546
_POS_DELETE_POS_ID = 2147483545


def delete_iceberg(
    spark,
    table_uri: str,
    predicate: str,
    max_delete_rows: int = 5_000_000,
    max_commit_retries: int = 5,
    branch: str | None = None,
    store=None,
) -> dict | None:
    """DELETE FROM the Iceberg table WHERE ``predicate`` — merge-on-read:
    no data file is rewritten; matched (file, position) pairs land in ONE
    position-delete parquet file committed under a delete manifest, which
    :class:`IcebergCatalog` (and any v2 reader) applies as an anti-join.

    Returns a commit summary, or None when no LIVE row matches (rows
    already position-deleted never re-match — a predicate covering only
    them is a logical no-op, same semantics as ``delete_delta``).

    The delete files are EXECUTOR-written through the same fanout writer
    as data files: matched coordinates are hash-repartitioned by target
    file path, sorted within each partition by (file_path, pos) — the
    spec's required ordering, per file — and streamed to parquet by the
    tasks; the driver sees only the per-file manifest rows.  Driver
    memory is O(files), not O(matched rows).  ``max_delete_rows`` is a
    POLICY knob, not a memory guard: past it, compaction (rewrite) is
    the better trade than accumulating giant MOR delete files, and the
    typed error says so.

    Tables with existing EQUALITY deletes (CDC tables built by
    ``merge_iceberg``) are supported: the predicate evaluates against the
    MOR-resolved scan, so matched rows are live by construction and the
    emitted position deletes compose with the equality deletes' sequence
    scoping.  Boundary: ORC data files (no ``_metadata.row_index``).
    Evolved (renamed-column) tables work, including with existing
    equality deletes — the MOR scan binds delete-file columns by field
    id (``iceberg.py::_read_eq_key_files``).

    On a PARTITIONED table (all data manifests under the live spec) the
    delete manifest is PARTITION-SCOPED: delete files are written one per
    partition — each referencing only same-partition data files — and the
    manifest commits under the live spec with real partition tuples and
    summaries, so partition-filtered reads prune delete files exactly
    like data files (a day-filtered scan of a CDC table never opens other
    days' delete files).  Unpartitioned tables, evolved-spec snapshots,
    and unwritable transforms fall back to the spec's GLOBAL form (the
    UNPARTITIONED spec; position deletes apply by file path).

    ``branch`` stages the delete on a named branch: the predicate
    evaluates against the BRANCH state and only that ref advances —
    ``main`` is untouched until :func:`fast_forward_iceberg`."""
    return _predicate_mutation_iceberg(
        spark, table_uri, predicate, None, max_delete_rows,
        max_commit_retries, branch, store,
    )


def update_iceberg(
    spark,
    table_uri: str,
    set_exprs: dict[str, str],
    predicate: str | None = None,
    max_delete_rows: int = 5_000_000,
    max_commit_retries: int = 5,
    branch: str | None = None,
    store=None,
) -> dict | None:
    """UPDATE the Iceberg table SET ``set_exprs`` WHERE ``predicate`` —
    merge-on-read, the third DML verb (round-12; Spark's own Iceberg
    UPDATE ships the same MOR strategy): ONE commit carries a
    position-delete manifest over the matched rows (no key columns
    needed — rows are killed by coordinate) plus a data manifest with
    their transformed replacements.  No data file is rewritten, so an
    update of a thousand rows in a petabyte table touches only those
    rows — the same O(matched) cost shape as :func:`delete_iceberg`,
    whose executor-written, partition-scoped delete-file machinery this
    shares (:func:`_predicate_mutation_iceberg`).

    ``set_exprs`` maps column → Spark SQL expression over the row's BARE
    column names (``{"v": "v + 1", "tag": "upper(tag)"}``); unlisted
    columns keep their values; unknown columns refuse typed.  Partition
    columns may be updated — replacement rows land in their new
    partitions (derived transforms recomputed).  ``predicate=None``
    updates every live row.  NULL/false predicate rows keep their values
    (SQL UPDATE semantics).  Returns a commit summary, or None when no
    live row matches."""
    if not isinstance(set_exprs, dict) or not set_exprs:
        raise BuzzBadRequestError(
            "set_exprs must be a non-empty {column: sql_expr} dict"
        )
    return _predicate_mutation_iceberg(
        spark, table_uri,
        predicate if predicate is not None else "true",
        {str(k): str(v) for k, v in set_exprs.items()},
        max_delete_rows, max_commit_retries, branch, store,
    )


def _predicate_mutation_iceberg(
    spark,
    table_uri: str,
    predicate: str,
    set_exprs: dict[str, str] | None,
    max_delete_rows: int,
    max_commit_retries: int,
    branch: str | None,
    store,
) -> dict | None:
    """Shared body of :func:`delete_iceberg` (``set_exprs=None``) and
    :func:`update_iceberg`: MOR position deletes over the predicate's
    matched rows, plus — for update — a data manifest with the
    transformed replacement rows in the same snapshot (position deletes
    reference the OLD files by path, so they can never hit the
    replacements)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from .iceberg import IcebergCatalog

    if branch == "main":
        branch = None
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    # pinned at the BRANCH head for WAP staging deletes (the predicate
    # evaluates against the branch's state; main is untouched)
    cat = IcebergCatalog("delete", root, snapshot_id=_branch_head(meta, branch))
    plan = cat._plan(spark, None)
    files = plan["files"]
    if not files:
        return None
    if plan["orc_keys"]:
        raise BuzzExecutionError(
            "iceberg position deletes over ORC data files are not "
            "supported (no _metadata.row_index for ORC scans)"
        )
    eq_prior = [d for d in plan["deletes"] if d["kind"] == "eq"]
    pos_prior = [d for d in plan["deletes"] if d["kind"] == "pos"]
    if cat._evolved:
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    # The predicate evaluates against the MOR-RESOLVED scan (position AND
    # equality deletes applied with the reader's sequence scoping), so a
    # CDC table (merge_iceberg history) takes predicate DELETEs directly:
    # every matched row is LIVE by construction, and the emitted position
    # deletes — committed at a sequence number above every existing one —
    # compose soundly with the equality deletes already in the table.
    scan = cat._mor_scan(
        spark, files, [], pos_prior, eq_prior, plan, keep_coords=True
    )

    # Partition-SCOPED delete manifest: on a partitioned table whose data
    # manifests all sit under the live spec, the delete files are written
    # one-per-partition (each references only same-partition data files)
    # and the manifest commits under the LIVE spec with real partition
    # tuples + summaries — so the reader's manifest skipping prunes
    # delete files exactly like data files, and spec-compliant external
    # readers (which scope position deletes by partition) apply them
    # correctly.  Fallback: the global unpartitioned-spec form.
    sid = meta.get("current-schema-id", 0)
    schema_json = next(
        s for s in meta["schemas"] if s.get("schema-id") == sid
    )
    if set_exprs is not None:
        unknown = sorted(
            set(set_exprs) - {f["name"] for f in schema_json["fields"]}
        )
        if unknown:
            raise BuzzBadRequestError(
                f"update_iceberg sets unknown columns {unknown}"
            )
    live_spec_id = meta.get("default-spec-id", 0)
    live_spec_fields = next(
        s["fields"]
        for s in meta["partition-specs"]
        if s.get("spec-id") == live_spec_id
    )
    part_fields: list[dict] = []
    if live_spec_fields and all(
        m.get("partition_spec_id") in (None, live_spec_id)
        for m in (cat._manifests or [])
        if int(m.get("content") or 0) == 0
    ):
        try:
            part_fields = _partition_context(schema_json, live_spec_fields)
        except BuzzBadRequestError:
            part_fields = []  # unwritable transform: global form stays sound
    scoped = bool(part_fields)

    # the scan's coordinates carry the manifest-RECORDED file path (delete
    # files must reference paths exactly as the manifests spell them);
    # repartition by target file so each task's sorted run covers whole
    # files, and sortWithinPartitions for the spec's required (file_path,
    # pos) ordering — per written file, which is the spec's unit ("rows
    # must be sorted by file_path then pos")
    matched_full = scan.where(predicate)
    if set_exprs is not None:
        # both the coordinates and the replacement rows derive from this
        # frame — persisted so the two jobs see identical matches
        matched_full = matched_full.persist()
    matched = matched_full.select(
        F.col("__path").alias("file_path"),
        F.col("__ridx").cast("long").alias("pos"),
    )

    data_dir = os.path.join(root, "data")
    os.makedirs(data_dir, exist_ok=True)
    if scoped:
        # recorded path → canonical JSON of its raw partition tuple; the
        # fanout writer groups by it (one delete file per partition) and
        # the staged dicts map back to real partition records below
        group_json = {
            rec: json.dumps(
                {
                    pf["name"]: (plan["part_raw"].get(rec) or {}).get(
                        pf["name"]
                    )
                    for pf in part_fields
                },
                sort_keys=True,
            )
            for rec, _ in plan["pairs"]
        }
        gmap = spark.createDataFrame(
            sorted(group_json.items()), "file_path string, __pgroup string"
        )
        matched = matched.join(broadcast(gmap), on="file_path")
        del_files = _write_data_files(
            matched,
            data_dir,
            ["__pgroup"],
            [_POS_DELETE_PATH_ID, _POS_DELETE_POS_ID],
            {"__pgroup": "string"},
            target_file_rows=max(1, min(max_delete_rows, 5_000_000)),
            required=True,
            name_prefix="delete-",
            drop_cols=["__pgroup"],
            sort_within=["file_path", "pos"],
        )
        for f in del_files:
            rec = json.loads(f["partition"]["__pgroup"])
            f["partition"] = {
                pf["group_col"]: rec.get(pf["name"]) for pf in part_fields
            }
    else:
        matched = matched.repartition("file_path").sortWithinPartitions(
            "file_path", "pos"
        )
        del_files = _write_data_files(
            matched,
            data_dir,
            [],
            [_POS_DELETE_PATH_ID, _POS_DELETE_POS_ID],
            {},
            target_file_rows=max(1, min(max_delete_rows, 5_000_000)),
            required=True,
            name_prefix="delete-",
        )
    if not del_files:
        if set_exprs is not None:
            matched_full.unpersist()
        return None
    n_deleted = sum(f["record_count"] for f in del_files)
    if n_deleted > max_delete_rows:
        if set_exprs is not None:
            matched_full.unpersist()
        for f in del_files:
            try:
                os.unlink(f["file_path"])
            except OSError:
                pass
        raise BuzzExecutionError(
            f"predicate matches {n_deleted} rows, more than max_delete_rows="
            f"{max_delete_rows}; rewrite the table (overwrite) instead of "
            "accumulating merge-on-read delete files this large"
        )

    # --- update: the transformed replacements of the matched rows, written
    # under the LIVE spec in the same snapshot (position deletes reference
    # the OLD files by path, so they can never hit these)
    new_files: list[dict] = []
    added_rows = 0
    data_part_fields: list[dict] = []
    stat_fields = None
    if set_exprs is not None:
        try:
            names = [f["name"] for f in schema_json["fields"]]
            by_name = {f["name"]: f for f in schema_json["fields"]}
            upd = matched_full.select(*names)
            for c, e in set_exprs.items():
                upd = upd.withColumn(
                    c, F.expr(e).cast(upd.schema[c].dataType)
                )
            data_part_fields = _partition_context(
                schema_json, live_spec_fields
            )
            derived = [
                pf for pf in data_part_fields if pf["kind"] != "identity"
            ]
            for pf in derived:
                upd = upd.withColumn(pf["group_col"], _transform_column(pf))
            field_ids = [int(by_name[c]["id"]) for c in names]
            col_types, stat_fields = _stats_context(by_name, names)
            required_nullable = [
                c for c in names if by_name[c].get("required")
            ]
            new_files = _write_data_files(
                upd,
                data_dir,
                [pf["group_col"] for pf in data_part_fields],
                field_ids,
                {
                    pf["group_col"]: pf["store_type"]
                    for pf in data_part_fields
                },
                target_file_rows=1_000_000,
                col_types=col_types,
                no_null_cols=required_nullable,
                drop_cols=[pf["group_col"] for pf in derived],
            )
            added_rows = sum(int(f["record_count"]) for f in new_files)
        except BaseException:
            for f in del_files:
                try:
                    os.unlink(f["file_path"])
                except OSError:
                    pass
            raise
        finally:
            matched_full.unpersist()
        if added_rows != n_deleted:
            for f in del_files + new_files:
                try:
                    os.unlink(f["file_path"])
                except OSError:
                    pass
            raise BuzzExecutionError(
                f"update wrote {added_rows} replacement rows for "
                f"{n_deleted} matched rows — non-deterministic predicate "
                "or source; nothing committed"
            )

    # --- delete manifest + commit (under the table's UNPARTITIONED spec:
    # position deletes here are path-scoped/global, and a null tuple under
    # a partitioned spec would read as "the null partition" externally).
    # The staged delete files are reused across claim attempts; a conflict
    # re-validates that every file we matched is STILL LIVE (a concurrent
    # compaction/overwrite of a matched file would orphan our by-position
    # references and silently resurrect rows — typed abort instead).
    # Concurrent APPENDS retry fine (the delete covers its scan snapshot),
    # and so do concurrent position/equality deletes: both are additive
    # kills readers apply as a union.
    now_ms = int(time.time() * 1000)
    meta_dir = os.path.join(root, "metadata")

    def _attempt(state):
        version_a, meta_a = state
        seq = int(meta_a.get("last-sequence-number", 0)) + 1
        snap_id = uuid.uuid4().int >> 65
        sid_a = meta_a.get("current-schema-id", 0)
        schema_json_a = next(
            s for s in meta_a["schemas"] if s.get("schema-id") == sid_a
        )
        meta_a = dict(meta_a)
        if scoped:
            # live-spec manifest with real partition tuples + summaries:
            # partition-filtered reads prune it like a data manifest
            manifest_path = _write_manifest(
                meta_dir,
                _manifest_entries(del_files, 1, None, part_fields, snap_id),
                part_fields,
                schema_json_a,
                live_spec_id,
                "deletes",
            )
            delete_rec = _manifest_rec(
                manifest_path, live_spec_id, 1, seq, snap_id,
                len(del_files), n_deleted,
                _part_summaries(del_files, part_fields),
            )
        else:
            unpart_id = _unpartitioned_spec_id(meta_a)
            manifest_path = _write_manifest(
                meta_dir,
                _manifest_entries(del_files, 1, None, [], snap_id),
                [],
                schema_json_a,
                unpart_id,
                "deletes",
            )
            delete_rec = _manifest_rec(
                manifest_path, unpart_id, 1, seq, snap_id, len(del_files),
                n_deleted, None,
            )
        recs = [delete_rec]
        if new_files:
            data_manifest = _write_manifest(
                meta_dir,
                _manifest_entries(
                    new_files, 0, None, data_part_fields, snap_id,
                    stat_fields,
                ),
                data_part_fields,
                schema_json_a,
                live_spec_id,
                "data",
            )
            recs.insert(0, _manifest_rec(
                data_manifest, live_spec_id, 0, seq, snap_id,
                len(new_files), added_rows,
                _part_summaries(new_files, data_part_fields),
            ))
        mlist_path = _write_manifest_list(
            meta_dir, snap_id, seq,
            recs
            + _carry_manifests(
                _prev_manifests(meta_a, _branch_head(meta_a, branch))
            ),
        )
        counts = {
            "added-delete-files": str(len(del_files)),
            "added-position-deletes": str(n_deleted),
        }
        if new_files:
            counts["added-data-files"] = str(len(new_files))
            counts["added-records"] = str(added_rows)
        op = "delete" if set_exprs is None else "overwrite"
        new_version = _finish_commit(
            root,
            version_a,
            meta_a,
            snap_id,
            seq,
            now_ms,
            mlist_path,
            sid_a,
            op,
            counts,
            log_prior_metadata=True,
            store=store,
            branch=branch,
        )
        out = {
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "metadata_version": new_version,
            "operation": op,
        }
        if set_exprs is None:
            out["deleted_rows"] = n_deleted
        else:
            out["updated_rows"] = n_deleted
        return out

    def _refresh():
        import pyarrow.parquet as pq

        version_f, meta_f = _load_v2_meta(root, table_uri)
        fresh_plan = IcebergCatalog(
            "delete", root, snapshot_id=_branch_head(meta_f, branch)
        )._plan(spark, None)
        # Concurrent EQUALITY deletes (another merge landing first) do NOT
        # invalidate the retry: they kill rows by key, our staged position
        # deletes kill rows by coordinate, and readers apply the UNION —
        # a row hit by both is removed once either way.  (The pre-existing
        # eq deletes were already MOR-applied to the predicate scan.)
        # matched recorded paths (small: distinct per staged delete file)
        matched_paths = set()
        for f in del_files:
            matched_paths.update(
                pq.read_table(f["file_path"], columns=["file_path"])
                .column("file_path")
                .unique()
                .to_pylist()
            )
        fresh_paths = {rec for rec, _ in fresh_plan["pairs"]}
        gone = matched_paths - fresh_paths
        if gone:
            raise BuzzCommitAbortedError(
                f"{len(gone)} matched data file(s) were rewritten or "
                "removed concurrently — these position deletes no longer "
                "apply; re-run delete_iceberg against the current table"
            )
        if scoped or set_exprs is not None:
            # staged delete files carry the live spec's partition tuples
            # (and staged update data files its field ids/transforms) — a
            # concurrent spec/schema change invalidates them
            _require_same_write_basis(
                meta_f, schema_json, live_spec_id, live_spec_fields
            )
        return (version_f, meta_f)

    return commit_with_retry(
        _attempt, _refresh, (version, meta), max_commit_retries
    )


def rewrite_iceberg(
    spark,
    table_uri: str,
    target_file_rows: int = 1_000_000,
    partition_filter: str | None = None,
    max_commit_retries: int = 5,
    zorder_by: list[str] | None = None,
    store=None,
) -> dict | None:
    """Compaction (Iceberg's rewrite-data-files maintenance action): the
    current snapshot — position deletes applied — is materialized into
    fresh data files and committed as a ``replace`` snapshot whose
    manifest list carries ONLY the new manifest.  Accumulated delete
    files stop being carried forward (the merge-on-read cost they impose
    on every scan drops to zero), small files coalesce toward
    ``target_file_rows``, and prior snapshots stay time-travel readable
    with their deletes intact.  Returns None for a non-existent table
    path (nothing to compact); one Spark job end-to-end, same as the
    append path.

    ``partition_filter`` switches to PARTITION-SCOPED compaction (see
    :func:`_rewrite_partial`): only the selected partitions' files are
    rewritten and the rest of the snapshot is carried through manifest
    surgery — the shape that matters at 100 TB, where compacting one
    CDC-dirty day must not rewrite the table.

    A compaction that loses its commit race COMMUTES with concurrent
    PURE APPENDS: their new data manifests carry into the replace's
    manifest list (compaction must not serialize against ingest —
    Iceberg's rewrite validation semantics).  Any other concurrent
    change — a delete/merge (whose delete files would target the
    rewritten rows at stale sequence numbers) or another rewrite —
    raises the typed non-retryable
    :class:`~..errors.BuzzCommitAbortedError` instead.

    ``zorder_by`` re-CLUSTERS while compacting (Delta's OPTIMIZE ZORDER
    BY, Iceberg's sort/z-order rewrite strategy): rewritten rows are
    range-shuffled along the auto-scaled Z-order curve over the given
    numeric/timestamp columns, so post-compaction manifest bounds are
    tight on every listed dimension and bound-based skipping
    (``IcebergCatalog.file_key_bounds``, merge key-overlap candidate
    selection, external engines' metrics filtering) prunes on any of
    them.  Content-identical; full-table rewrites only (combine with
    ``partition_filter`` is not yet supported — compact the partition
    first, then re-cluster it)."""
    from .iceberg import IcebergCatalog

    if partition_filter is not None:
        if zorder_by:
            raise BuzzBadRequestError(
                "zorder_by with partition_filter is not supported yet — "
                "run the partition-scoped compaction and the re-cluster "
                "as separate full rewrites"
            )
        return _rewrite_partial(
            spark, table_uri, partition_filter, target_file_rows,
            max_commit_retries, store,
        )

    root = _local_table_dir(table_uri)
    # resolve + pin the snapshot FIRST, then scan exactly it: the commit
    # validates against this id, closing the scan→commit TOCTOU window
    existing = _load_meta(root)
    if existing is None:
        return None  # not a table (no metadata dir / no metadata.json)
    _, meta = existing
    # -1/None on empty — normalized to the PINNED -1 sentinel, so a first
    # append racing this empty-table replace still trips the superseded-
    # snapshot abort instead of being silently wiped (overwrite retries
    # carry no prior manifests)
    basis_snapshot = _norm_snapshot_id(meta.get("current-snapshot-id"))
    cat = IcebergCatalog(
        "rewrite",
        root,
        snapshot_id=None if basis_snapshot == -1 else basis_snapshot,
    )
    df = cat.to_dataframe(spark)
    # the reader surfaces iceberg `timestamp` (NTZ) as Spark's LTZ type;
    # the write side keeps NTZ↔timestamp apart — cast back (session runs
    # UTC, so the cast is wall-clock exact) or the self-rewrite would fail
    # its own schema check
    sid = meta.get("current-schema-id", 0)
    schema_json = next(s for s in meta["schemas"] if s.get("schema-id") == sid)
    from pyspark.sql import functions as F

    for f in schema_json["fields"]:
        if f["type"] == "timestamp":
            df = df.withColumn(f["name"], F.col(f["name"]).cast("timestamp_ntz"))
    zorder_partitions = None
    if zorder_by:
        # size the range shuffle from the manifests' row counts (an upper
        # bound — MOR deletes shrink it — so file sizes land at-or-under
        # target), never a count() job over the table
        live_rows = sum(
            int(m.get("added_rows_count") or 0)
            + int(m.get("existing_rows_count") or 0)
            for m in (cat._manifests or [])
            if int(m.get("content") or 0) == 0
        )
        zorder_partitions = max(1, -(-live_rows // target_file_rows))
    return write_iceberg(
        df,
        table_uri,
        mode="overwrite",
        target_file_rows=target_file_rows,
        max_commit_retries=max_commit_retries,
        zorder_by=zorder_by,
        _operation="replace",
        _expect_snapshot_id=basis_snapshot,
        # pure-append commits past the basis COMMUTE: their data manifests
        # carry into the replace instead of aborting it (compaction must
        # not serialize against ingest)
        _basis_manifests=list(cat._manifests or []),
        _zorder_partitions=zorder_partitions,
        store=store,
    )


_CARRY_DF_KEYS = (
    "content", "file_path", "file_format", "partition", "record_count",
    "file_size_in_bytes", "equality_ids", "value_counts",
    "null_value_counts", "lower_bounds", "upper_bounds",
)


def _rewrite_partial(
    spark,
    table_uri: str,
    partition_filter: str,
    target_file_rows: int,
    max_commit_retries: int,
    store,
) -> dict | None:
    """Partition-scoped compaction: the files ``partition_filter`` selects
    are materialized MOR-resolved (all position + equality deletes
    applied) into fresh files, and the commit replaces ONLY them —
    untouched manifests carry forward verbatim; manifests that referenced
    a compacted file are rewritten with that entry dropped (survivors
    become EXISTING entries keeping their original snapshot/sequence
    numbers, so equality-delete scoping and time ordering stay exact);
    position-delete files whose every referenced path was compacted drop
    from the snapshot entirely.  Equality-delete files always carry
    forward — they may still scope to untouched older files, and they
    cannot re-kill the rewritten rows (the new files commit at a HIGHER
    sequence number than every existing delete).

    The 100 TB shape: compacting one CDC-dirty day reads and writes that
    day, not the table.  Cost is O(selected data + snapshot metadata).

    Boundaries (typed): schema-evolved tables (carried entries would be
    re-encoded under renamed columns), snapshots holding data manifests
    under non-live partition specs, and ORC files in the selected set.
    Concurrent PURE APPENDS commute (their manifests carry into the
    replace — maintenance must not serialize against ingest); any other
    concurrent commit aborts the claim typed."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from .iceberg import IcebergCatalog, _spark_uri

    root = _local_table_dir(table_uri)
    existing = _load_meta(root)
    if existing is None:
        return None
    version, meta = _load_v2_meta(root, table_uri)
    basis_snapshot = meta.get("current-snapshot-id")
    if basis_snapshot in (None, -1):
        return None  # empty table: nothing to compact
    cat = IcebergCatalog("rewrite", root, snapshot_id=basis_snapshot)
    if cat._evolved:
        raise BuzzExecutionError(
            "partition-scoped rewrite of a schema-evolved (renamed-column) "
            "table is not supported — carried manifest entries would "
            "re-encode under the renamed schema; run a full rewrite"
        )
    sid = meta.get("current-schema-id", 0)
    schema_json = next(s for s in meta["schemas"] if s.get("schema-id") == sid)
    spec_id = meta.get("default-spec-id", 0)
    spec_fields = next(
        s["fields"]
        for s in meta["partition-specs"]
        if s.get("spec-id") == spec_id
    )
    if not all(
        m.get("partition_spec_id") in (None, spec_id)
        for m in (cat._manifests or [])
        if int(m.get("content") or 0) == 0
    ):
        raise BuzzExecutionError(
            "partition-scoped rewrite over a snapshot with data manifests "
            "under non-live partition specs is not supported — run a full "
            "rewrite"
        )
    part_fields = _partition_context(schema_json, spec_fields)

    sel = cat.pruned_files(spark, partition_filter)
    if not sel:
        return None
    plan_all = cat._plan(spark, None)
    sel_keys = {f.key for f in sel}
    if sel_keys & plan_all["orc_keys"]:
        raise BuzzExecutionError(
            "partition-scoped rewrite over ORC data files is not "
            "supported (merge-on-read needs _metadata.row_index)"
        )
    compacted_rec = {
        rec for rec, _ in plan_all["pairs"] if _spark_uri(rec) in sel_keys
    }

    # --- MOR-resolved read of exactly the selected files ---
    pos = [d for d in plan_all["deletes"] if d["kind"] == "pos"]
    eq = [d for d in plan_all["deletes"] if d["kind"] == "eq"]
    df = cat._mor_scan(spark, list(sel), [], pos, eq, plan_all)
    for f in schema_json["fields"]:
        if f["type"] == "timestamp":
            df = df.withColumn(f["name"], F.col(f["name"]).cast("timestamp_ntz"))

    by_name = {f["name"]: f for f in schema_json["fields"]}
    part_cols = [pf["group_col"] for pf in part_fields]
    part_types = {pf["group_col"]: pf["store_type"] for pf in part_fields}
    field_ids = [by_name[c]["id"] for c in df.columns]
    col_types, stat_fields = _stats_context(by_name, df.columns)
    derived = [pf for pf in part_fields if pf["kind"] != "identity"]
    for pf in derived:
        df = df.withColumn(pf["group_col"], _transform_column(pf))

    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(data_dir, exist_ok=True)
    new_files = _write_data_files(
        df, data_dir, part_cols, field_ids, part_types, target_file_rows,
        col_types=col_types,
        drop_cols=[pf["group_col"] for pf in derived],
    )  # may be [] — every selected row was deleted; still a valid compaction

    # --- manifest surgery: drop compacted entries, carry the rest ---
    # A position-delete FILE leaves the snapshot iff every data file it
    # references was compacted (pyarrow column-pruned read, O(delete
    # files) driver-side).  Equality deletes always carry (see docstring).
    def _pos_refs(uri: str) -> set:
        local = uri.removeprefix("file:")
        return set(
            pq.read_table(local, columns=["file_path"])
            .column("file_path")
            .unique()
            .to_pylist()
        )

    untouched: list[dict] = []
    surgery_recs: list[dict] = []
    dropped_data_files = 0
    dropped_delete_files = 0
    basis_manifests = _prev_manifests(meta)
    for m in basis_manifests:
        mcontent = int(m.get("content") or 0)
        mseq = int(m.get("sequence_number") or 0)
        _, entries = decode_avro_file(cat._read_meta_bytes(m["manifest_path"]))
        kept: list[dict] = []
        changed = False
        for e in entries:
            if int(e.get("status") or 0) == 2:
                changed = True  # tombstone: content-neutral, not re-carried
                continue
            df_rec = e["data_file"]
            fp = df_rec["file_path"]
            fcontent = int(df_rec.get("content") or 0)
            if fcontent == 0 and fp in compacted_rec:
                changed = True
                dropped_data_files += 1
                continue
            if fcontent == 1 and _pos_refs(_spark_uri(fp)) <= compacted_rec:
                changed = True
                dropped_delete_files += 1
                continue
            eseq = e.get("sequence_number")
            seq_eff = int(eseq) if eseq is not None else mseq
            kept.append(
                {
                    "status": 0,  # EXISTING: explicit ids per spec
                    "snapshot_id": int(
                        e.get("snapshot_id") or m.get("added_snapshot_id") or 0
                    ),
                    "sequence_number": seq_eff,
                    "file_sequence_number": int(
                        e.get("file_sequence_number") or seq_eff
                    ),
                    "data_file": {
                        k: df_rec.get(k) for k in _CARRY_DF_KEYS
                    },
                }
            )
        if not changed:
            untouched.append(m)
            continue
        if not kept:
            continue  # the whole manifest was compacted away
        mf = part_fields if int(m.get("partition_spec_id") or 0) == spec_id else []
        new_path = _write_manifest(
            meta_dir, kept, mf, schema_json,
            int(m.get("partition_spec_id") or 0),
            "data" if mcontent == 0 else "deletes",
        )
        surgery_recs.append(
            {
                "manifest_path": new_path,
                "manifest_length": os.path.getsize(new_path),
                "partition_spec_id": int(m.get("partition_spec_id") or 0),
                "content": mcontent,
                "sequence_number": mseq,
                "min_sequence_number": min(
                    int(k["sequence_number"]) for k in kept
                ),
                "added_snapshot_id": int(m.get("added_snapshot_id") or 0),
                "added_files_count": 0,
                "existing_files_count": len(kept),
                "deleted_files_count": 0,
                "added_rows_count": 0,
                "existing_rows_count": sum(
                    int(k["data_file"].get("record_count") or 0) for k in kept
                ),
                "deleted_rows_count": 0,
                # original summaries stay VALID (kept ⊆ original): bounds
                # may be loose, never wrong
                "partitions": m.get("partitions"),
            }
        )

    added_rows = sum(int(f["record_count"]) for f in new_files)
    now_ms = int(time.time() * 1000)

    def _attempt(state):
        version_a, meta_a, commute_a = state
        seq = int(meta_a.get("last-sequence-number", 0)) + 1
        snap_id = uuid.uuid4().int >> 65
        recs = []
        if new_files:
            manifest_path = _write_manifest(
                meta_dir,
                _manifest_entries(
                    new_files, 0, None, part_fields, snap_id, stat_fields
                ),
                part_fields,
                schema_json,
                spec_id,
                "data",
            )
            recs.append(
                _manifest_rec(
                    manifest_path, spec_id, 0, seq, snap_id,
                    len(new_files), added_rows,
                    _part_summaries(new_files, part_fields),
                )
            )
        mlist_path = _write_manifest_list(
            meta_dir, snap_id, seq,
            recs
            + surgery_recs
            + _carry_manifests(untouched)
            + _carry_manifests(commute_a),
        )
        new_version = _finish_commit(
            root, version_a, meta_a, snap_id, seq, now_ms, mlist_path, sid,
            "replace",
            {
                "added-data-files": str(len(new_files)),
                "added-records": str(added_rows),
                "deleted-data-files": str(dropped_data_files),
                "removed-delete-files": str(dropped_delete_files),
            },
            log_prior_metadata=True,
            store=store,
        )
        return {
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "metadata_version": new_version,
            "rewritten_files": dropped_data_files,
            "added_files": len(new_files),
            "removed_delete_files": dropped_delete_files,
            "operation": "replace",
        }

    def _refresh():
        version_f, meta_f = _load_v2_meta(root, table_uri)
        commute_f: list[dict] = []
        if meta_f.get("current-snapshot-id") != basis_snapshot:
            # concurrent PURE APPENDS commute: their new data manifests
            # carry into the replace; any removed basis manifest (another
            # rewrite) or new DELETE manifest (a merge/delete whose files
            # would target the rewritten rows at stale sequence numbers)
            # aborts typed — Iceberg's rewrite validation semantics
            _require_same_write_basis(
                meta_f, schema_json, spec_id, spec_fields
            )
            fresh = _prev_manifests(meta_f)
            basis_paths = {m["manifest_path"] for m in basis_manifests}
            extra = [
                m for m in fresh if m["manifest_path"] not in basis_paths
            ]
            if not basis_paths <= {
                m["manifest_path"] for m in fresh
            } or any(int(m.get("content") or 0) != 0 for m in extra):
                raise BuzzCommitAbortedError(
                    "the snapshot this partial rewrite was built from was "
                    "superseded by a non-append commit — re-run against "
                    "the current table"
                )
            commute_f = extra
        return (version_f, meta_f, commute_f)

    return commit_with_retry(
        _attempt, _refresh, (version, meta, []), max_commit_retries
    )


def _merge_sql_literal(v) -> str | None:
    """SQL literal for a stats_filter bound, or None when the type is not
    safely quotable (the filter is then simply skipped for that key —
    pruning is an optimization, never a correctness dependency)."""
    import math

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, float):
        return repr(v) if math.isfinite(v) else None
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return None


def _merge_iceberg_generalized(
    spark,
    root: str,
    source: DataFrame,
    key_cols: list[str],
    clauses: list[dict],
    not_matched_condition: str | None,
    cat,
    version: int,
    meta: dict,
    schema_json: dict,
    sid: int,
    spec_id: int,
    part_fields: list[dict],
    field_ids: list[int],
    key_ids: list[int],
    col_types,
    stat_fields,
    key_col_types,
    key_stat_fields,
    target_file_rows: int,
    max_commit_retries: int,
    set_properties: dict | None,
    expect_properties: dict | None,
    branch: str | None,
    spec_fields: list[dict],
    store,
    by_source: list[dict] | None = None,
    insert_values: dict[str, str] | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> dict | None:
    """Conditional / partial-column MERGE body for Iceberg (see
    :func:`merge_iceberg`).  Unlike the unconditional O(source) path this
    MUST read the matched target rows (clause conditions compare against
    them; unset columns keep their values), so the cost is one
    KEY-RANGE-PRUNED table scan (the source's min/max per key become a
    ``stats_filter`` — manifest zone-map file skipping, same machinery as
    z46) plus the O(source ⋈ matched) clause evaluation.  The commit is
    still pure merge-on-read: ONE equality-delete manifest over the keys
    where some clause FIRED (update → replaced row rewritten at the same
    sequence number, delete → nothing rewritten) plus a data manifest
    with the replacement rows and conditional inserts — no data file is
    ever rewritten.  Matched keys where no clause fires are untouched
    (no delete, no write).  Duplicate-key TARGET rows of a fired key are
    all re-emitted (updated or verbatim) because the equality delete
    removes every row of the key.  The delete manifest always uses the
    GLOBAL unpartitioned form.

    ``by_source`` (WHEN NOT MATCHED BY SOURCE) additionally applies
    ordered update/delete clauses to target rows with NO source key
    match — the scan then necessarily reads the whole table (the
    affected rows are exactly the ones the key-range filter would
    prune), but the commit stays merge-on-read: fired unmatched keys
    join the same equality-delete manifest, their surviving/updated rows
    the same data manifest.  Matched and unmatched keys are disjoint by
    construction, so one shared per-key window decides re-emission for
    both."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .merge_clauses import (
        build_insert_rows,
        clause_action_column,
        clause_row_column,
        insert_filter,
    )

    by_source = by_source or []
    names = list(source.columns)
    by_name = {f["name"]: f for f in schema_json["fields"]}
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    derived = [pf for pf in part_fields if pf["kind"] != "identity"]
    part_cols = [pf["group_col"] for pf in part_fields]
    part_types = {pf["group_col"]: pf["store_type"] for pf in part_fields}

    marked = None
    source = source.persist()
    try:
        dup = (
            source.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__dup_n"))
            .where(F.col("__dup_n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise BuzzBadRequestError(
                "source has duplicate merge keys — distributed last-wins "
                "is order-undefined; de-duplicate upstream"
            )

        # key-range pruned target scan (null keys kept: the match below
        # is null-safe, Iceberg's equality-delete rule).  By-source
        # clauses force the FULL scan: the rows they reach are exactly
        # the ones the key-range filter would prune away.
        bounds = []
        if not by_source:
            row = source.agg(
                *[F.min(k).alias(f"_lo_{k}") for k in key_cols],
                *[F.max(k).alias(f"_hi_{k}") for k in key_cols],
            ).first()
            for k in key_cols:
                lo = _merge_sql_literal(row[f"_lo_{k}"])
                hi = _merge_sql_literal(row[f"_hi_{k}"])
                if row[f"_lo_{k}"] is not None and lo is not None and hi is not None:
                    bounds.append(
                        f"((`{k}` >= {lo} AND `{k}` <= {hi}) OR `{k}` IS NULL)"
                    )
        tbl = cat.to_dataframe(
            spark, stats_filter=" AND ".join(bounds) if bounds else None
        ).select(*names)

        s_side = source.select(F.struct(*names).alias("s"))
        t_side = tbl.select(F.struct(*names).alias("t"))
        pair_cond = reduce(
            lambda a, b: a & b,
            [
                t_side["t"].getField(k).eqNullSafe(s_side["s"].getField(k))
                for k in key_cols
            ],
        )
        pairs = t_side.join(s_side, on=pair_cond, how="inner")
        keyed = pairs.select(
            *[
                F.col("t").getField(k).alias(f"__k{i}")
                for i, k in enumerate(key_cols)
            ],
            clause_action_column(clauses).alias("__a"),
            clause_row_column(clauses, source.schema.fields).alias("__r"),
        )
        if by_source:
            # unmatched target rows (null-safe anti, mirroring the match)
            # run the by-source clauses; matched and unmatched keys are
            # disjoint, so the shared per-key window below is exact
            un = t_side.join(s_side, on=pair_cond, how="left_anti")
            keyed = keyed.unionByName(
                un.select(
                    *[
                        F.col("t").getField(k).alias(f"__k{i}")
                        for i, k in enumerate(key_cols)
                    ],
                    clause_action_column(by_source).alias("__a"),
                    clause_row_column(by_source, source.schema.fields).alias(
                        "__r"
                    ),
                )
            )
        w = Window.partitionBy(*[f"__k{i}" for i in range(len(key_cols))])
        marked = keyed.withColumn(
            "__any",
            F.max(F.when(F.col("__a").isNotNull(), 1).otherwise(0)).over(w),
        ).persist()
        replaced = marked.where(
            (F.col("__any") == 1)
            & (F.col("__a").isNull() | (F.col("__a") == "update"))
        ).select("__r.*")
        fired = (
            marked.where(F.col("__any") == 1)
            .select(
                *[
                    F.col(f"__k{i}").alias(k)
                    for i, k in enumerate(key_cols)
                ]
            )
            .distinct()
        )

        # NOT MATCHED inserts: null-safe anti-join against the pruned
        # scan's keys (any target key equal to a source key survives the
        # range filter by construction)
        tkeys = tbl.select(
            *[F.col(k).alias(f"__t{i}") for i, k in enumerate(key_cols)]
        )
        ins_cond = reduce(
            lambda a, b: a & b,
            [
                source[k].eqNullSafe(tkeys[f"__t{i}"])
                for i, k in enumerate(key_cols)
            ],
        )
        ins = source.join(tkeys, on=ins_cond, how="left_anti")
        if not_matched_condition is not None:
            ins = insert_filter(ins, names, not_matched_condition)
        if insert_values is not None:
            ins = build_insert_rows(
                ins, names, insert_values, source.schema.fields
            )

        data_rows = replaced.unionByName(ins.select(*names))
        for pf in derived:
            data_rows = data_rows.withColumn(
                pf["group_col"], _transform_column(pf)
            )
        required_nullable = [
            c
            for c in names
            if by_name[c].get("required") and data_rows.schema[c].nullable
        ]
        new_files = _write_data_files(
            data_rows, data_dir, part_cols, field_ids, part_types,
            target_file_rows, col_types=col_types,
            no_null_cols=required_nullable,
            drop_cols=[pf["group_col"] for pf in derived],
        )
        key_files = _write_data_files(
            fired, data_dir, [], key_ids, {}, target_file_rows,
            col_types=key_col_types,
        )
        if not new_files and not key_files:
            return None
    finally:
        source.unpersist()
        if marked is not None:
            marked.unpersist()

    now_ms = int(time.time() * 1000)
    added_rows = sum(int(f["record_count"]) for f in new_files)
    key_rows = sum(int(f["record_count"]) for f in key_files)

    def _attempt(state):
        version_a, meta_a = state
        seq = int(meta_a.get("last-sequence-number", 0)) + 1
        snap_id = uuid.uuid4().int >> 65
        meta_a = dict(meta_a)
        if set_properties:
            props = dict(meta_a.get("properties") or {})
            props.update({str(k): str(v) for k, v in set_properties.items()})
            meta_a["properties"] = props
        recs = []
        if new_files:
            data_manifest = _write_manifest(
                meta_dir,
                _manifest_entries(
                    new_files, 0, None, part_fields, snap_id, stat_fields
                ),
                part_fields,
                schema_json,
                spec_id,
                "data",
            )
            recs.append(
                _manifest_rec(
                    data_manifest, spec_id, 0, seq, snap_id,
                    len(new_files), added_rows,
                    _part_summaries(new_files, part_fields),
                )
            )
        if key_files:
            del_spec_id = _unpartitioned_spec_id(meta_a)
            delete_manifest = _write_manifest(
                meta_dir,
                _manifest_entries(
                    key_files, 2, key_ids, [], snap_id, key_stat_fields
                ),
                [],
                schema_json,
                del_spec_id,
                "deletes",
            )
            recs.append(
                _manifest_rec(
                    delete_manifest, del_spec_id, 1, seq, snap_id,
                    len(key_files), key_rows,
                    _part_summaries(key_files, []),
                )
            )
        mlist_path = _write_manifest_list(
            meta_dir,
            snap_id,
            seq,
            recs
            + _carry_manifests(
                _prev_manifests(meta_a, _branch_head(meta_a, branch))
            ),
        )
        counts = {
            "added-data-files": str(len(new_files)),
            "added-records": str(added_rows),
            "added-delete-files": str(len(key_files)),
            "added-equality-deletes": str(key_rows),
        }
        if txn_app_id is not None:
            # the snapshot summary IS the idempotence marker, committed
            # atomically with the snapshot (write_iceberg's protocol)
            counts["txn-app-id"] = txn_app_id
            counts["txn-version"] = str(int(txn_version))
        new_version = _finish_commit(
            root,
            version_a,
            meta_a,
            snap_id,
            seq,
            now_ms,
            mlist_path,
            sid,
            "overwrite",
            counts,
            log_prior_metadata=True,
            store=store,
            branch=branch,
        )
        return {
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "metadata_version": new_version,
            "upserted_records": added_rows,
            "operation": "overwrite",
        }

    def _refresh():
        version_f, meta_f = _load_v2_meta(root, root)
        _require_same_write_basis(meta_f, schema_json, spec_id, spec_fields)
        _require_expected_properties(meta_f, expect_properties)
        if txn_app_id is not None and _txn_already_committed(
            meta_f, txn_app_id, txn_version
        ):
            return None  # a peer committed our txn: idempotent no-op
        return (version_f, meta_f)

    return commit_with_retry(
        _attempt, _refresh, (version, meta), max_commit_retries
    )


def merge_iceberg(
    spark,
    table_uri: str,
    source: DataFrame,
    key_cols: list[str],
    target_file_rows: int = 1_000_000,
    max_commit_retries: int = 5,
    set_properties: dict[str, str] | None = None,
    expect_properties: dict[str, str] | None = None,
    branch: str | None = None,
    schema_mode: str = "strict",
    matched_clauses: list[dict] | None = None,
    not_matched_condition: str | None = None,
    by_source_clauses: list[dict] | None = None,
    insert_values: dict[str, str] | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    store=None,
) -> dict | None:
    """UPSERT ``source`` into the Iceberg table by ``key_cols`` — the
    Flink-CDC merge-on-read shape: ONE commit carries an EQUALITY-delete
    manifest (the source's distinct keys, content=2 with ``equality_ids``)
    plus a data manifest with the new rows.  Old rows whose keys appear in
    the source stop matching (the reader scopes equality deletes to data
    files with a strictly SMALLER sequence number, so the new rows — same
    sequence as the delete — survive their own delete); rows with unseen
    keys are plain inserts.

    Cost is O(source): NO table scan, no driver-side row work — both the
    data files and the delete-key files are written by executors through
    the same fanout writer, and the commit is metadata-only.  That is the
    whole point of the equality-delete design at 100 TB: an upsert of a
    million CDC rows into a petabyte table touches only the million rows.

    Semantics notes: a NULL key column matches NULL (the reader anti-joins
    with eqNullSafe, Iceberg's equality-delete rule); duplicate keys
    WITHIN the source are a typed error (distributed last-wins is
    order-undefined); schema-evolved (renamed-column) tables work — the
    delete-key files are written with ``PARQUET:field_id`` footers and
    CURRENT column names, and the reader binds every delete file's
    columns by field id (``iceberg.py::_read_eq_key_files``), so
    rename-then-upsert sequences read back exactly.  Returns None for an
    empty source.

    ``set_properties`` merges table properties ATOMICALLY with the merge
    commit (one metadata promote carries both) — how an incremental
    materialization records its source cursor exactly-once: a crash
    either lands the merge AND the cursor or neither.  ``buzz.txn.``
    keys are refused (expiry-managed replay markers).
    ``expect_properties`` is the matching CAS: the commit (and every
    retry) validates that each listed property still holds the given
    value, raising the non-retryable
    :class:`~..errors.BuzzCommitAbortedError` otherwise — two concurrent
    refreshes that both read the same cursor cannot both apply their
    delta.  ``branch`` stages the merge on a named branch (parented on
    the branch head, keys matched against the BRANCH state; ``main``
    untouched until :func:`fast_forward_iceberg`).

    The delete manifest commits under the table's UNPARTITIONED spec
    (added to ``partition-specs`` on first use) — the spec's GLOBAL form,
    applied across all partitions — EXCEPT when every partition source
    column is a merge key (the common CDC layout): then the key files are
    partition-scoped under the live spec with real tuples and summaries,
    which is semantically identical (a matching old row necessarily sits
    in the same partition) and lets partition-filtered reads prune
    eq-delete files like data files.

    **Conditional / partial-column form**: ``matched_clauses`` (a list of
    ``{"action": "update"|"delete", "condition": sql | None, "set":
    {col: sql_expr} | None}``, Delta-MERGE first-match-wins semantics —
    expressions over ``t.<col>`` / ``s.<col>``; see
    :mod:`~.merge_clauses`) and ``not_matched_condition`` switch to
    :func:`_merge_iceberg_generalized`: one KEY-RANGE-PRUNED table scan
    reads the matched target rows (conditions compare against them;
    unset columns keep their values), the commit stays merge-on-read
    (eq-deletes over the keys where a clause FIRED + replacement/insert
    data files; matched-but-unfired keys untouched).

    ``by_source_clauses`` (WHEN NOT MATCHED BY SOURCE — conditions and
    ``set`` over ``t.<col>`` only; ``update`` requires ``set``) applies
    ordered update/delete clauses to target rows with NO source key
    match in the same atomic commit — the full-sync CDC idiom; the scan
    widens to the whole table (by definition those rows sit outside the
    source key range) but the commit stays merge-on-read.
    ``insert_values`` (column → expression over ``s.<col>``) builds the
    inserted row instead of taking the source row wholesale; unlisted
    columns insert NULL.

    ``txn_app_id``/``txn_version`` give the merge the same exactly-once
    idempotence as :func:`write_iceberg`: the marker rides the snapshot
    SUMMARY atomically with the commit (persisted to ``buzz.txn.<app>``
    properties at snapshot expiry), and a replayed (app, version) pair
    returns ``None`` before any staging — the streaming upsert sink's
    contract."""
    from pyspark.sql import functions as F

    if (txn_app_id is None) != (txn_version is None):
        raise BuzzBadRequestError(
            "txn_app_id and txn_version must be given together"
        )
    if branch == "main":
        branch = None
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    _require_expected_properties(meta, expect_properties)
    if txn_app_id is not None and _txn_already_committed(
        meta, txn_app_id, txn_version
    ):
        # replay detection BEFORE any staging: a replayed micro-batch
        # costs a metadata read, not a merge
        return None
    sid = meta.get("current-schema-id", 0)
    schema_json = next(s for s in meta["schemas"] if s.get("schema-id") == sid)
    if schema_mode not in ("strict", "merge"):
        raise BuzzBadRequestError(
            f"schema_mode must be strict|merge, got {schema_mode!r}"
        )
    order = _schema_fields_match(schema_json, source.schema)
    if order is None and schema_mode == "merge":
        # same reconciliation as write_iceberg(schema_mode='merge').
        # NOTE on upsert semantics: the merge replaces matched rows with
        # SOURCE rows wholesale, so a null-filled missing column becomes
        # NULL in updated rows (full-row upsert), never "unchanged".
        source, evolved = _merge_write_schema(
            source, schema_json, table_uri, store
        )
        if evolved:
            version, meta = _load_v2_meta(root, table_uri)
            _require_expected_properties(meta, expect_properties)
            sid = meta.get("current-schema-id", 0)
            schema_json = next(
                s for s in meta["schemas"] if s.get("schema-id") == sid
            )
        order = _schema_fields_match(schema_json, source.schema)
    if order is None:
        raise BuzzSchemaError(
            "source schema does not match the iceberg table schema "
            f"(table: {[(f['name'], f['type']) for f in schema_json['fields']]})"
        )
    source = source.select(*order)
    by_name = {f["name"]: f for f in schema_json["fields"]}
    missing = [k for k in key_cols if k not in by_name]
    if not key_cols or missing:
        raise BuzzBadRequestError(
            f"merge key columns {missing or key_cols} not in the table schema"
        )

    if set_properties and any(
        k.startswith("buzz.txn.") for k in set_properties
    ):
        raise BuzzBadRequestError(
            "properties under buzz.txn. are exactly-once transaction "
            "markers managed by snapshot expiry — refusing to overwrite"
        )
    from .iceberg import IcebergCatalog

    # pinned at the BRANCH head for WAP staging merges (scope_deletes
    # below must see the branch's manifests, not main's)
    merge_head = _branch_head(meta, branch)
    cat = IcebergCatalog("merge", root, snapshot_id=merge_head)

    spec_id = meta.get("default-spec-id", 0)
    spec_fields = next(
        s["fields"]
        for s in meta["partition-specs"]
        if s.get("spec-id") == spec_id
    )
    part_fields = _partition_context(schema_json, spec_fields)
    part_cols = [pf["group_col"] for pf in part_fields]
    part_types = {pf["group_col"]: pf["store_type"] for pf in part_fields}
    field_ids = [by_name[c]["id"] for c in source.columns]
    key_ids = [int(by_name[k]["id"]) for k in key_cols]
    col_types, stat_fields = _stats_context(by_name, source.columns)
    key_col_types, key_stat_fields = _stats_context(by_name, key_cols)
    required_nullable = [
        c for c in source.columns
        if by_name[c].get("required") and source.schema[c].nullable
    ]

    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(data_dir, exist_ok=True)

    if (
        matched_clauses is not None
        or not_matched_condition is not None
        or by_source_clauses
        or insert_values is not None
    ):
        from .merge_clauses import (
            check_target_only,
            legacy_clauses,
            validate_by_source_clauses,
            validate_insert_values,
            validate_matched_clauses,
        )

        clauses = (
            validate_matched_clauses(
                matched_clauses, list(source.columns), key_cols
            )
            if matched_clauses is not None
            else legacy_clauses("update")
        )
        bys = (
            validate_by_source_clauses(
                by_source_clauses, list(source.columns), key_cols
            )
            if by_source_clauses
            else []
        )
        if bys:
            check_target_only(
                source.select(
                    F.struct(*source.columns).alias("t")
                ),
                bys,
                "by-source",
            )
        ivs = (
            validate_insert_values(insert_values, list(source.columns))
            if insert_values is not None
            else None
        )
        return _merge_iceberg_generalized(
            spark, root, source, key_cols, clauses, not_matched_condition,
            cat, version, meta, schema_json, sid, spec_id, part_fields,
            field_ids, key_ids, col_types, stat_fields, key_col_types,
            key_stat_fields, target_file_rows, max_commit_retries,
            set_properties, expect_properties, branch, spec_fields, store,
            by_source=bys, insert_values=ivs,
            txn_app_id=txn_app_id, txn_version=txn_version,
        )

    # derived transform ordinals (day/bucket/... partitioned tables): the
    # fanout writer groups by them, the files never contain them
    derived = [pf for pf in part_fields if pf["kind"] != "identity"]
    for pf in derived:
        source = source.withColumn(pf["group_col"], _transform_column(pf))

    # the source is evaluated three times (dup check, data files, key
    # files); persist so a non-deterministic or mutable-input source
    # cannot produce delete keys that disagree with the written rows
    source = source.persist()
    try:
        # collision-proof alias: a table column literally named "n" would
        # make a bare `where("n > 1")` ambiguous and fail a legitimate merge
        dup = (
            source.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__dup_n"))
            .where(F.col("__dup_n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise BuzzBadRequestError(
                "source has duplicate merge keys — distributed last-wins "
                "is order-undefined; de-duplicate upstream"
            )
        new_files = _write_data_files(
            source, data_dir, part_cols, field_ids, part_types,
            target_file_rows, col_types=col_types,
            no_null_cols=required_nullable,
            drop_cols=[pf["group_col"] for pf in derived],
        )
        if not new_files:
            return None
        # the delete-key files: the source's distinct keys,
        # executor-written (content=2 files may hold ONLY the
        # equality_ids columns per spec).  When every partition SOURCE
        # column is a merge KEY (the common CDC layout: partition derives
        # from the key), the key files are PARTITION-SCOPED — written one
        # per partition and committed under the live spec with real
        # tuples/summaries — sound because a matching old row necessarily
        # sits in the same partition (deterministic transforms of equal
        # keys), and it lets partition-filtered reads prune eq-delete
        # files like data files.  Otherwise: the global unpartitioned form.
        scope_deletes = bool(part_fields) and all(
            pf["source_name"] in key_cols for pf in part_fields
        ) and all(
            m.get("partition_spec_id") in (None, spec_id)
            for m in (cat._manifests or [])
            if int(m.get("content") or 0) == 0
        )
        if scope_deletes:
            key_files = _write_data_files(
                source.select(
                    *key_cols, *[pf["group_col"] for pf in derived]
                ).distinct(),
                data_dir,
                part_cols,
                key_ids,
                part_types,
                target_file_rows,
                col_types=key_col_types,
                drop_cols=[pf["group_col"] for pf in derived],
            )
        else:
            key_files = _write_data_files(
                source.select(*key_cols).distinct(),
                data_dir,
                [],
                key_ids,
                {},
                target_file_rows,
                col_types=key_col_types,
            )
    finally:
        source.unpersist()

    now_ms = int(time.time() * 1000)
    added_rows = sum(int(f["record_count"]) for f in new_files)
    key_rows = sum(int(f["record_count"]) for f in key_files)
    counts = {
        "added-data-files": str(len(new_files)),
        "added-records": str(added_rows),
        "added-delete-files": str(len(key_files)),
        "added-equality-deletes": str(key_rows),
    }
    if txn_app_id is not None:
        # the snapshot summary IS the idempotence marker, committed
        # atomically with the snapshot (write_iceberg's protocol)
        counts["txn-app-id"] = txn_app_id
        counts["txn-version"] = str(int(txn_version))

    # The delete manifest goes under the table's UNPARTITIONED spec: the
    # spec's GLOBAL-delete form.  Under a partitioned spec, an equality
    # delete applies only to its own partition, so a null tuple would be
    # read by external engines as "delete in the null partition only" —
    # resurrecting every updated row elsewhere.
    #
    # Commit loop: data + delete-key files are staged once above; a lost
    # claim re-reads the table, re-validates schema/spec, and re-claims at
    # a HIGHER sequence number.  Merges commute with concurrent appends
    # and merges — equality deletes scope to data files with strictly
    # smaller sequence numbers, so the retried commit's deletes cover
    # everything committed before it: upsert last-writer-wins, the same
    # result a serialized replay would produce.
    def _attempt(state):
        version_a, meta_a = state
        seq = int(meta_a.get("last-sequence-number", 0)) + 1
        snap_id = uuid.uuid4().int >> 65
        meta_a = dict(meta_a)
        if set_properties:
            props = dict(meta_a.get("properties") or {})
            props.update({str(k): str(v) for k, v in set_properties.items()})
            meta_a["properties"] = props
        data_manifest = _write_manifest(
            meta_dir,
            _manifest_entries(
                new_files, 0, None, part_fields, snap_id, stat_fields
            ),
            part_fields,
            schema_json,
            spec_id,
            "data",
        )
        if scope_deletes:
            del_spec_id = spec_id
            del_part_fields = part_fields
        else:
            del_spec_id = _unpartitioned_spec_id(meta_a)
            del_part_fields = []
        delete_manifest = _write_manifest(
            meta_dir,
            _manifest_entries(
                key_files, 2, key_ids, del_part_fields, snap_id,
                key_stat_fields,
            ),
            del_part_fields,
            schema_json,
            del_spec_id,
            "deletes",
        )
        mlist_path = _write_manifest_list(
            meta_dir,
            snap_id,
            seq,
            [
                _manifest_rec(
                    data_manifest, spec_id, 0, seq, snap_id,
                    len(new_files), added_rows,
                    _part_summaries(new_files, part_fields),
                ),
                _manifest_rec(
                    delete_manifest, del_spec_id, 1, seq, snap_id,
                    len(key_files), key_rows,
                    _part_summaries(key_files, del_part_fields),
                ),
            ]
            + _carry_manifests(
                _prev_manifests(meta_a, _branch_head(meta_a, branch))
            ),
        )
        new_version = _finish_commit(
            root,
            version_a,
            meta_a,
            snap_id,
            seq,
            now_ms,
            mlist_path,
            sid,
            "overwrite",
            counts,
            log_prior_metadata=True,
            store=store,
            branch=branch,
        )
        return {
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "metadata_version": new_version,
            "upserted_records": added_rows,
            "operation": "overwrite",
        }

    def _refresh():
        version_f, meta_f = _load_v2_meta(root, table_uri)
        _require_same_write_basis(meta_f, schema_json, spec_id, spec_fields)
        _require_expected_properties(meta_f, expect_properties)
        if txn_app_id is not None and _txn_already_committed(
            meta_f, txn_app_id, txn_version
        ):
            return None  # a peer committed our txn: idempotent no-op
        return (version_f, meta_f)

    return commit_with_retry(
        _attempt, _refresh, (version, meta), max_commit_retries
    )


def rewrite_iceberg_manifests(
    table_uri: str,
    max_commit_retries: int = 5,
    branch: str | None = None,
    store=None,
) -> dict | None:
    """Consolidate the current snapshot's manifests into ONE manifest per
    (content, partition-spec) group — Iceberg's ``rewrite_manifests``
    maintenance action, METADATA-ONLY (no data or delete file touched):
    after N small commits a scan plans N manifest decodes; consolidation
    makes it O(specs).

    Spec mechanics: live entries (status != DELETED) are re-emitted with
    status EXISTING and their EFFECTIVE sequence numbers made EXPLICIT
    (an entry that inherited its manifest's sequence at write time must
    not inherit the REWRITE's — that would break equality/position
    delete scoping, resurrecting or over-killing rows).  The new
    manifest-list records carry existing (not added) counts, the
    rewrite snapshot's sequence as ``sequence_number``, the true
    ``min_sequence_number`` over the carried entries, and recomputed
    partition summaries so manifest SKIPPING keeps pruning.  Returns a
    commit summary, or None when there is nothing to consolidate
    (≤1 manifest per group already).  Unwritable partition transforms
    refuse typed (their entry schema cannot be re-emitted)."""
    if branch == "main":
        branch = None
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    meta_dir = os.path.join(root, "metadata")
    prev = _prev_manifests(meta, _branch_head(meta, branch))
    by_group: dict[tuple[int, int], list[dict]] = {}
    for m in prev:
        key = (
            int(m.get("content") or 0),
            int(m.get("partition_spec_id") or 0),
        )
        by_group.setdefault(key, []).append(m)
    if not any(len(ms) > 1 for ms in by_group.values()):
        return None

    sid = meta.get("current-schema-id", 0)
    schema_json = next(
        s for s in meta["schemas"] if s.get("schema-id") == sid
    )
    spec_fields_by_id = {
        int(s.get("spec-id") or 0): s["fields"]
        for s in meta.get("partition-specs", [])
    }

    # decode every live entry, resolve its EFFECTIVE sequence numbers,
    # and re-emit as EXISTING — grouped per (content, spec)
    consolidated: list[tuple[tuple[int, int], list[dict], list[dict]]] = []
    for (content, spec_id), ms in sorted(by_group.items()):
        entries_out: list[dict] = []
        for m in ms:
            mseq = int(m.get("sequence_number") or 0)
            with open(m["manifest_path"], "rb") as fh:
                _, entries = decode_avro_file(fh.read())
            for e in entries:
                if int(e.get("status") or 0) == 2:  # DELETED
                    continue
                eseq = e.get("sequence_number")
                seq = int(eseq) if eseq is not None else mseq
                fseq = e.get("file_sequence_number")
                entries_out.append(
                    {
                        "status": 0,  # EXISTING
                        "snapshot_id": e.get("snapshot_id"),
                        "sequence_number": seq,
                        "file_sequence_number": (
                            int(fseq) if fseq is not None else seq
                        ),
                        "data_file": e["data_file"],
                    }
                )
        try:
            part_fields = _partition_context(
                schema_json, spec_fields_by_id.get(spec_id, [])
            )
        except BuzzBadRequestError as exc:
            raise BuzzNotImplementedError(
                f"rewrite_iceberg_manifests: spec {spec_id} has a "
                f"partition transform this writer cannot re-emit ({exc})"
            )
        consolidated.append(((content, spec_id), part_fields, entries_out))

    now_ms = int(time.time() * 1000)

    def _attempt(state):
        version_a, meta_a = state
        seq = int(meta_a.get("last-sequence-number", 0)) + 1
        snap_id = uuid.uuid4().int >> 65
        recs: list[dict] = []
        for (content, spec_id), part_fields, entries_out in consolidated:
            if not entries_out:
                continue
            path = _write_manifest(
                meta_dir, entries_out, part_fields, schema_json, spec_id,
                "data" if content == 0 else "deletes",
            )
            rows = sum(
                int(e["data_file"]["record_count"]) for e in entries_out
            )
            summaries = None
            if part_fields:
                summaries = _part_summaries(
                    [
                        {
                            "partition": {
                                (pf.get("group_col") or pf["source_name"]):
                                    (e["data_file"].get("partition") or {})
                                    .get(pf["name"])
                                for pf in part_fields
                            }
                        }
                        for e in entries_out
                    ],
                    part_fields,
                )
            recs.append(
                {
                    "manifest_path": path,
                    "manifest_length": os.path.getsize(path),
                    "partition_spec_id": spec_id,
                    "content": content,
                    "sequence_number": seq,
                    "min_sequence_number": min(
                        e["sequence_number"] for e in entries_out
                    ),
                    "added_snapshot_id": snap_id,
                    "added_files_count": 0,
                    "existing_files_count": len(entries_out),
                    "deleted_files_count": 0,
                    "added_rows_count": 0,
                    "existing_rows_count": rows,
                    "deleted_rows_count": 0,
                    "partitions": summaries,
                }
            )
        mlist_path = _write_manifest_list(meta_dir, snap_id, seq, recs)
        new_version = _finish_commit(
            root, version_a, dict(meta_a), snap_id, seq, now_ms,
            mlist_path, meta_a.get("current-schema-id", 0), "replace",
            {
                "manifests-replaced": str(len(prev)),
                "manifests-created": str(len(recs)),
            },
            log_prior_metadata=True, store=store, branch=branch,
        )
        return {
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "metadata_version": new_version,
            "manifests_replaced": len(prev),
            "manifests_created": len(recs),
            "operation": "replace",
        }

    def _refresh():
        version_f, meta_f = _load_v2_meta(root, table_uri)
        fresh = _prev_manifests(meta_f, _branch_head(meta_f, branch))
        if [m["manifest_path"] for m in fresh] != [
            m["manifest_path"] for m in prev
        ]:
            raise BuzzCommitAbortedError(
                "the manifest set changed concurrently — re-run "
                "rewrite_iceberg_manifests against the current table"
            )
        return (version_f, meta_f)

    return commit_with_retry(
        _attempt, _refresh, (version, meta), max_commit_retries
    )


def truncate_iceberg(
    table_uri: str,
    max_commit_retries: int = 5,
    branch: str | None = None,
    store=None,
) -> dict | None:
    """TRUNCATE the Iceberg table — one METADATA-ONLY commit whose
    manifest list carries NO manifests (nothing scanned, nothing
    rewritten, O(1) regardless of table size; Iceberg's own TRUNCATE is
    the same move).  Prior snapshots stay time-travelable until expiry.
    Returns a commit summary, or None when the (branch) state is already
    empty.  ``branch`` truncates a named branch only — ``main`` is
    untouched until :func:`fast_forward_iceberg`."""
    if branch == "main":
        branch = None
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    meta_dir = os.path.join(root, "metadata")
    now_ms = int(time.time() * 1000)

    def _attempt(state):
        version_a, meta_a = state
        if not _prev_manifests(meta_a, _branch_head(meta_a, branch)):
            return None
        seq = int(meta_a.get("last-sequence-number", 0)) + 1
        snap_id = uuid.uuid4().int >> 65
        mlist_path = _write_manifest_list(meta_dir, snap_id, seq, [])
        new_version = _finish_commit(
            root, version_a, dict(meta_a), snap_id, seq, now_ms,
            mlist_path, meta_a.get("current-schema-id", 0), "delete",
            {"total-data-files": "0", "total-records": "0"},
            log_prior_metadata=True, store=store, branch=branch,
        )
        return {
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "metadata_version": new_version,
            "operation": "delete",
        }

    def _refresh():
        return _load_v2_meta(root, table_uri)

    return commit_with_retry(
        _attempt, _refresh, (version, meta), max_commit_retries
    )


def clone_iceberg(
    src_uri: str,
    dst_uri: str,
    snapshot_id: int | None = None,
    store=None,
) -> dict:
    """SHALLOW CLONE an Iceberg table: create a NEW table at ``dst_uri``
    whose single snapshot is the source's current one (or
    ``snapshot_id``) — METADATA ONLY, zero data copied.  Iceberg makes
    this nearly free: manifest lists and manifests record ABSOLUTE
    paths, so the clone's v1 metadata simply references the source's
    manifest list; subsequent commits write NEW manifests under the
    clone's own metadata dir and carry the source's verbatim
    (:func:`_carry_manifests`), so the tables diverge independently —
    and both sides' maintenance is root-scoped
    (:func:`vacuum_iceberg` / metadata cleanup candidates come only
    from the table's OWN data/metadata dirs), so neither can reclaim
    the other's files.  The clone gets a fresh table-uuid, ``main``
    pinned at the target snapshot, fresh history, and the source's
    schemas/specs/sort-orders/properties — minus ``buzz.txn.*``
    exactly-once markers and the pinned snapshot's txn summary keys
    (the clone is a new idempotence domain).  No SparkSession needed.
    Returns {snapshot_id, metadata_version}."""
    src_root = _local_table_dir(src_uri)
    _, meta = _load_v2_meta(src_root, src_uri)
    snaps = list(meta.get("snapshots", []))
    if not snaps:
        raise BuzzBadRequestError(
            f"clone source {src_uri!r} has no snapshots"
        )
    target = (
        int(snapshot_id)
        if snapshot_id is not None
        else _norm_snapshot_id(meta.get("current-snapshot-id"))
    )
    snap = next(
        (s for s in snaps if _norm_snapshot_id(s["snapshot-id"]) == target),
        None,
    )
    if snap is None:
        raise BuzzBadRequestError(
            f"clone: snapshot {target} not found in {src_uri!r}"
        )
    dst_root = _local_table_dir(dst_uri)
    if _load_meta(dst_root) is not None:
        raise BuzzBadRequestError(
            f"clone destination {dst_uri!r} is already an Iceberg table"
        )
    os.makedirs(os.path.join(dst_root, "metadata"), exist_ok=True)
    now_ms = int(time.time() * 1000)
    snap = dict(snap)
    # the parent lives only in the source's history; a dangling parent id
    # would break ancestry walks (fast-forward / cherry-pick) on the clone
    snap.pop("parent-snapshot-id", None)
    snap["summary"] = {
        k: v
        for k, v in (snap.get("summary") or {}).items()
        if k not in ("txn-app-id", "txn-version")
    }
    new_meta = dict(meta)
    new_meta.update(
        {
            "table-uuid": str(uuid.uuid4()),
            "location": os.path.abspath(dst_root),
            "last-updated-ms": now_ms,
            "current-snapshot-id": target,
            "snapshots": [snap],
            "snapshot-log": [
                {"timestamp-ms": now_ms, "snapshot-id": target}
            ],
            "metadata-log": [],
            "refs": {"main": {"snapshot-id": target, "type": "branch"}},
            "properties": {
                k: v
                for k, v in (meta.get("properties") or {}).items()
                if not k.startswith("buzz.txn.")
            },
        }
    )
    version = _promote_metadata(
        os.path.join(dst_root, "metadata"), 1, new_meta, store
    )
    return {"snapshot_id": target, "metadata_version": version}


def expire_iceberg_snapshots(
    table_uri: str,
    keep_last: int = 1,
    older_than_ms: int | None = None,
    store=None,
) -> dict | None:
    """Expire old snapshots from the table metadata (Iceberg's
    expire-snapshots maintenance action) — the prerequisite for
    :func:`vacuum_iceberg` to reclaim their files.

    Retained: the current snapshot, the newest ``keep_last`` snapshots,
    every snapshot a named REF pins (tags are audit points — expiring
    them out from under :func:`tag_iceberg` would silently break
    ``IcebergCatalog(ref=...)`` readers; the spec retains ref-reachable
    snapshots), and (when ``older_than_ms`` is given) every snapshot at
    or after that timestamp.  Expired snapshots leave
    ``snapshots``/``snapshot-log``.  Metadata-only: no file is deleted
    here.  Returns a summary, or None when nothing expires."""
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    snaps = list(meta.get("snapshots", []))
    if not snaps:
        return None
    cur = meta.get("current-snapshot-id")
    by_time = sorted(snaps, key=lambda s: (s.get("timestamp-ms") or 0))
    keep_ids = {s["snapshot-id"] for s in by_time[-max(1, keep_last):]}
    keep_ids.add(cur)
    # named refs PIN their snapshots (tags are audit points; `main` is
    # `cur` anyway).  Only refs whose snapshot is actually PRESENT pin:
    # a dangling ref (its snapshot dropped by another engine's metadata)
    # must stay droppable by the filter below, not be kept forever.
    present = {s["snapshot-id"] for s in snaps}
    keep_ids |= {
        int(ref["snapshot-id"])
        for ref in (meta.get("refs") or {}).values()
        if ref.get("snapshot-id") is not None
        and int(ref["snapshot-id"]) in present
    }
    if older_than_ms is not None:
        keep_ids |= {
            s["snapshot-id"]
            for s in snaps
            if (s.get("timestamp-ms") or 0) >= older_than_ms
        }
    # BRANCH refs additionally keep their ANCESTOR CHAIN down to the
    # current main snapshot: fast_forward_iceberg proves main is an
    # ancestor by walking parent ids — expiring a staged branch's private
    # interior commits would make a legitimate publish refuse.  The
    # segment is kept ONLY when it actually reaches main (a stale branch
    # pointing into published history keeps just its pinned head — its
    # fast-forward would refuse regardless, and retaining its whole
    # ancestry forever would defeat expiry).  Tags pin only their own
    # snapshot (audit points need no lineage).
    by_id = {s["snapshot-id"]: s for s in snaps}
    cur_id = None if cur in (None, -1) else cur
    for name, ref in (meta.get("refs") or {}).items():
        if name == "main" or ref.get("type") != "branch":
            continue
        path: list = []
        seen: set = set()
        walk = ref.get("snapshot-id")
        while walk is not None and walk in by_id and walk != cur_id:
            if walk in seen:
                break  # corrupt parent cycle: don't retain on its account
            seen.add(walk)
            path.append(walk)
            walk = by_id[walk].get("parent-snapshot-id")
        if walk == cur_id:
            keep_ids.update(path)
    expired = [s["snapshot-id"] for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return None
    meta = dict(meta)
    # snapshot summaries are the only record of txn-app-id/txn-version (the
    # streaming sink's exactly-once markers); dropping them with the
    # snapshot would let a replayed micro-batch (restart from an old
    # checkpoint) re-append.  Persist the max committed version per app id
    # as a table property — write_iceberg's replay check consults it.
    props = dict(meta.get("properties") or {})
    for s in snaps:
        if s["snapshot-id"] in keep_ids:
            continue
        summ = s.get("summary") or {}
        app = summ.get("txn-app-id")
        if app is None or "txn-version" not in summ:
            continue
        key = f"buzz.txn.{app}"
        props[key] = str(max(int(props.get(key, -1)), int(summ["txn-version"])))
    if props:
        meta["properties"] = props
    meta["snapshots"] = [s for s in snaps if s["snapshot-id"] in keep_ids]
    meta["snapshot-log"] = [
        e
        for e in meta.get("snapshot-log", [])
        if e.get("snapshot-id") in keep_ids
    ]
    meta["refs"] = {
        name: ref
        for name, ref in (meta.get("refs") or {}).items()
        if ref.get("snapshot-id") in keep_ids
    }
    meta["last-updated-ms"] = int(time.time() * 1000)
    meta_dir = os.path.join(root, "metadata")
    new_version = _promote_metadata(meta_dir, version + 1, meta, store)
    return {
        "expired_snapshots": expired,
        "retained_snapshots": sorted(keep_ids & {s["snapshot-id"] for s in snaps}),
        "metadata_version": new_version,
    }


def vacuum_iceberg(
    table_uri: str,
    retention_hours: float = 168.0,
    dry_run: bool = False,
) -> list[str]:
    """Garbage-collect data/delete files and manifests no longer referenced
    by ANY retained snapshot and older than ``retention_hours`` (Iceberg's
    remove-orphan-files action; expire snapshots first or everything stays
    referenced).  Returns the paths removed — or would-remove under
    ``dry_run``.

    The retention grace protects files of an in-flight commit (written
    before their snapshot lands) and concurrent readers of freshly
    expired snapshots — same posture as ``vacuum_delta``.  O(metadata)
    driver work: every retained snapshot's manifest list + manifests are
    decoded; data files are never read."""
    root = _local_table_dir(table_uri)
    _, meta = _load_v2_meta(root, table_uri)
    meta_dir = os.path.join(root, "metadata")
    data_dir = os.path.join(root, "data")

    def _local(p: str) -> str:
        return os.path.abspath(_local_table_dir(p))

    referenced: set[str] = set()
    for snap in meta.get("snapshots", []):
        ml = snap.get("manifest-list")
        if not ml:
            continue
        referenced.add(_local(ml))
        with open(_local(ml), "rb") as fh:
            _, manifests = decode_avro_file(fh.read())
        for m in manifests:
            mp = _local(m["manifest_path"])
            referenced.add(mp)
            with open(mp, "rb") as fh:
                _, entries = decode_avro_file(fh.read())
            for e in entries:
                referenced.add(_local(e["data_file"]["file_path"]))

    cutoff = time.time() - retention_hours * 3600.0
    doomed: list[str] = []
    candidates = []
    if os.path.isdir(data_dir):
        for name in os.listdir(data_dir):
            if name.endswith(".parquet") or name.endswith(".orc"):
                candidates.append(os.path.join(data_dir, name))
    for name in os.listdir(meta_dir):
        if name.endswith(".avro"):
            candidates.append(os.path.join(meta_dir, name))
    for path in sorted(candidates):
        ap = os.path.abspath(path)
        if ap in referenced:
            continue
        try:
            if os.path.getmtime(ap) > cutoff:
                continue
        except FileNotFoundError:
            continue
        doomed.append(ap)
        if not dry_run:
            try:
                os.remove(ap)
            except FileNotFoundError:
                pass
    return doomed


# --- schema evolution (metadata-only commits) -----------------------------------

# iceberg primitive type names evolve_iceberg accepts for added columns
_ADDABLE_TYPES = {
    "boolean", "int", "long", "float", "double", "date",
    "timestamp", "timestamptz", "string", "binary",
}


# Iceberg spec v2 "Schema Evolution": the complete set of valid primitive
# type promotions (all widening, value-preserving; decimal may only grow
# PRECISION, never scale)
_PROMOTABLE = {"int": "long", "float": "double"}


def _check_promotion(cur: str, new: str, name: str) -> None:
    """Typed refusal unless cur→new is a spec-legal widening promotion."""
    if _PROMOTABLE.get(cur) == new:
        return
    mc = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", str(cur))
    mn = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", str(new))
    if mc and mn and int(mn.group(2)) == int(mc.group(2)) and int(
        mn.group(1)
    ) > int(mc.group(1)):
        return
    raise BuzzBadRequestError(
        f"promote: {name!r} {cur!r} → {new!r} is not a legal Iceberg "
        "promotion (int→long, float→double, or decimal(P,S)→decimal(P',S) "
        "with P' > P and the same scale)"
    )


def evolve_iceberg(
    table_uri: str,
    add_columns: dict[str, str] | None = None,
    rename_columns: dict[str, str] | None = None,
    drop_columns: list[str] | None = None,
    promote_columns: dict[str, str] | None = None,
    store=None,
) -> dict:
    """Metadata-only schema evolution: ADD COLUMN (a fresh field id past
    ``last-column-id``; existing data files simply lack the id and read as
    NULL) and RENAME COLUMN (id-preserving — old files keep resolving by
    ``parquet.field.id``, which is why the reader's evolution path works).

    ``promote_columns`` applies the spec's TYPE-WIDENING promotions —
    ``int→long``, ``float→double``, ``decimal(P,S)→decimal(P',S)`` with
    ``P' > P`` — id-preserving and metadata-only: the reader's declared
    schema carries the widened type and Spark's parquet reader (name and
    field-id resolution alike, verified empirically on this Spark) casts
    old files' narrower physical values up at scan time.  Promoting a
    partition SOURCE column is refused (manifest partition tuples and
    summary bounds were serialized with the narrow type; a conservative
    boundary, not a spec limit).

    Per the Iceberg spec, added columns must be optional (a required
    column without a default would make every existing row invalid), and
    a decimal can be added with an explicit ``decimal(p,s)`` string.  The
    commit appends a NEW schema object (next schema-id) and flips
    ``current-schema-id`` — no snapshot is created, so time travel to
    prior snapshots keeps their schema-id.  Renaming a partition SOURCE
    column is legal: spec fields bind by source-id and keep their own
    names (the writer's partition context re-resolves the current name).

    Returns {"schema_id", "metadata_version", "last_column_id"}."""
    add_columns = dict(add_columns or {})
    rename_columns = dict(rename_columns or {})
    drop_columns = list(drop_columns or [])
    promote_columns = dict(promote_columns or {})
    if not (add_columns or rename_columns or drop_columns or promote_columns):
        raise BuzzBadRequestError(
            "evolve_iceberg: nothing to do (no add/rename/drop/promote "
            "columns)"
        )
    if len(set(rename_columns.values())) != len(rename_columns):
        raise BuzzBadRequestError(
            "rename: two columns target the same new name — a committed "
            "schema with duplicate names would corrupt the table"
        )
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    sid = meta.get("current-schema-id", 0)
    schema_json = next(s for s in meta["schemas"] if s.get("schema-id") == sid)
    fields = [dict(f) for f in schema_json["fields"]]
    names = {f["name"] for f in fields}

    # names ever used by ANY schema version, keyed to their field id: a
    # data file may carry any historical name, and Spark's fieldId read
    # falls back to NAME matching for ids absent from a file — so reusing
    # a vacated name under a NEW id would make old files misread (verified
    # against Spark 4: requesting {w:id2, v:id3} over a file with column
    # v:id2 matches v by name and type-errors).  Typed refusal instead.
    historical: dict[str, set[int]] = {}
    for s in meta["schemas"]:
        for f in s.get("fields", []):
            historical.setdefault(f["name"], set()).add(int(f["id"]))
    cur_ids = {f["name"]: int(f["id"]) for f in fields}

    for old, new in rename_columns.items():
        if old not in names:
            raise BuzzBadRequestError(
                f"rename: column {old!r} not in the table schema"
            )
        target_names = (names - {old} - set(rename_columns)) | {
            n for n in rename_columns.values() if n != new
        }
        if new in target_names or new in add_columns:
            raise BuzzBadRequestError(
                f"rename: target name {new!r} collides with another column"
            )
        if new in historical and historical[new] != {cur_ids[old]}:
            raise BuzzBadRequestError(
                f"rename: target name {new!r} was used by a historical "
                "schema under a different field id — data files carrying "
                "it would misresolve under Spark's field-id read; pick a "
                "fresh name"
            )
    for name, t in add_columns.items():
        if name in names and name not in rename_columns:
            raise BuzzBadRequestError(
                f"add: column {name!r} already exists"
            )
        if name in historical:
            raise BuzzBadRequestError(
                f"add: column name {name!r} was used by a historical "
                "schema — reusing it under a new field id would make old "
                "data files misresolve under Spark's field-id read; pick "
                "a fresh name"
            )
        if not (t in _ADDABLE_TYPES or re.fullmatch(r"decimal\(\d+,\s*\d+\)", t)):
            raise BuzzBadRequestError(
                f"add: iceberg type {t!r} not supported "
                f"(one of {sorted(_ADDABLE_TYPES)} or decimal(p,s))"
            )

    spec_source_ids = {
        sf["source-id"]
        for spec in meta.get("partition-specs", [])
        for sf in spec.get("fields", [])
    }
    for name in drop_columns:
        if name not in names:
            raise BuzzBadRequestError(
                f"drop: column {name!r} not in the table schema"
            )
        if name in rename_columns or name in rename_columns.values() or (
            name in add_columns
        ):
            raise BuzzBadRequestError(
                f"drop: column {name!r} also named in add/rename — one "
                "operation per column per commit"
            )
        fid = next(f["id"] for f in fields if f["name"] == name)
        if fid in spec_source_ids:
            raise BuzzBadRequestError(
                f"drop: column {name!r} is a partition source field — "
                "Iceberg requires removing the partition field first"
            )
        if len(fields) - len(drop_columns) < 1:
            raise BuzzBadRequestError("drop: cannot drop every column")
    fields = [f for f in fields if f["name"] not in set(drop_columns)]

    by_cur_name = {f["name"]: f for f in fields}
    for name, newtype in promote_columns.items():
        if name not in by_cur_name:
            raise BuzzBadRequestError(
                f"promote: column {name!r} not in the table schema"
            )
        if (
            name in rename_columns
            or name in rename_columns.values()
            or name in add_columns
            or name in drop_columns
        ):
            raise BuzzBadRequestError(
                f"promote: column {name!r} also named in add/rename/drop — "
                "one operation per column per commit"
            )
        f = by_cur_name[name]
        cur = f["type"] if isinstance(f["type"], str) else None
        if cur is None:
            raise BuzzBadRequestError(
                f"promote: column {name!r} is a nested type — only "
                "primitive promotions are supported"
            )
        _check_promotion(cur, newtype, name)
        if int(f["id"]) in spec_source_ids:
            raise BuzzBadRequestError(
                f"promote: column {name!r} is a partition source field — "
                "manifest partition values were serialized with the "
                "narrow type; rewrite the table instead"
            )
        f["type"] = newtype

    for f in fields:
        if f["name"] in rename_columns:
            f["name"] = rename_columns[f["name"]]
    last_id = int(meta.get("last-column-id", max(f["id"] for f in fields)))
    for name, t in add_columns.items():
        last_id += 1
        # spec: added columns are optional — existing files have no value
        fields.append({"id": last_id, "name": name, "required": False, "type": t})

    new_sid = 1 + max(s.get("schema-id", 0) for s in meta["schemas"])
    new_schema = {"type": "struct", "schema-id": new_sid, "fields": fields}
    meta = dict(meta)
    meta["schemas"] = list(meta["schemas"]) + [new_schema]
    meta["current-schema-id"] = new_sid
    meta["last-column-id"] = last_id
    meta["last-updated-ms"] = int(time.time() * 1000)
    meta_dir = os.path.join(root, "metadata")
    new_version = _promote_metadata(meta_dir, version + 1, meta, store)
    return {
        "schema_id": new_sid,
        "metadata_version": new_version,
        "last_column_id": last_id,
    }


def evolve_iceberg_partition_spec(
    table_uri: str,
    partition_spec: list[str],
    store=None,
) -> dict:
    """Partition SPEC evolution (Iceberg's update-spec operation): commit a
    NEW default partition spec — ``partition_spec`` is the FULL desired
    spec in ``partition_by`` syntax (``col``, ``days(ts)``, ``hours(ts)``,
    ``truncate(W, col)``, ``bucket(N, col)``; empty list = unpartitioned).

    Metadata-only: no snapshot, no data movement — existing files stay
    under the spec they were written with (their manifests keep their
    ``partition_spec_id``), and subsequent writes fan out under the new
    spec.  This is the canonical 100 TB lifecycle event (day→hour
    repartitioning as a table grows); the reader decodes each manifest's
    partition tuples under its OWN spec and prunes evolved snapshots per
    spec (``IcebergCatalog.pruned_files``), so partition-filtered reads
    keep working across the boundary.

    Spec rules honored: a field with the same transform AND source column
    as a field in ANY earlier spec reuses that field's id and name (the
    spec's cross-spec identity requirement — readers rely on it to treat
    them as the same partition dimension); new fields take fresh ids past
    ``last-partition-id``.  If an existing spec already matches the
    request exactly, the commit just flips ``default-spec-id`` to it.

    Typed refusals: unknown/mistyped source columns (same validation as
    CREATE), duplicate transform+source entries, and a new field whose
    conventional name collides with a historical spec field of a
    DIFFERENT definition (prune names must stay unambiguous across the
    snapshot's specs).

    Returns {"spec_id", "metadata_version", "fields"}."""
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    sid = meta.get("current-schema-id", 0)
    schema_json = next(s for s in meta["schemas"] if s.get("schema-id") == sid)
    by_name = {f["name"]: f for f in schema_json["fields"]}

    entries = [_parse_partition_entry(e) for e in partition_spec]
    seen_defs = set()
    for kind, param, src in entries:
        if src not in by_name:
            raise BuzzBadRequestError(
                f"partition column {src!r} not in the table schema"
            )
        st = by_name[src]["type"]
        if not isinstance(st, str) or st not in _KIND_SOURCES.get(kind, ()):
            raise BuzzBadRequestError(
                f"partition transform {kind!r} does not accept source "
                f"column {src!r} of type {st!r} "
                f"(valid: {sorted(_KIND_SOURCES.get(kind, ()))})"
            )
        d = (_spec_transform_string(kind, param), by_name[src]["id"])
        if d in seen_defs:
            raise BuzzBadRequestError(
                f"duplicate partition entry "
                f"{_canonical_entry(kind, param, src)!r}"
            )
        seen_defs.add(d)

    prior_specs = list(meta.get("partition-specs") or [])
    # (transform string, source-id) → the historical field that defined it
    prior_by_def: dict[tuple, dict] = {}
    prior_names: dict[str, tuple] = {}
    for s in prior_specs:
        for f in s.get("fields") or []:
            d = (f.get("transform"), f.get("source-id"))
            prior_by_def.setdefault(d, f)
            prior_names.setdefault(f["name"], d)

    last_pid = int(meta.get("last-partition-id", 999))
    taken = set(by_name) | set(prior_names)
    new_fields: list[dict] = []
    for kind, param, src in entries:
        tstr = _spec_transform_string(kind, param)
        d = (tstr, by_name[src]["id"])
        reuse = prior_by_def.get(d)
        if reuse is not None:
            new_fields.append(
                {
                    "name": reuse["name"],
                    "transform": tstr,
                    "source-id": reuse["source-id"],
                    "field-id": reuse["field-id"],
                }
            )
            continue
        name = _spec_field_name(kind, param, src, taken)
        if prior_names.get(name, d) != d:
            raise BuzzBadRequestError(
                f"partition field name {name!r} was used by a historical "
                "spec under a different transform/source — the reader's "
                "prune columns must stay unambiguous; rename the column or "
                "drop the conflicting entry"
            )
        taken.add(name)
        last_pid += 1
        new_fields.append(
            {
                "name": name,
                "transform": tstr,
                "source-id": by_name[src]["id"],
                "field-id": last_pid,
            }
        )

    # an existing spec with the exact same ordered field list: reuse it
    for s in prior_specs:
        if (s.get("fields") or []) == new_fields:
            if int(s["spec-id"]) == int(meta.get("default-spec-id", 0)):
                raise BuzzBadRequestError(
                    "the requested partition spec is already the table's "
                    "default — nothing to do"
                )
            target_id = int(s["spec-id"])
            break
    else:
        target_id = (
            max((int(s["spec-id"]) for s in prior_specs), default=-1) + 1
        )
        prior_specs.append({"spec-id": target_id, "fields": new_fields})

    meta = dict(meta)
    meta["partition-specs"] = prior_specs
    meta["default-spec-id"] = target_id
    meta["last-partition-id"] = max(
        last_pid, int(meta.get("last-partition-id", 999))
    )
    meta["last-updated-ms"] = int(time.time() * 1000)
    new_version = _promote_metadata(
        os.path.join(root, "metadata"), version + 1, meta, store
    )
    return {
        "spec_id": target_id,
        "metadata_version": new_version,
        "fields": [dict(f) for f in new_fields],
    }


def _derive_partition_tuples(
    spark, paths: list[str], schema_json: dict, part_fields: list[dict]
) -> dict[str, dict]:
    """Each candidate file's partition tuple under the live spec, derived
    by ONE distributed job that reads ONLY the spec's source columns
    (parquet column pruning) and applies the spec transforms
    (:func:`_transform_column` — the writer's own bucket/truncate/days
    ordinals, so add_files tuples CANNOT diverge from written ones).  A
    file spanning more than one tuple refuses typed — registering it
    under a single tuple would corrupt partition pruning.  Returns
    {path: {group_col: stored_value}}, keyed as ``paths`` are; empty files
    are absent (the caller refuses them)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from .iceberg import _struct_field
    from .uris import scanned_files

    needed = {pf["source_name"] for pf in part_fields}
    sub = StructType(
        [
            _struct_field(f, with_ids=False)
            for f in schema_json["fields"]
            if f["name"] in needed
        ]
    )
    cols = []
    for i, pf in enumerate(part_fields):
        e = (
            F.col(pf["source_name"])
            if pf["kind"] == "identity"
            else _transform_column(pf)
        )
        cols.append(e.alias(f"__g{i}"))
    # the raw _metadata.file_path is a per-row column, exact even when one
    # task reads several files; each file's path maps back on the driver
    df = spark.read.schema(sub).parquet(*paths).select(
        F.col("_metadata.file_path").alias("__f"), *cols
    )
    tup = F.struct(*[f"__g{i}" for i in range(len(part_fields))])
    rows = (
        df.groupBy("__f")
        .agg(
            F.countDistinct(tup).alias("__n"),
            F.first(tup).alias("__t"),
        )
        .collect()
    )
    path_of = scanned_files(df, {p: p for p in paths})
    out: dict[str, dict] = {}
    for r in rows:
        ap = path_of[r["__f"]]
        if r["__n"] > 1:
            raise BuzzBadRequestError(
                f"file {ap!r} spans {r['__n']} partition tuples under the "
                "table's spec — add_files requires partition-pure files "
                "(one tuple per file)"
            )
        out[ap] = {
            pf["group_col"]: r["__t"][f"__g{i}"]
            for i, pf in enumerate(part_fields)
        }
    return out


def add_files_iceberg(
    spark,
    table_uri: str,
    paths: list[str],
    max_commit_retries: int = 5,
    store=None,
) -> dict | None:
    """Register EXISTING parquet files into an Iceberg table as ONE
    metadata-only append snapshot — the onboarding/migration move
    (Iceberg's ``add_files`` procedure shape): no data is copied or
    rewritten, the commit writes one manifest referencing the files by
    their absolute paths (the spec allows external locations).

    Every file's footer must match the table schema (the same strict
    name/type check the read path enforces — ``verify_file_schema``).
    On an identity-partitioned table each file's partition value derives
    from its footer column stats and the file must be PARTITION-PURE
    (min == max on every partition source column) — layout-independent
    and exact, no directory-name parsing; impure or stat-less files
    refuse typed.  NON-identity specs (bucket/truncate/days/... —
    round-11) derive each file's partition tuple executor-side instead:
    one small job reads only the spec's source columns and applies the
    writer's own transform ordinals (:func:`_derive_partition_tuples`),
    refusing files that span tuples.  Files already live in the table
    refuse typed (re-adding would duplicate rows).

    Files without parquet field ids (the common external-writer case)
    stay readable after future renames: when the table carries no
    ``schema.name-mapping.default`` property yet, one is committed
    ATOMICALLY with the snapshot (the spec's id-less-file resolution
    rule).  Column stats are not extracted (no zone-map bounds for the
    added files — a later ``rewrite_iceberg`` backfills them); partition
    summaries ARE recorded, so partition pruning works immediately.

    Cost: O(files) footer reads (driver loop — the per-file work is one
    KiB-scale GET) + one metadata commit; returns the commit summary or
    None for an empty path list."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from .iceberg import IcebergCatalog, _struct_field
    from .schema_check import _pyarrow_path, verify_file_schema
    from .uris import normalized_key
    from .zonemap import _footer_stats

    paths = sorted(dict.fromkeys(paths or []))
    if not paths:
        return None
    root = _local_table_dir(table_uri)
    existing = _load_v2_meta(root, table_uri)
    if existing is None:
        raise BuzzBadRequestError(
            f"not an iceberg table: {table_uri!r} — create it first "
            "(write_iceberg), then add_files into it"
        )
    version, meta = existing
    sid = meta.get("current-schema-id", 0)
    schema_json = next(
        s for s in meta["schemas"] if s.get("schema-id") == sid
    )
    spec_id = meta.get("default-spec-id", 0)
    spec_fields = next(
        s["fields"]
        for s in meta["partition-specs"]
        if s.get("spec-id") == spec_id
    )
    part_fields = _partition_context(schema_json, spec_fields)
    non_identity = [
        pf["name"] for pf in part_fields if pf["kind"] != "identity"
    ]
    by_name = {f["name"]: f for f in schema_json["fields"]}
    for pf in part_fields:
        if pf["kind"] != "identity":
            continue  # transform source types gated by _partition_context
        t = by_name[pf["source_name"]]["type"]
        if t not in ("int", "long", "string"):
            raise BuzzBadRequestError(
                "add_files_iceberg identity partition source column "
                f"{pf['source_name']!r} has type {t!r} — derived "
                "partition values support int/long/string"
            )
    declared = StructType(
        [_struct_field(f, with_ids=False) for f in schema_json["fields"]]
    )

    cat = IcebergCatalog("_addfiles", root)
    live = {normalized_key(f.key) for f in cat.pruned_files(spark, None)}
    aps = [os.path.abspath(p.removeprefix("file://")) for p in paths]
    # Non-identity specs (round-11): partition tuples come from ONE
    # distributed job applying the spec transforms over the candidate
    # files' SOURCE columns (footer stats cannot compute bucket/truncate/
    # days ordinals); identity-only specs keep the zero-data-read footer
    # derivation below.
    derived = (
        _derive_partition_tuples(spark, aps, schema_json, part_fields)
        if non_identity
        else None
    )
    staged: list[dict] = []
    any_idless = False
    for p, ap in zip(paths, aps):
        if normalized_key(ap) in live:
            raise BuzzBadRequestError(
                f"file {p!r} is already referenced by the current "
                "snapshot — re-adding it would duplicate rows"
            )
        verify_file_schema(declared, ap, "parquet")
        md = pq.read_metadata(_pyarrow_path(ap))
        sch = pq.read_schema(_pyarrow_path(ap))
        if not any(
            f.metadata and b"PARQUET:field_id" in f.metadata for f in sch
        ):
            any_idless = True
        partition: dict = {}
        if derived is not None:
            if ap not in derived:
                raise BuzzBadRequestError(
                    f"file {p!r} has no rows — cannot derive its "
                    "partition tuple; drop empty files before add_files"
                )
            partition = derived[ap]
        elif part_fields:
            bounds = _footer_stats(
                ap, [pf["source_name"] for pf in part_fields]
            )
            for pf in part_fields:
                c = pf["source_name"]
                b = bounds.get(c)
                if b is None or b[0] is None:
                    raise BuzzBadRequestError(
                        f"file {p!r} has no usable footer stats for "
                        f"partition column {c!r} — cannot derive its "
                        "partition value"
                    )
                lo, hi = b
                if isinstance(lo, bytes):
                    lo = lo.decode("utf-8", "replace")
                    hi = hi.decode("utf-8", "replace") if isinstance(
                        hi, bytes
                    ) else hi
                if lo != hi:
                    raise BuzzBadRequestError(
                        f"file {p!r} spans partition values "
                        f"[{lo!r}, {hi!r}] on {c!r} — add_files requires "
                        "partition-pure files (one value per file)"
                    )
                partition[c] = lo
        staged.append(
            {
                "file_path": ap,
                "record_count": int(md.num_rows),
                "file_size_in_bytes": int(os.path.getsize(ap)),
                "partition": partition,
            }
        )

    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    now_ms = int(time.time() * 1000)
    added_rows = sum(f["record_count"] for f in staged)
    counts = {
        "added-data-files": str(len(staged)),
        "added-records": str(added_rows),
    }
    set_mapping = (
        any_idless
        and not (meta.get("properties") or {}).get(
            "schema.name-mapping.default"
        )
    )
    mapping_json = json.dumps(
        [
            {"field-id": int(f["id"]), "names": [f["name"]]}
            for f in schema_json["fields"]
        ]
    )

    def _attempt(state):
        version_a, meta_a, prev_a = state
        if set_mapping:
            meta_a = dict(meta_a)
            props = dict(meta_a.get("properties") or {})
            props.setdefault("schema.name-mapping.default", mapping_json)
            meta_a["properties"] = props
        seq = int(meta_a.get("last-sequence-number", 0)) + 1
        snap_id = uuid.uuid4().int >> 65
        manifest_path = _write_manifest(
            meta_dir,
            _manifest_entries(staged, 0, None, part_fields, snap_id, None),
            part_fields,
            schema_json,
            spec_id,
            "data",
        )
        mlist_path = _write_manifest_list(
            meta_dir,
            snap_id,
            seq,
            [
                _manifest_rec(
                    manifest_path, spec_id, 0, seq, snap_id,
                    len(staged), added_rows,
                    _part_summaries(staged, part_fields),
                )
            ]
            + _carry_manifests(prev_a),
        )
        new_version = _finish_commit(
            root, version_a, meta_a, snap_id, seq, now_ms, mlist_path,
            schema_json.get("schema-id", 0), "append", counts,
            log_prior_metadata=True, store=store,
        )
        return {
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "metadata_version": new_version,
            "added_files": len(staged),
            "added_records": added_rows,
            "operation": "append",
        }

    def _refresh():
        version_f, meta_f = _load_v2_meta(root, table_uri)
        _require_same_write_basis(meta_f, schema_json, spec_id, spec_fields)
        cat_f = IcebergCatalog("_addfiles", root)
        live_f = {
            normalized_key(f.key) for f in cat_f.pruned_files(spark, None)
        }
        dup = [
            f["file_path"]
            for f in staged
            if normalized_key(f["file_path"]) in live_f
        ]
        if dup:
            raise BuzzCommitAbortedError(
                f"files {dup[:3]} were registered concurrently — "
                "re-adding would duplicate rows"
            )
        return (
            version_f,
            meta_f,
            _prev_manifests(meta_f, _branch_head(meta_f, None)),
        )

    return commit_with_retry(
        _attempt,
        _refresh,
        (version, meta, _prev_manifests(meta, _branch_head(meta, None))),
        max_commit_retries,
    )


def rollback_iceberg(
    table_uri: str, snapshot_id: int, store=None
) -> dict:
    """Set the table's CURRENT snapshot back to ``snapshot_id`` (Iceberg's
    rollback / set-current-snapshot maintenance op) — metadata-only: no
    file moves, every snapshot stays in the log (later ones become
    non-current history that :func:`expire_iceberg_snapshots` can clean),
    and ``main`` follows.  The target must be in the snapshot log; a typed
    error otherwise."""
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    snaps = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    if snapshot_id not in snaps:
        raise BuzzBadRequestError(
            f"rollback: snapshot {snapshot_id} not in table history "
            f"(have {sorted(snaps)})"
        )
    now_ms = int(time.time() * 1000)
    meta = dict(meta)
    meta["current-snapshot-id"] = snapshot_id
    refs = dict(meta.get("refs") or {})
    refs["main"] = {"snapshot-id": snapshot_id, "type": "branch"}
    meta["refs"] = refs
    meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
    ]
    meta["last-updated-ms"] = now_ms
    new_version = _promote_metadata(
        os.path.join(root, "metadata"), version + 1, meta, store
    )
    return {"metadata_version": new_version, "current_snapshot": snapshot_id}


def fast_forward_iceberg(
    table_uri: str, to_ref: str, store=None
) -> dict:
    """Publish a staged branch: fast-forward ``main`` to ``to_ref``'s head
    — the write-audit-publish PUBLISH step.  Metadata-only, and only a
    true fast-forward: the current ``main`` snapshot must be an ANCESTOR
    of the branch head (walking ``parent-snapshot-id``), else the typed
    refusal — a diverged main would silently lose its own commits if we
    force-moved it (use :func:`rollback_iceberg` deliberately for that).
    An empty main (no current snapshot) is trivially an ancestor.

    After the publish, ``current-snapshot-id``/``main`` point at the
    branch head and the snapshot-log records the change; the branch ref
    itself stays where it is (drop it with a future ref-removal op, or
    keep staging onto it — its next write parents on the published
    head)."""
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    r = (meta.get("refs") or {}).get(to_ref)
    if r is None:
        raise BuzzBadRequestError(
            f"fast-forward: ref {to_ref!r} not in table refs "
            f"(have {sorted(meta.get('refs') or {})})"
        )
    head = int(r["snapshot-id"])
    cur = meta.get("current-snapshot-id")
    cur = None if cur in (None, -1) else int(cur)
    if cur == head:
        raise BuzzBadRequestError(
            f"fast-forward: main is already at {to_ref!r}'s head ({head})"
        )
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if head not in snaps:
        raise BuzzExecutionError(
            f"fast-forward: ref {to_ref!r} points at snapshot {head}, "
            "which is not in the table metadata — corrupt refs"
        )
    if cur is not None:
        walk = head
        seen = set()
        while walk is not None and walk not in seen:
            if walk == cur:
                break
            seen.add(walk)
            walk = (snaps.get(walk) or {}).get("parent-snapshot-id")
        else:
            raise BuzzBadRequestError(
                f"fast-forward: main ({cur}) is not an ancestor of "
                f"{to_ref!r}'s head ({head}) — the branches diverged; "
                "rebuild the branch from current main, or rollback main "
                "deliberately"
            )
    now_ms = int(time.time() * 1000)
    meta = dict(meta)
    meta["current-snapshot-id"] = head
    refs = dict(meta.get("refs") or {})
    refs["main"] = {"snapshot-id": head, "type": "branch"}
    meta["refs"] = refs
    meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
        {"timestamp-ms": now_ms, "snapshot-id": head}
    ]
    meta["last-updated-ms"] = now_ms
    new_version = _promote_metadata(
        os.path.join(root, "metadata"), version + 1, meta, store
    )
    return {
        "metadata_version": new_version,
        "current_snapshot": head,
        "from_ref": to_ref,
    }


def cherry_pick_iceberg(
    table_uri: str,
    snapshot_id: int,
    max_commit_retries: int = 5,
    store=None,
) -> dict:
    """Publish ONE staged snapshot onto ``main`` even when main has
    advanced past its parent — Iceberg's cherry-pick (the other half of
    write-audit-publish next to :func:`fast_forward_iceberg`, which
    requires main to be an ancestor of the whole branch).

    Semantics follow Iceberg's ``cherrypickSnapshot`` contract:

    - when the picked snapshot's parent IS the current main head, the
      pick is a metadata-only fast-forward (main advances to the picked
      snapshot itself — any operation is safe, the lineage is already
      correct);
    - otherwise only ``append`` snapshots replay: the staged ADDED data
      manifests are re-committed as a NEW snapshot parented on the
      current head, entries rewritten under the new snapshot id at the
      new sequence number so changelogs attribute the rows to the
      publish commit and later equality deletes scope correctly.
      Deletes/overwrites staged past a moved main are refused typed
      (their delete files would apply to rows at stale sequence numbers
      — the same reason Iceberg restricts cherry-pick to appends and
      validated dynamic overwrites);
    - publishing the same snapshot twice is refused: the walk of main's
      ancestry checks both snapshot ids and each ancestor's recorded
      ``source-snapshot-id`` summary marker.

    The replayed snapshot records ``source-snapshot-id`` (and
    ``published-wap-id`` when the staged snapshot carried a ``wap.id``)
    in its summary, Iceberg's audit trail for WAP publishes.  Driver
    cost is O(staged files) manifest metadata — never a data-file
    rewrite; the commit loop retries metadata-only like every other
    write op, re-validating against the advanced main each time."""
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    meta_dir = os.path.join(root, "metadata")
    picked_id = int(snapshot_id)
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    picked = snaps.get(picked_id)
    if picked is None:
        raise BuzzBadRequestError(
            f"cherry-pick: snapshot {picked_id} not in table history "
            f"(have {sorted(snaps)})"
        )
    op = str((picked.get("summary") or {}).get("operation") or "")
    picked_parent = picked.get("parent-snapshot-id")
    picked_parent = None if picked_parent is None else int(picked_parent)

    # Decode the staged ADDED manifests ONCE (O(staged files), driver-side
    # metadata work) — only needed for the replay path, but cheap enough
    # to do eagerly for appends.
    picked_manifests: list[tuple[dict, list[dict]]] = []
    if op == "append":
        with open(picked["manifest-list"], "rb") as fh:
            _, plist = decode_avro_file(fh.read())
        for m in plist:
            if int(m.get("added_snapshot_id") or -1) != picked_id:
                continue
            if int(m.get("content") or 0) != 0:
                raise BuzzBadRequestError(
                    "cherry-pick: staged append carries a delete manifest "
                    "— not replayable; re-run the operation on main"
                )
            with open(
                m["manifest_path"].removeprefix("file:"), "rb"
            ) as fh:
                _, entries = decode_avro_file(fh.read())
            recs = [
                {k: e["data_file"].get(k) for k in _CARRY_DF_KEYS}
                for e in entries
                if int(e.get("status") or 0) == 1
                and int(e.get("snapshot_id") or picked_id) == picked_id
            ]
            if recs:
                picked_manifests.append((m, recs))

    now_ms = int(time.time() * 1000)

    def _check_and_head(meta_a: dict) -> int | None:
        """Duplicate-publish walk over main's CURRENT ancestry; returns
        the head snapshot id (None = empty main)."""
        cur = meta_a.get("current-snapshot-id")
        cur = None if cur in (None, -1) else int(cur)
        snaps_a = {
            int(s["snapshot-id"]): s for s in meta_a.get("snapshots", [])
        }
        if picked_id not in snaps_a:
            raise BuzzCommitAbortedError(
                f"cherry-pick: snapshot {picked_id} was expired "
                "concurrently — nothing to publish"
            )
        walk, seen = cur, set()
        while walk is not None and walk not in seen:
            s = snaps_a.get(walk)
            if s is None:
                break
            if walk == picked_id or str(
                (s.get("summary") or {}).get("source-snapshot-id") or ""
            ) == str(picked_id):
                raise BuzzBadRequestError(
                    f"cherry-pick: snapshot {picked_id} is already "
                    "published on main"
                )
            seen.add(walk)
            w = s.get("parent-snapshot-id")
            walk = None if w is None else int(w)
        return cur

    def _attempt(state):
        version_a, meta_a = state
        cur = _check_and_head(meta_a)
        if picked_parent == cur:
            # lineage already correct: fast-forward main to the picked
            # snapshot itself (any operation is safe here)
            meta_n = dict(meta_a)
            meta_n["current-snapshot-id"] = picked_id
            refs = dict(meta_n.get("refs") or {})
            refs["main"] = {"snapshot-id": picked_id, "type": "branch"}
            meta_n["refs"] = refs
            meta_n["snapshot-log"] = list(
                meta_n.get("snapshot-log", [])
            ) + [{"timestamp-ms": now_ms, "snapshot-id": picked_id}]
            meta_n["last-updated-ms"] = now_ms
            new_version = _promote_metadata(
                meta_dir, version_a + 1, meta_n, store
            )
            return {
                "snapshot_id": picked_id,
                "metadata_version": new_version,
                "published": "fast-forward",
                "source_snapshot_id": picked_id,
            }
        if op != "append":
            raise BuzzBadRequestError(
                f"cherry-pick: snapshot {picked_id} is a {op!r} and main "
                "has advanced past its parent — only appends replay onto "
                "a moved main (staged deletes/overwrites would apply at "
                "stale sequence numbers); re-run the operation on main"
            )
        seq = int(meta_a.get("last-sequence-number", 0)) + 1
        snap_id = uuid.uuid4().int >> 65
        sid = meta_a.get("current-schema-id", 0)
        schema_json = next(
            s for s in meta_a["schemas"] if s.get("schema-id") == sid
        )
        specs_a = {
            int(s["spec-id"]): s.get("fields") or []
            for s in meta_a.get("partition-specs", [])
        }
        new_recs = []
        for m, recs in picked_manifests:
            mspec = int(m.get("partition_spec_id") or 0)
            if mspec not in specs_a:
                raise BuzzCommitAbortedError(
                    f"cherry-pick: staged manifest's partition spec "
                    f"{mspec} is gone from the table metadata"
                )
            part_fields = _partition_context(schema_json, specs_a[mspec])
            new_entries = [
                {
                    "status": 1,  # ADDED under the PUBLISH snapshot
                    "snapshot_id": snap_id,
                    "sequence_number": None,  # inherit the new seq
                    "file_sequence_number": None,
                    "data_file": rec,
                }
                for rec in recs
            ]
            new_path = _write_manifest(
                meta_dir, new_entries, part_fields, schema_json, mspec,
                "data",
            )
            new_recs.append(
                _manifest_rec(
                    new_path, mspec, 0, seq, snap_id, len(recs),
                    sum(int(r.get("record_count") or 0) for r in recs),
                    m.get("partitions"),
                )
            )
        counts = {
            "added-data-files": str(
                sum(len(recs) for _, recs in picked_manifests)
            ),
            "added-records": str(
                sum(
                    int(r.get("record_count") or 0)
                    for _, recs in picked_manifests
                    for r in recs
                )
            ),
            "source-snapshot-id": str(picked_id),
        }
        wap = (picked.get("summary") or {}).get("wap.id")
        if wap:
            counts["published-wap-id"] = str(wap)
        mlist_path = _write_manifest_list(
            meta_dir,
            snap_id,
            seq,
            new_recs + _carry_manifests(_prev_manifests(meta_a)),
        )
        new_version = _finish_commit(
            root,
            version_a,
            meta_a,
            snap_id,
            seq,
            now_ms,
            mlist_path,
            schema_json.get("schema-id", 0),
            "append",
            counts,
            log_prior_metadata=True,
            store=store,
        )
        return {
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "metadata_version": new_version,
            "published": "replay",
            "source_snapshot_id": picked_id,
        }

    def _refresh():
        version_f, meta_f = _load_v2_meta(root, table_uri)
        _check_and_head(meta_f)
        return (version_f, meta_f)

    return commit_with_retry(
        _attempt, _refresh, (version, meta), max_commit_retries
    )


def tag_iceberg(
    table_uri: str,
    name: str,
    snapshot_id: int | None = None,
    ref_type: str = "tag",
    store=None,
) -> dict:
    """Create/replace a named REF (spec ``refs`` map): ``ref_type='tag'``
    pins a snapshot forever (audit points), ``'branch'`` names a movable
    head.  Defaults to the current snapshot.  Readable via
    ``IcebergCatalog(..., ref=name)``.  ``main`` is managed by commits and
    :func:`rollback_iceberg` — refusing to overwrite it here keeps the
    branch the writers advance consistent."""
    if ref_type not in ("tag", "branch"):
        raise BuzzBadRequestError(
            f"ref_type must be tag|branch, got {ref_type!r}"
        )
    if name == "main":
        raise BuzzBadRequestError(
            "the 'main' ref is managed by commits/rollback — pick another "
            "name"
        )
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    sid = snapshot_id
    if sid is None:
        sid = meta.get("current-snapshot-id")
        if sid in (None, -1):
            raise BuzzBadRequestError(
                "tag: the table has no current snapshot and no snapshot_id "
                "was given"
            )
    snaps = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    if sid not in snaps:
        raise BuzzBadRequestError(
            f"tag: snapshot {sid} not in table history (have {sorted(snaps)})"
        )
    meta = dict(meta)
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": int(sid), "type": ref_type}
    meta["refs"] = refs
    meta["last-updated-ms"] = int(time.time() * 1000)
    new_version = _promote_metadata(
        os.path.join(root, "metadata"), version + 1, meta, store
    )
    return {"metadata_version": new_version, "ref": name, "snapshot_id": int(sid)}


def drop_iceberg_ref(table_uri: str, name: str, store=None) -> dict:
    """Remove a named ref (tag or branch) from the table metadata — the
    cleanup half of :func:`tag_iceberg` / branch staging: after a
    fast-forward publish, dropping the branch releases the snapshots its
    ancestor chain pinned through expiry.  ``main`` is refused (commits
    manage it); unknown refs are a typed error (silence would mask
    typos)."""
    if name == "main":
        raise BuzzBadRequestError(
            "the 'main' ref is managed by commits/rollback — it cannot be "
            "dropped"
        )
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise BuzzBadRequestError(
            f"ref {name!r} not in table refs (have {sorted(refs)})"
        )
    dropped = refs.pop(name)
    meta = dict(meta)
    meta["refs"] = refs
    meta["last-updated-ms"] = int(time.time() * 1000)
    new_version = _promote_metadata(
        os.path.join(root, "metadata"), version + 1, meta, store
    )
    return {
        "metadata_version": new_version,
        "ref": name,
        "was_snapshot_id": int(dropped.get("snapshot-id", -1)),
    }


def set_iceberg_properties(
    table_uri: str,
    set_props: dict[str, str] | None = None,
    unset: list[str] | None = None,
    expect_props: dict[str, str] | None = None,
    store=None,
) -> dict:
    """Metadata-only table-property commit (Iceberg's set/unset properties
    update) — how retention (`write.metadata.delete-after-commit.enabled`),
    `schema.name-mapping.default`, and friends get enabled on an EXISTING
    table (previously only settable at create).  Keys under ``buzz.txn.``
    are refused: they are the exactly-once replay markers expiry persists,
    and overwriting one would let a replayed micro-batch double-commit.

    ``expect_props`` validates a read-compute-commit basis: each listed
    property must still hold the given value or the commit raises the
    non-retryable abort.  Validation happens against the same metadata
    version the conditional put claims against, so a commit landing in
    between fails the version claim rather than slipping past the check."""
    set_props = dict(set_props or {})
    unset = list(unset or [])
    if not set_props and not unset:
        raise BuzzBadRequestError("set_iceberg_properties: nothing to do")
    guarded = [
        k for k in list(set_props) + unset if k.startswith("buzz.txn.")
    ]
    if guarded:
        raise BuzzBadRequestError(
            f"properties {guarded} are exactly-once transaction markers "
            "managed by snapshot expiry — refusing to overwrite them"
        )
    root = _local_table_dir(table_uri)
    version, meta = _load_v2_meta(root, table_uri)
    _require_expected_properties(meta, expect_props)
    props = dict(meta.get("properties") or {})
    props.update({str(k): str(v) for k, v in set_props.items()})
    for k in unset:
        props.pop(k, None)
    meta = dict(meta)
    meta["properties"] = props
    meta["last-updated-ms"] = int(time.time() * 1000)
    new_version = _promote_metadata(
        os.path.join(root, "metadata"), version + 1, meta, store
    )
    return {"metadata_version": new_version, "properties": props}
