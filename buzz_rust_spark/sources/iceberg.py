"""Read-only Apache Iceberg table source (format v1/v2).

Iceberg is the other open table format a user pointing this engine at a
lakehouse will hold — the same role :class:`~buzz_rust_spark.sources.
delta_catalog.DeltaCatalog` plays for Delta, built the same way: parse the
table's own metadata (no external runtime), resolve the current snapshot's
file list, and delegate the scan to :class:`~buzz_rust_spark.sources.
static_catalog.StaticCatalog` so schema verification, empty-prune
semantics, and the engine integration are shared, not re-implemented.

The metadata chain is walked with in-repo codecs only:

- ``metadata/`` JSON (``version-hint.text`` → ``v<N>.metadata.json``, else
  the newest ``*.metadata.json``): format-version gate (1/2 accepted, >2 a
  typed refusal), current schema (Iceberg JSON types → Spark types),
  default partition spec, snapshot list (``snapshot_id=`` gives time
  travel).
- The snapshot's **manifest list** is decoded at catalog construction (one
  small Avro file); the **manifests** themselves are decoded lazily at
  scan-planning time — sequentially on the driver for small tables, via a
  distributed ``binaryFile`` + ``mapInPandas`` job above
  ``DRIVER_PLAN_MAX_MANIFESTS`` manifests (a 100 TB table has thousands of
  manifests with millions of entries; decoding them one-by-one on the
  driver would stall planning).  Both paths use ``sources/avro.py``.
- **Manifest skipping**: when the ``partition_filter`` parses as a
  conjunction of simple comparisons, the manifest-list ``partitions``
  field summaries (per-field lower/upper bounds) prove some manifests
  disjoint from the filter — those are never opened.  Anything the
  conservative parser cannot prove keeps the manifest (sound fallback).
- **Partition pruning** happens at the manifest-entry level: partition
  values recorded per data file become ``CatalogFile`` partition tuples,
  pruned by the same ``partition_filter`` strings the static/Delta
  catalogs take.  A snapshot whose partition spec was EVOLVED
  (``iceberg_writer.evolve_iceberg_partition_spec`` — e.g. day→hour
  repartitioning) decodes each manifest's tuples/summaries under the
  manifest's OWN spec; columns another spec defines are DERIVED where a
  monotone map exists (an identity value provides any transform of it;
  a finer time field provides the coarser ones, hour→day→month→year),
  and files whose spec cannot answer a filter term are kept
  conservatively (pruning returns a superset; compose a row filter —
  exactly Iceberg's own pruning contract).
  Identity transforms prune on the SOURCE column name;
  the range-invertible transforms ``year``/``month``/``day``/``hour``/
  ``truncate[W]`` prune on the PARTITION FIELD name (e.g. ``ts_day``)
  with human-comparable string values (ISO date for ``day``, ``YYYY-MM``
  for ``month``, ``YYYY`` for ``year``, ``YYYY-MM-DD HH`` for ``hour``,
  the truncated value for ``truncate``) — fixed-width forms whose
  lexicographic order equals chronological order, matching the engine's
  string-partition filter semantics.  Only ``bucket[N]``/``void`` stay
  unprunable; a filter against a table with NO prunable partition field
  is a typed BuzzPlanError (filterless reads work).  Unlike Delta/Hive
  layouts, Iceberg data files CONTAIN their (identity) partition columns,
  so the scan attaches nothing: pruning uses a partition-aware helper
  catalog, scanning a partition-free one.
- **Schema evolution**: Iceberg resolves columns by FIELD ID, not name.
  When the schema history shows a rename (any historical schema maps a
  current field id to a different name), the scan schema carries
  ``parquet.field.id`` metadata and the read runs with
  ``spark.sql.parquet.fieldId.read.enabled`` so data files written before
  the rename (whose parquet columns still bear the old name) resolve
  correctly instead of silently null-filling.  Un-evolved tables keep the
  plain name-based read (provably equivalent there), so id-less parquet
  files written by non-Iceberg writers stay readable.  Detection needs
  the schema history: a v1 table whose writer rewrote ``schema`` in place
  (spec-violating) is undetectable — documented limit.
- **v2 row-level deletes**: POSITION delete files (delete-manifest
  entries with ``content=1``) are applied as one distributed anti-join of
  ``(_metadata.file_path, _metadata.row_index)`` against the delete
  parquet's ``(file_path, pos)`` rows — the same machinery as the Delta
  deletion-vector scan (``delta_catalog.py::_dv_scan``), with the delete
  relation read distributed (delete files can be large) and broadcast
  when the manifests say the total delete bytes are small.  Sequence
  numbers are NOT consulted for position deletes: Iceberg data-file paths
  are unique per file (never rewritten in place), so a position delete
  either targets a file in this snapshot (applies) or a file compacted
  away (drops out of the path-mapping join) — path identity subsumes the
  sequence-number check there.  EQUALITY delete files (``content=2``,
  the Flink-upsert shape) apply as NULL-SAFE anti-joins on the
  ``equality_ids`` key columns, scoped by the spec's strict
  sequence-number rule: a delete hits only data files whose data
  sequence number is strictly smaller, so a re-insert of the same key in
  a later commit survives.  Per-file sequence numbers ride a broadcast
  path→seq map; v1 metadata (no sequence numbers) degrades to seq 0
  everywhere, keeping every delete applicable.

Honest refusals (same posture as the Delta reader's protocol gates):
delete files without ``equality_ids``, data/delete files in formats
other than parquet/ORC (delete files: parquet only), position deletes
over ORC files (no ``_metadata.row_index`` there), renamed-column
evolution over ORC files (field-id resolution is parquet-only; equality
deletes on renamed tables DO work — delete-file columns bind by field id,
with a name-history fallback for id-less external files), and
format-version 3+ raise typed errors instead of silently wrong rows.  Manifest-level
refusals surface at scan-planning time (first ``to_dataframe`` /
``pruned_files`` call), where real engines plan — not at catalog
construction.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..errors import (
    BuzzBadRequestError,
    BuzzExecutionError,
    BuzzPlanError,
    BuzzSchemaError,
)
from .avro import decode_avro_file
from .logstore import _SCHEME_RESOLVERS, LogStore
from .manifest import CatalogFile
from .static_catalog import StaticCatalog

_META = "metadata"


def _spark_uri(uri: str) -> str:
    """A manifest-recorded ABSOLUTE file path as Spark should read it:
    s3:// → s3a:// (stock Spark/Hadoop binds fs.s3a only — same
    normalization LogStore applies to table roots), registered test-seam
    schemes → their resolved local paths, file:// stripped."""
    if "://" not in uri:
        return uri
    scheme, rest = uri.split("://", 1)
    if scheme == "s3":
        return f"s3a://{rest}"
    if scheme == "file":
        return rest
    if scheme in _SCHEME_RESOLVERS:
        return _SCHEME_RESOLVERS[scheme](uri)
    return uri


def _partition_str(value, iceberg_type) -> str | None:
    """A manifest partition value (Avro PHYSICAL representation) as the
    SQL-comparable string the ``partition_filter`` surface uses: dates
    (days-since-epoch int) → ISO date, timestamps (micros) → ISO datetime,
    booleans → true/false, decimals (unscaled big-endian bytes) → scaled
    decimal string, uuid/fixed/binary → canonical uuid / hex — str() of the
    raw physical value would never match a user's filter."""
    if value is None:
        return None
    if iceberg_type == "date" and isinstance(value, int):
        import datetime

        return (
            datetime.date(1970, 1, 1) + datetime.timedelta(days=value)
        ).isoformat()
    if iceberg_type in ("timestamp", "timestamptz") and isinstance(value, int):
        import datetime

        return (
            datetime.datetime(1970, 1, 1)
            + datetime.timedelta(microseconds=value)
        ).isoformat(sep=" ")
    if iceberg_type == "boolean" or isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (bytes, bytearray)):
        if isinstance(iceberg_type, str) and iceberg_type.startswith("decimal("):
            import decimal

            scale = int(iceberg_type[len("decimal(") : -1].split(",")[1])
            unscaled = int.from_bytes(bytes(value), "big", signed=True)
            return str(decimal.Decimal(unscaled).scaleb(-scale))
        if iceberg_type == "uuid" and len(value) == 16:
            import uuid

            return str(uuid.UUID(bytes=bytes(value)))
        return bytes(value).hex()
    return str(value)


def _transform_kind(transform: str | None) -> str | None:
    """Normalize a partition-spec transform to its prunable kind, or None
    for transforms pruning cannot invert (void).  Accepts the spec's
    singular names and the plural variants some writers emit.  ``bucket``
    is prunable only for = / IN filters on the source column (the hash is
    not order-preserving) — see ``_rewrite_bucket_filter``."""
    if transform == "identity":
        return "identity"
    if transform in ("year", "years"):
        return "year"
    if transform in ("month", "months"):
        return "month"
    if transform in ("day", "days", "date"):
        return "day"
    if transform in ("hour", "hours", "date_hour"):
        return "hour"
    if isinstance(transform, str) and re.fullmatch(
        r"truncate\[\d+\]", transform
    ):
        return "truncate"
    if isinstance(transform, str) and re.fullmatch(r"bucket\[\d+\]", transform):
        return "bucket"
    return None


def _transform_str(kind: str, value, source_type) -> str | None:
    """A non-identity transform's partition value (int ordinal, or the
    truncated source value) as a fixed-width human-comparable string whose
    lexicographic order equals chronological order — the form filters
    compare against."""
    if value is None:
        return None
    import datetime

    if kind == "day":
        return (
            datetime.date(1970, 1, 1) + datetime.timedelta(days=int(value))
        ).isoformat()
    if kind == "year":
        return f"{1970 + int(value):04d}"
    if kind == "month":
        m = int(value)
        return f"{1970 + m // 12:04d}-{m % 12 + 1:02d}"
    if kind == "hour":
        dt = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            hours=int(value)
        )
        return dt.strftime("%Y-%m-%d %H")
    if kind == "bucket":
        # the recorded value is the bucket ORDINAL; filters against it are
        # always the rewritten bare-int form (numeric comparison domain)
        return str(int(value))
    # truncate[W]: the recorded value IS the truncated source value
    return _partition_str(value, source_type)


def _transform_param(transform: str | None) -> int | None:
    """The W/N parameter of a truncate[W]/bucket[N] transform string."""
    m = re.fullmatch(r"(?:truncate|bucket)\[(\d+)\]", transform or "")
    return int(m.group(1)) if m else None


# time-transform granularity: lower = finer.  A value at a finer level
# derives the coarser levels exactly (calendar floor), never the reverse.
_TIME_LEVEL = {"hour": 0, "day": 1, "month": 2, "year": 3}


def _coarsen_time(value: int, from_kind: str, to_kind: str) -> int:
    """A finer time-transform ordinal → the coarser transform's ordinal
    (calendar-exact; datetime arithmetic keeps pre-1970 ordinals right
    where naive integer division would be off by one)."""
    import datetime

    if from_kind == "hour":
        d = (
            datetime.datetime(1970, 1, 1)
            + datetime.timedelta(hours=int(value))
        ).date()
    elif from_kind == "day":
        d = datetime.date(1970, 1, 1) + datetime.timedelta(days=int(value))
    else:  # month
        m = int(value)
        d = datetime.date(1970 + m // 12, m % 12 + 1, 1)
    if to_kind == "day":
        return (d - datetime.date(1970, 1, 1)).days
    if to_kind == "month":
        return (d.year - 1970) * 12 + d.month - 1
    return d.year - 1970  # year


def _apply_transform(value, kind: str, param: int | None, source_type):
    """A SOURCE-typed physical partition value (identity storage: date =
    days-since-epoch int, timestamp = micros long, others native) → the
    given transform's stored physical value — the metadata-side mirror of
    the writer's ``_transform_column``, used to DERIVE one spec's
    partition value from another spec's identity value when a snapshot
    mixes partition specs.  None when underivable (caller keeps the file
    — conservative)."""
    if value is None:
        return None
    if kind == "identity":
        return value
    if kind in ("year", "month", "day", "hour"):
        if source_type == "date":
            if kind == "hour":
                return None  # hour of a date is undefined (writer refuses)
            days = int(value)
            return days if kind == "day" else _coarsen_time(days, "day", kind)
        if source_type in ("timestamp", "timestamptz"):
            hours = int(value) // 3_600_000_000  # floor: negatives exact
            return (
                hours if kind == "hour" else _coarsen_time(hours, "hour", kind)
            )
        return None
    if kind == "truncate":
        if source_type == "string":
            return str(value)[: int(param)]
        if source_type in ("int", "long"):
            v = int(value)
            return v - (v % int(param))
        return None
    if kind == "bucket":
        if source_type in ("int", "long", "date", "timestamp", "timestamptz"):
            data = int(value).to_bytes(8, "little", signed=True)
        elif source_type == "string":
            data = str(value).encode("utf-8")
        else:
            return None
        return (_murmur3_32(data) & 0x7FFFFFFF) % int(param)
    return None


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit (Austin Appleby's public-domain algorithm) —
    the hash the Iceberg spec (Appendix B) mandates for bucket transforms.
    Returns the SIGNED 32-bit value, matching the spec's test vectors."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n - n % 4 :]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - 0x100000000 if h >= 0x80000000 else h


def _bucket_ordinal(literal: str, quoted: bool, source_type, n: int) -> int:
    """bucket[n] ordinal of a filter literal, per the spec: murmur3-32 of
    the value's single-value hash serialization, ``(hash & MAX_INT) % n``.
    int/long/date/timestamp all hash AS LONGS (little-endian 8 bytes) so
    buckets survive type promotion; strings hash their UTF-8 bytes.
    Raises BuzzPlanError for source types outside the supported set."""
    import datetime

    if source_type in ("int", "long"):
        v = int(literal)
        data = v.to_bytes(8, "little", signed=True)
    elif source_type == "date":
        d = datetime.date.fromisoformat(literal)
        days = (d - datetime.date(1970, 1, 1)).days
        data = days.to_bytes(8, "little", signed=True)
    elif source_type in ("timestamp", "timestamptz"):
        try:
            dt = datetime.datetime.fromisoformat(literal)
        except ValueError as exc:
            raise BuzzPlanError(
                f"unparseable timestamp literal {literal!r} for bucket "
                "pruning"
            ) from exc
        if dt.tzinfo is not None:
            # normalize offset literals to the stored UTC instant
            dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        # integer division — float total_seconds() loses microseconds past
        # ~2^53 µs and would hash into the WRONG bucket (silent misses)
        micros = (dt - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
            microseconds=1
        )
        data = micros.to_bytes(8, "little", signed=True)
    elif source_type == "string":
        if not quoted:
            raise BuzzPlanError(
                f"bucket pruning on a string column needs a quoted "
                f"literal, got bare {literal!r}"
            )
        data = literal.encode("utf-8")
    else:
        raise BuzzPlanError(
            f"bucket pruning is not supported for source type "
            f"{source_type!r} (int/long/date/timestamp/string only)"
        )
    return (_murmur3_32(data) & 0x7FFFFFFF) % n


def _decode_bound(raw, iceberg_type):
    """Iceberg single-value binary serialization → python value, or None
    when the type is outside the skipping subset (sound: an undecodable
    bound just means the manifest is opened)."""
    if raw is None:
        return None
    raw = bytes(raw)
    if iceberg_type in ("int", "date") and len(raw) == 4:
        return int.from_bytes(raw, "little", signed=True)
    if iceberg_type in ("long", "timestamp", "timestamptz") and len(raw) == 8:
        return int.from_bytes(raw, "little", signed=True)
    if iceberg_type == "string":
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if iceberg_type == "boolean" and len(raw) == 1:
        return raw != b"\x00"
    if iceberg_type == "float" and len(raw) == 4:
        import struct

        return struct.unpack("<f", raw)[0]
    if iceberg_type == "double" and len(raw) == 8:
        import struct

        return struct.unpack("<d", raw)[0]
    return None


# conservative partition_filter parser for manifest skipping: a conjunction
# of `col op 'literal'` / `col IN ('a', 'b')` terms (optionally
# table-qualified / backtick-quoted).  ANY unparseable piece disables
# skipping for the whole filter — the full Spark-SQL evaluation at the
# file level stays authoritative either way.
_CMP_RE = re.compile(
    r"\s*(?:[`\w]+\s*\.\s*)?`?(\w+)`?\s*(<=|>=|==|=|<|>)\s*"
    r"(?:'([^']*)'|(-?\d+(?:\.\d+)?))\s*",
)
_IN_RE = re.compile(
    r"\s*(?:[`\w]+\s*\.\s*)?`?(\w+)`?\s+in\s*\(([^()]*)\)\s*",
    re.IGNORECASE,
)
_IN_ITEM_RE = re.compile(r"\s*(?:'([^']*)'|(-?\d+(?:\.\d+)?))\s*$")


def _split_conjunction(filter_sql: str) -> list[str] | None:
    """Split on top-level ANDs outside single quotes; None when the filter
    contains OR/NOT/parens outside an IN list (too clever to skip on)."""
    parts: list[str] = []
    buf: list[str] = []
    in_quote = False
    depth = 0
    i = 0
    up = filter_sql.upper()
    while i < len(filter_sql):
        ch = filter_sql[i]
        if ch == "'":
            in_quote = not in_quote
        elif not in_quote:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    return None
            elif (
                depth == 0
                and up.startswith("AND", i)
                and (i == 0 or not up[i - 1].isalnum())
                and (
                    i + 3 >= len(up) or not (up[i + 3].isalnum() or up[i + 3] == "_")
                )
            ):
                parts.append("".join(buf))
                buf = []
                i += 3
                continue
            elif depth == 0 and (
                (up.startswith("OR", i) and not (i and up[i - 1].isalnum())
                 and (i + 2 >= len(up) or not (up[i + 2].isalnum() or up[i + 2] == "_")))
            ):
                return None
        buf.append(ch)
        i += 1
    if in_quote or depth != 0:
        return None
    parts.append("".join(buf))
    return parts


def _parse_conjuncts(filter_sql: str):
    """``[(col, op, [(value, quoted)]), ...]`` or None when the filter is
    outside the simple-conjunction subset.  ``quoted`` distinguishes string
    literals from bare numerics — the two take DIFFERENT comparison domains
    at the file level (Spark coerces ``string_col > 9`` to a double
    comparison, ``string_col > '9'`` to a string one), so manifest skipping
    must mirror that split or it silently drops matching manifests."""
    parts = _split_conjunction(filter_sql)
    if parts is None:
        return None
    out = []
    for part in parts:
        m = _CMP_RE.fullmatch(part)
        if m:
            col, op, vq, vn = m.groups()
            lit = (vq, True) if vq is not None else (vn, False)
            out.append((col, "=" if op == "==" else op, [lit]))
            continue
        m = _IN_RE.fullmatch(part)
        if m:
            col, items = m.groups()
            vals = []
            for item in items.split(","):
                im = _IN_ITEM_RE.fullmatch(item)
                if not im:
                    return None
                vq, vn = im.groups()
                vals.append((vq, True) if vq is not None else (vn, False))
            out.append((col, "in", vals))
            continue
        return None
    return out


def _disjoint(op: str, vals: list, lo, hi) -> bool:
    """Is `col op vals` provably false for every value in [lo, hi]?
    Domain-agnostic: callers pass all-string (lexicographic, matching
    Spark's string-vs-string filter evaluation) or all-float (matching
    Spark's promote-strings-to-double coercion for bare-numeric literals);
    values and bounds must already live in the SAME domain."""
    if op == "=":
        return vals[0] < lo or vals[0] > hi
    if op == "in":
        return all(v < lo or v > hi for v in vals)
    if op == "<":
        return lo >= vals[0]
    if op == "<=":
        return lo > vals[0]
    if op == ">":
        return hi <= vals[0]
    if op == ">=":
        return hi < vals[0]
    return False


def _numeric_bounds(f: dict, lo_raw, hi_raw) -> tuple[float, float] | None:
    """(lo, hi) as floats for a partition field whose rendered-string values
    Spark would coerce to exactly these doubles under a bare-numeric filter
    literal, or None when no such numeric domain exists (skipping disabled
    for the term; the file-level Spark-SQL prune stays authoritative).

    Qualifying domains: identity over int/long (bounds are true value-order
    min/max; int→double is monotone), the year transform (rendered
    ``f"{1970+v:04d}"`` parses back to 1970+v), and truncate over int/long
    (rendered str(v) parses back to v).  Everything else — string identity
    (bounds are STRING-order min/max), date/timestamp identity and
    month/day/hour transforms (rendered forms don't parse as doubles, so
    the file filter nulls every row anyway) — returns None."""
    kind, st = f["kind"], f["source_type"]
    if kind == "identity" and st in ("int", "long"):
        return float(lo_raw), float(hi_raw)
    if kind == "year":
        return float(1970 + int(lo_raw)), float(1970 + int(hi_raw))
    if kind == "truncate" and st in ("int", "long"):
        return float(lo_raw), float(hi_raw)
    if kind == "bucket":
        # bounds are bucket ordinals (ints); filters on the internal
        # __bucket_* field are always rewritten bare-int equality/IN
        return float(lo_raw), float(hi_raw)
    return None


def _iceberg_type(t) -> object:
    """Iceberg JSON type → Spark type (the types parquet tables actually
    use; ``uuid`` surfaces as string, ``timestamptz`` as timestamp)."""
    if isinstance(t, str):
        if t.startswith("decimal("):
            p, s = t[len("decimal(") : -1].split(",")
            return DecimalType(int(p), int(s))
        if t.startswith("fixed["):
            return BinaryType()
        prim = {
            "boolean": BooleanType(),
            "int": IntegerType(),
            "long": LongType(),
            "float": FloatType(),
            "double": DoubleType(),
            "date": DateType(),
            "timestamp": TimestampType(),
            "timestamptz": TimestampType(),
            "string": StringType(),
            "uuid": StringType(),
            "binary": BinaryType(),
        }.get(t)
        if prim is None:
            raise BuzzSchemaError(f"unsupported iceberg type {t!r}")
        return prim
    kind = t.get("type")
    if kind == "struct":
        return StructType([_struct_field(f, with_ids=False) for f in t["fields"]])
    if kind == "list":
        return ArrayType(
            _iceberg_type(t["element"]), not t.get("element-required", False)
        )
    if kind == "map":
        return MapType(
            _iceberg_type(t["key"]),
            _iceberg_type(t["value"]),
            not t.get("value-required", False),
        )
    raise BuzzSchemaError(f"unsupported iceberg type {t!r}")


def _struct_field(f: dict, with_ids: bool) -> StructField:
    """Iceberg schema field → Spark StructField; ``with_ids`` attaches the
    ``parquet.field.id`` metadata Spark's fieldId read resolves by (struct
    fields only — Spark has no metadata slot for list/map element ids)."""
    dtype = _iceberg_type_with_ids(f["type"]) if with_ids else _iceberg_type(f["type"])
    meta = {"parquet.field.id": int(f["id"])} if with_ids and "id" in f else None
    return StructField(f["name"], dtype, not f.get("required", False), meta)


def _iceberg_type_with_ids(t) -> object:
    if isinstance(t, dict) and t.get("type") == "struct":
        return StructType([_struct_field(f, with_ids=True) for f in t["fields"]])
    return _iceberg_type(t)


class IcebergCatalog:
    """Read-only Iceberg v1/v2 table: snapshot resolution + manifest-level
    partition pruning + StaticCatalog-delegated scanning, with v2
    position-delete application and field-id schema-evolution reads."""

    # above this many manifests, decode them with a distributed
    # binaryFile+mapInPandas job instead of a sequential driver loop
    DRIVER_PLAN_MAX_MANIFESTS = 8
    # broadcast the delete relation when the manifests' recorded
    # file_size_in_bytes total stays under this (same posture as the Delta
    # DV broadcast cap: a small delete set must add zero shuffles)
    DELETE_BROADCAST_MAX_BYTES = 32 << 20

    def __init__(
        self,
        name: str,
        table_uri: str,
        snapshot_id: int | None = None,
        ref: str | None = None,
        region: str | None = None,
    ):
        self.name = name
        self._store = LogStore(table_uri, region=region)
        self.table_uri = self._store.table_uri
        if ref is not None and snapshot_id is not None:
            raise BuzzBadRequestError(
                "give snapshot_id or ref, not both"
            )
        self.ref = ref  # resolved to a snapshot id inside _load
        self.snapshot_id = snapshot_id
        # plan cache: partition_filter (or "") → (data CatalogFiles,
        # delete-file dicts, recorded path→catalog key pairs)
        self._plans: dict[str, tuple] = {}
        self._entries_cache: dict[str, list] = {}
        self._load()

    # --- metadata chain ------------------------------------------------------

    def _metadata_path(self) -> str:
        store = self._store
        if not store.isdir(_META):
            raise BuzzExecutionError(f"no metadata dir at {self.table_uri!r}")
        hint = f"{_META}/version-hint.text"
        if store.exists(hint):
            v = store.read_text(hint).strip()
            cand = f"{_META}/v{v}.metadata.json"
            if store.exists(cand):
                return cand
        names = [
            n for n in store.list_names(_META) if n.endswith(".metadata.json")
        ]
        if not names:
            raise BuzzExecutionError(
                f"no *.metadata.json under {self.table_uri!r}/{_META}"
            )

        # A pure Hadoop v<N> layout orders by the name's number alone — zero
        # content reads (content-based ordering on a long-history object
        # store table is O(history) remote GETs per catalog load).  Only a
        # listing that MIXES naming layouts (UUID catalog names, or both
        # after a migration) needs the metadata's own last-updated-ms;
        # numeric v<N> then name break ties — lexicographic alone would rank
        # v9 over v10+ (silent stale reads).
        def vnum(n: str) -> int | None:
            m = re.match(r"v(\d+)\.metadata\.json$", n)
            return int(m.group(1)) if m else None

        if all(vnum(n) is not None for n in names):
            return f"{_META}/{max(names, key=vnum)}"

        def order(n: str):
            try:
                ts = json.loads(store.read_text(f"{_META}/{n}")).get(
                    "last-updated-ms", -1
                ) or -1
            except (ValueError, OSError):
                ts = -1
            v = vnum(n)
            return (ts, v if v is not None else -1, n)

        return f"{_META}/{max(names, key=order)}"

    def _load(self) -> None:
        store = self._store
        meta = json.loads(store.read_text(self._metadata_path()))
        fv = int(meta.get("format-version", 1))
        if fv > 2:
            raise BuzzExecutionError(
                f"iceberg format-version {fv} not supported (reader "
                "implements v1/v2; refusing is the spec-correct failure)"
            )
        self.format_version = fv
        # raw table metadata (read-only): the metadata-tables surface
        # (sources.metadata_tables) renders snapshot-log / refs from it
        self._meta = meta

        # current schema: v2 = schemas[] + current-schema-id; v1 = schema
        if "schemas" in meta:
            sid = meta.get("current-schema-id", 0)
            candidates = [s for s in meta["schemas"] if s.get("schema-id") == sid]
            schema_json = candidates[0] if candidates else meta["schemas"][0]
        else:
            schema_json = meta["schema"]
        self.schema = StructType(
            [_struct_field(f, with_ids=False) for f in schema_json["fields"]]
        )
        field_names = {f["id"]: f["name"] for f in schema_json["fields"]}
        # id → current name: equality deletes key on field ids
        self._field_names = field_names
        # id → iceberg type string (primitives only): bound decoding
        self._field_types = {
            int(f["id"]): f["type"]
            for f in schema_json["fields"]
            if isinstance(f["type"], str)
        }
        self._properties = meta.get("properties") or {}
        # id → every name the field has EVER had (all schema versions):
        # id-less equality-delete files written before a rename resolve
        # their footer columns through this history
        self._historical_names: dict[int, set[str]] = {}
        for s in meta.get("schemas", []) or [schema_json]:
            for f in s.get("fields", []):
                self._historical_names.setdefault(int(f["id"]), set()).add(
                    f["name"]
                )

        # Schema evolution: any historical schema mapping a CURRENT field id
        # to a different name means data files exist (or may exist) whose
        # parquet columns bear the old name — a name-based scan would
        # silently null-fill them.  Those tables read by field id.  (Added /
        # dropped columns don't set this: name resolution is correct for
        # them.  A v1 writer that rewrote `schema` in place left no history
        # to detect — documented limit.)
        self._evolved = False
        for s in meta.get("schemas", []):
            for f in s.get("fields", []):
                if f["id"] in field_names and f["name"] != field_names[f["id"]]:
                    self._evolved = True
        self._scan_schema = (
            StructType(
                [_struct_field(f, with_ids=True) for f in schema_json["fields"]]
            )
            if self._evolved
            else self.schema
        )

        # Partition specs: identity + range-invertible transforms become
        # prunable columns.  EVERY spec is parsed (a table whose partition
        # layout was EVOLVED — day→hour repartitioning, the canonical
        # lifecycle event — carries data manifests under several specs;
        # each manifest's tuples/summaries decode under ITS OWN spec).
        field_types = {f["id"]: f["type"] for f in schema_json["fields"]}

        def _spec_context(spec_fields_json: list[dict]) -> list[dict]:
            out = []
            for f in spec_fields_json:
                kind = _transform_kind(f.get("transform"))
                source_name = field_names.get(f.get("source-id"))
                # identity prunes on the SOURCE column name (the column
                # exists in the data); range-invertible transforms prune on
                # the PARTITION FIELD name (ts_day etc. — no data column to
                # clash with); bucket prunes through an INTERNAL
                # `__bucket_<src>` field — user filters name the SOURCE
                # column and _rewrite_bucket_filter maps = / IN literals to
                # ordinals
                if kind == "identity" and source_name:
                    prune_name = source_name
                elif kind == "bucket" and source_name:
                    prune_name = f"__bucket_{source_name}"
                elif kind and kind != "identity":
                    prune_name = f["name"]
                else:
                    prune_name = None
                out.append(
                    {
                        "name": f["name"],
                        "kind": kind,
                        "prune_name": prune_name,
                        "source_name": source_name,
                        "source_id": f.get("source-id"),
                        "source_type": field_types.get(f.get("source-id")),
                        "transform": f.get("transform"),
                        "param": _transform_param(f.get("transform")),
                        "bucket_n": (
                            _transform_param(f.get("transform"))
                            if kind == "bucket"
                            else None
                        ),
                    }
                )
            return out

        specs = meta.get("partition-specs")
        if specs is not None:
            did = meta.get("default-spec-id", 0)
            self._default_spec_id = did
            self._specs = {
                int(s["spec-id"]): _spec_context(s.get("fields") or [])
                for s in specs
                if s.get("spec-id") is not None
            }
            if did not in self._specs:
                self._specs[did] = _spec_context(
                    specs[0]["fields"] if specs else []
                )
        else:
            self._default_spec_id = None
            self._specs = {None: _spec_context(meta.get("partition-spec", []))}
        self._spec_fields = self._specs[self._default_spec_id]

        # Cross-spec prune-name consistency: a prune column means ONE
        # (transform, source) everywhere it appears.  The spec mandates
        # same-transform-same-source fields reuse their field id across
        # specs, so honest writers always agree; a non-default spec whose
        # same-named field means something else is marked unprunable there
        # (conservative — its files are simply never skipped on that name).
        prune_defs: dict[str, tuple] = {}
        ordered_sids = [self._default_spec_id] + sorted(
            (s for s in self._specs if s != self._default_spec_id),
            key=lambda s: (s is None, s),
        )
        for sid_o in ordered_sids:
            for f in self._specs[sid_o]:
                if not f["prune_name"]:
                    continue
                d = (f.get("transform"), f.get("source_id"))
                if prune_defs.setdefault(f["prune_name"], d) != d:
                    f["prune_name"] = None
        self.partition_cols = []
        for sid_o in ordered_sids:
            for f in self._specs[sid_o]:
                if f["prune_name"] and f["prune_name"] not in self.partition_cols:
                    self.partition_cols.append(f["prune_name"])

        # Derivations: for each spec, which OTHER specs' prune columns its
        # files can still provide a value for — an identity field derives
        # ANY transform of the same source (apply the transform to the
        # stored value); a finer time field derives the coarser ones
        # (hour→day→month→year, calendar floor).  Underivable columns are
        # simply absent from that spec's file tuples; pruning then falls
        # back to per-spec conjunct evaluation (see pruned_files).
        by_prune: dict[str, dict] = {}
        for sid_o in ordered_sids:
            for f in self._specs[sid_o]:
                if f["prune_name"]:
                    by_prune.setdefault(f["prune_name"], f)
        self._derived: dict = {}
        for sid_o in ordered_sids:
            sfields = self._specs[sid_o]
            have = {f["prune_name"] for f in sfields if f["prune_name"]}
            der: dict[str, tuple] = {}
            for col, target in by_prune.items():
                if col in have:
                    continue
                prov = next(
                    (
                        f
                        for f in sfields
                        if f.get("source_id") == target.get("source_id")
                        and f.get("source_id") is not None
                    ),
                    None,
                )
                if prov is None:
                    continue
                t_kind, t_param = target["kind"], target["param"]
                if prov["kind"] == "identity":
                    der[col] = (prov["name"], t_kind, t_param, "identity")
                elif (
                    prov["kind"] in _TIME_LEVEL
                    and t_kind in _TIME_LEVEL
                    and _TIME_LEVEL[t_kind] > _TIME_LEVEL[prov["kind"]]
                ):
                    der[col] = (prov["name"], t_kind, t_param, prov["kind"])
            self._derived[sid_o] = der

        snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
        self._snapshots = meta.get("snapshots", [])
        if self.ref is not None:
            # named ref (tag/branch) → its pinned snapshot — the read side
            # of tag_iceberg/branch_iceberg (spec: metadata `refs` map)
            r = (meta.get("refs") or {}).get(self.ref)
            if r is None:
                raise BuzzBadRequestError(
                    f"ref {self.ref!r} not in table refs "
                    f"(have {sorted(meta.get('refs') or {})})"
                )
            self.snapshot_id = int(r["snapshot-id"])
        sid = (
            self.snapshot_id
            if self.snapshot_id is not None
            else meta.get("current-snapshot-id")
        )
        if self.snapshot_id is not None and self.snapshot_id not in snaps:
            # an EXPLICIT time-travel request for a missing snapshot is an
            # error even on an empty table — silence would mask typos
            raise BuzzBadRequestError(
                f"snapshot {sid} not in table metadata (have {sorted(snaps)})"
            )
        # the RESOLVED snapshot this catalog reads (pinned, ref, or the
        # table's current) — None on an empty table
        self.resolved_snapshot_id = (
            None if sid in (None, -1) or sid not in snaps else sid
        )
        if sid is None or sid == -1 or not snaps:
            self._manifests: list[dict] | None = None
            return
        if sid not in snaps:
            # corrupt/partially-committed metadata: current-snapshot-id
            # names a snapshot absent from the list
            raise BuzzExecutionError(
                f"current-snapshot-id {sid} missing from table metadata "
                f"(have {sorted(snaps)})"
            )
        snap = snaps[sid]
        if "manifest-list" in snap:
            _, self._manifests = decode_avro_file(
                self._read_meta_bytes(snap["manifest-list"])
            )
        elif "manifests" in snap:
            # legacy v1 form: manifest paths inline, no manifest-list file
            self._manifests = [
                {"manifest_path": p, "content": 0} for p in snap["manifests"]
            ]
        else:
            raise BuzzExecutionError(
                "iceberg snapshot has neither manifest-list nor manifests"
            )

    def _read_meta_bytes(self, uri: str) -> bytes:
        """Manifest-list/manifest bytes by recorded (absolute) URI.

        Hadoop-written tables record s3a:// URIs, which pyarrow's
        FileSystem.from_uri does not recognize — normalize to s3:// first
        (the same fs; region auto-resolves as in LogStore's s3 path).
        Registered test-seam schemes resolve inside read_bytes_uri."""
        if uri.startswith("s3a://"):
            uri = "s3://" + uri[len("s3a://"):]
        return self._store.read_bytes_uri(uri)

    # --- snapshot planning ---------------------------------------------------

    def _manifest_disjoint(self, m: dict, conjuncts) -> bool:
        """Can the manifest-list ``partitions`` field summaries prove this
        manifest holds NO file matching the filter?  Conservative: any
        missing/undecodable piece keeps the manifest.  Summaries decode
        under the MANIFEST'S OWN spec (an evolved table mixes specs); a
        filter column the spec lacks can still skip when the spec holds a
        FINER field on the same source (time coarsening / an identity
        value's transform — both monotone maps, so coarsened bounds stay
        true bounds)."""
        sid_m = m.get("partition_spec_id")
        sfields = self._specs.get(
            None if sid_m is None else int(sid_m),
            self._spec_fields if sid_m is None else None,
        )
        if sfields is None:
            return False  # summaries align with a spec we didn't parse
        sums = m.get("partitions")
        if not sums:
            return False
        by_name = {
            f["prune_name"]: (i, f)
            for i, f in enumerate(sfields)
            if f["prune_name"]
        }
        derived = self._derived.get(
            None if sid_m is None else int(sid_m), {}
        )
        by_field_name = {f["name"]: (i, f) for i, f in enumerate(sfields)}
        for col, op, vals in conjuncts:
            hit = by_name.get(col)
            coarsen = None  # (target kind, target param) for derived bounds
            if hit is None:
                d = derived.get(col)
                if d is None:
                    continue  # not derivable here; file-level prune decides
                prov_name, t_kind, t_param, prov_kind = d
                if t_kind not in _TIME_LEVEL:
                    # only TIME targets have monotone derivations a range
                    # summary survives (bucket is not order-preserving;
                    # truncate-from-identity is monotone but the quoted/
                    # numeric domain split below doesn't carry its types) —
                    # keep the manifest, the file-level prune decides
                    continue
                hit = by_field_name.get(prov_name)
                if hit is None:
                    continue
                coarsen = (t_kind, t_param, prov_kind)
            idx, f = hit
            if idx >= len(sums) or not isinstance(sums[idx], dict):
                continue
            # identity AND truncate store SOURCE-typed bounds (the writer's
            # store_type keeps the source type for both); year/month/day/
            # hour/bucket store int ordinals.  Decoding a truncate-string
            # bound as int would misread 4-byte strings as digit strings
            # and skip live manifests.
            bound_type = (
                f["source_type"]
                if f["kind"] in ("identity", "truncate")
                else "int"
            )
            lo_raw = _decode_bound(sums[idx].get("lower_bound"), bound_type)
            hi_raw = _decode_bound(sums[idx].get("upper_bound"), bound_type)
            if lo_raw is None or hi_raw is None:
                continue
            if coarsen is not None:
                # map the provider field's bounds into the TARGET transform's
                # ordinal domain (monotone, so [lo, hi] maps to true bounds),
                # then compare in the target's rendered-string form below
                t_kind, t_param, prov_kind = coarsen
                if prov_kind == "identity":
                    lo_raw = _apply_transform(
                        lo_raw, t_kind, t_param, f["source_type"]
                    )
                    hi_raw = _apply_transform(
                        hi_raw, t_kind, t_param, f["source_type"]
                    )
                else:
                    lo_raw = _coarsen_time(lo_raw, prov_kind, t_kind)
                    hi_raw = _coarsen_time(hi_raw, prov_kind, t_kind)
                if lo_raw is None or hi_raw is None:
                    continue
                quoted = {q for _, q in vals}
                if quoted != {True}:
                    continue  # numeric-domain derived compare: not supported
                lo = _transform_str(t_kind, lo_raw, f["source_type"])
                hi = _transform_str(t_kind, hi_raw, f["source_type"])
                if lo is None or hi is None:
                    continue
                if _disjoint(op, [v for v, _ in vals], lo, hi):
                    return True
                continue
            quoted = {q for _, q in vals}
            if quoted == {True}:
                # string literals: the file-level filter compares strings
                # lexicographically — use the same rendered-string domain
                if f["kind"] == "identity":
                    lo = _partition_str(lo_raw, f["source_type"])
                    hi = _partition_str(hi_raw, f["source_type"])
                else:
                    lo = _transform_str(f["kind"], lo_raw, f["source_type"])
                    hi = _transform_str(f["kind"], hi_raw, f["source_type"])
                if lo is None or hi is None:
                    continue
                if _disjoint(op, [v for v, _ in vals], lo, hi):
                    return True
            elif quoted == {False}:
                # bare-numeric literals: Spark promotes the string partition
                # column AND the literal to double, so only bound domains
                # that are genuinely numeric (and whose rendered string
                # parses back to the same double) may skip.  String-typed
                # identity bounds are min/max in STRING order — NOT numeric
                # bounds — so they never qualify (['10','9'] contains '20').
                num = _numeric_bounds(f, lo_raw, hi_raw)
                if num is None:
                    continue
                if _disjoint(op, [float(v) for v, _ in vals], *num):
                    return True
            # mixed quoted/bare IN list: coercion subtleties — never skip
        return False

    def _decode_entries(
        self, spark: SparkSession | None, manifests: list[dict]
    ) -> list[tuple[int, int, int | None, dict]]:
        """All (manifest_content, manifest_sequence_number,
        partition_spec_id, entry) tuples of the given manifests —
        sequential on the driver for small tables, one distributed
        binaryFile+mapInPandas job above DRIVER_PLAN_MAX_MANIFESTS.
        Driver-decoded manifests memoize per PATH: ``_plan`` and
        ``file_key_bounds`` on the same pinned snapshot must not pay the
        decode twice (manifest files are immutable, so path-keyed caching
        is always sound)."""
        todo = [
            m for m in manifests
            if m["manifest_path"] not in self._entries_cache
        ]
        if (
            spark is not None
            and len(todo) > self.DRIVER_PLAN_MAX_MANIFESTS
        ):
            # the distributed job is set-shaped; cache at set granularity
            # (subset calls after it fall through to the driver loop below,
            # which is only reached when the subset itself is small)
            return self._decode_entries_distributed(spark, manifests)
        for m in todo:
            _, entries = decode_avro_file(
                self._read_meta_bytes(m["manifest_path"])
            )
            self._entries_cache[m["manifest_path"]] = entries
        out: list[tuple[int, int, int | None, dict]] = []
        for m in manifests:
            content = int(m.get("content") or 0)
            mseq = int(m.get("sequence_number") or 0)
            spec_id = m.get("partition_spec_id")
            spec_id = None if spec_id is None else int(spec_id)
            out.extend(
                (content, mseq, spec_id, e)
                for e in self._entries_cache[m["manifest_path"]]
            )
        return out

    def _decode_entries_distributed(
        self, spark: SparkSession, manifests: list[dict]
    ) -> list[tuple[int, int, int | None, dict]]:
        from urllib.parse import unquote

        from .uris import normalized_key

        content_by_norm = {
            normalized_key(_spark_uri(m["manifest_path"])): (
                int(m.get("content") or 0),
                int(m.get("sequence_number") or 0),
                None
                if m.get("partition_spec_id") is None
                else int(m["partition_spec_id"]),
            )
            for m in manifests
        }
        paths = [_spark_uri(m["manifest_path"]) for m in manifests]
        bf = (
            spark.read.format("binaryFile")
            .load(paths)
            .select("path", "content")
        )

        def _decode(batches):
            import base64 as _b64
            import json as _json

            import pandas as _pd

            def _default(o):
                if isinstance(o, (bytes, bytearray)):
                    return {"__b64__": _b64.b64encode(bytes(o)).decode()}
                raise TypeError(type(o).__name__)

            for b in batches:
                mp, ej = [], []
                for path, blob in zip(b["path"], b["content"]):
                    _, ents = decode_avro_file(bytes(blob))
                    for e in ents:
                        mp.append(path)
                        ej.append(_json.dumps(e, default=_default))
                yield _pd.DataFrame({"mpath": mp, "entry": ej})

        rows = bf.mapInPandas(_decode, "mpath string, entry string").collect()

        import base64

        def _hook(d):
            if set(d) == {"__b64__"}:
                return base64.b64decode(d["__b64__"])
            return d

        out = []
        # deterministic plan order regardless of task completion order
        for r in sorted(rows, key=lambda r: (r["mpath"], r["entry"])):
            key = normalized_key(r["mpath"])
            meta = content_by_norm.get(key)
            if meta is None:
                meta = content_by_norm.get(unquote(key), (0, 0, None))
            content, mseq, spec_id = meta
            out.append(
                (
                    content,
                    mseq,
                    spec_id,
                    json.loads(r["entry"], object_hook=_hook),
                )
            )
        return out

    def _plan(
        self, spark: SparkSession | None, partition_filter: str | None
    ) -> dict:
        """Snapshot plan under ``partition_filter``-driven manifest
        skipping, cached per filter string: ``files`` (data CatalogFiles),
        ``deletes`` (position/equality delete-file dicts), ``pairs``
        (recorded path→catalog key), ``orc_keys``, and ``seq_by_key``
        (catalog key → data sequence number, for equality-delete
        scoping)."""
        cache_key = partition_filter or ""
        if cache_key in self._plans:
            return self._plans[cache_key]
        if self._manifests is None:
            plan = {
                "files": [], "deletes": [], "pairs": [],
                "orc_keys": set(), "seq_by_key": {}, "part_raw": {},
            }
            self._plans[cache_key] = plan
            return plan

        conjuncts = (
            _parse_conjuncts(partition_filter) if partition_filter else None
        )
        chosen = [
            m
            for m in self._manifests
            if not (conjuncts and self._manifest_disjoint(m, conjuncts))
        ]

        files: list[CatalogFile] = []
        deletes: list[dict] = []
        pairs: list[tuple[str, str]] = []
        orc_keys: set = set()
        seq_by_key: dict[str, int] = {}
        part_raw: dict[str, dict] = {}
        for mcontent, mseq, mspec, e in self._decode_entries(spark, chosen):
            if int(e.get("status") or 0) == 2:  # DELETED entry
                continue
            df_rec = e["data_file"]
            fcontent = int(df_rec.get("content") or 0)
            fmt = str(df_rec.get("file_format", "")).upper()
            # v2 sequence inheritance: an entry without its own data
            # sequence number takes the manifest's (ADDED entries at write
            # time); v1 metadata has neither → 0 everywhere, which keeps
            # every equality delete applicable (seq 0 < any delete's)
            eseq = e.get("sequence_number")
            seq = int(eseq) if eseq is not None else mseq
            if mcontent == 0:
                # data manifest: entries must be plain data files
                if fcontent != 0:
                    raise BuzzExecutionError(
                        "iceberg delete file recorded in a DATA manifest — "
                        "malformed metadata, refusing (reading it as data "
                        "would resurrect deleted rows)"
                    )
                if fmt and fmt not in ("PARQUET", "ORC"):
                    raise BuzzExecutionError(
                        f"iceberg data file format {fmt!r} not supported "
                        "(parquet and orc only)"
                    )
                part = df_rec.get("partition") or {}
                # tuples decode under the manifest's OWN spec; columns
                # another spec defines are DERIVED where the monotone maps
                # allow (identity→transform, finer→coarser time), else
                # absent — pruned_files then evaluates per availability
                # group, never silently null-excluding an evolved file
                sfields = self._specs.get(
                    mspec, self._spec_fields if mspec is None else None
                )
                if sfields is None:
                    sfields = []  # unknown spec: no prunable values
                parts_list = [
                    (
                        f["prune_name"],
                        _partition_str(part.get(f["name"]), f["source_type"])
                        if f["kind"] == "identity"
                        else _transform_str(
                            f["kind"], part.get(f["name"]), f["source_type"]
                        ),
                    )
                    for f in sfields
                    if f["prune_name"]
                ]
                for col, (prov_name, t_kind, t_param, prov_kind) in sorted(
                    (self._derived.get(mspec) or {}).items()
                ):
                    prov_f = next(
                        f for f in sfields if f["name"] == prov_name
                    )
                    raw = part.get(prov_name)
                    if prov_kind == "identity":
                        dv = _apply_transform(
                            raw, t_kind, t_param, prov_f["source_type"]
                        )
                    elif raw is None:
                        dv = None
                    else:
                        dv = _coarsen_time(raw, prov_kind, t_kind)
                    if raw is not None and dv is None:
                        continue  # underivable value: leave the column absent
                    rendered = (
                        _partition_str(dv, prov_f["source_type"])
                        if t_kind == "identity"
                        else _transform_str(
                            t_kind, dv, prov_f["source_type"]
                        )
                    )
                    parts_list.append((col, rendered))
                partitions = tuple(parts_list)
                key = _spark_uri(df_rec["file_path"])
                if fmt == "ORC":
                    orc_keys.add(key)
                files.append(
                    CatalogFile(
                        key=key,
                        length=int(df_rec.get("file_size_in_bytes") or 0),
                        partitions=partitions,
                    )
                )
                pairs.append((df_rec["file_path"], key))
                seq_by_key[key] = seq
                # raw (avro-decoded) partition record, for writers that
                # scope delete manifests to their matched files' partitions
                part_raw[df_rec["file_path"]] = dict(part)
            else:
                # delete manifest: 1 = position deletes, 2 = equality
                # deletes — both applied (equality scoped by sequence
                # number: it hits only data files committed strictly
                # before it)
                if fcontent not in (1, 2):
                    raise BuzzExecutionError(
                        "iceberg data file recorded in a DELETE manifest — "
                        "malformed metadata, refusing"
                    )
                if fmt and fmt != "PARQUET":
                    raise BuzzExecutionError(
                        f"iceberg delete file format {fmt!r} not "
                        "supported (parquet only)"
                    )
                eq_ids = df_rec.get("equality_ids")
                if fcontent == 2 and not eq_ids:
                    raise BuzzExecutionError(
                        "iceberg equality delete file lacks equality_ids — "
                        "without the key column list the predicate cannot "
                        "be applied; refusing instead of resurrecting "
                        "deleted rows"
                    )
                deletes.append(
                    {
                        "uri": _spark_uri(df_rec["file_path"]),
                        "size": int(df_rec.get("file_size_in_bytes") or 0),
                        "kind": "pos" if fcontent == 1 else "eq",
                        "seq": seq,
                        "eq_ids": tuple(int(i) for i in eq_ids or ()),
                    }
                )
        plan = {
            "files": files, "deletes": deletes, "pairs": pairs,
            "orc_keys": orc_keys, "seq_by_key": seq_by_key,
            "part_raw": part_raw,
        }
        self._plans[cache_key] = plan
        return plan

    # --- scan ---------------------------------------------------------------

    def _rewrite_bucket_filter(self, partition_filter: str | None):
        """Map = / IN terms on bucket-partitioned SOURCE columns to ordinal
        membership tests on the internal ``__bucket_<src>`` field (spec
        Appendix B murmur3 bucketing), leaving other terms intact.  A
        bucket hash is not order-preserving, so range operators on a
        bucket column — and filters too complex to decompose — are typed
        errors rather than silently-wrong prunes.  Idempotent: rewritten
        terms name ``__bucket_*``, which is never a source column.

        NOTE partition_filter semantics (all transforms): it selects FILES
        by partition value; for non-identity transforms the surviving
        files' rows are a superset of ``col = v`` — compose with a row
        filter downstream."""
        if not partition_filter:
            return partition_filter
        buckets = {
            f["source_name"]: f
            for f in self._spec_fields
            if f["kind"] == "bucket" and f["source_name"]
        }
        if not buckets or not any(
            re.search(rf"\b{re.escape(c)}\b", partition_filter)
            for c in buckets
        ):
            return partition_filter
        parts = _split_conjunction(partition_filter)
        if parts is None:
            raise BuzzPlanError(
                f"partition_filter {partition_filter!r} names a "
                "bucket-partitioned column inside OR/NOT/parens — bucket "
                "pruning supports only a simple AND of = / IN terms"
            )
        out = []
        for part in parts:
            m = _CMP_RE.fullmatch(part)
            im = _IN_RE.fullmatch(part) if m is None else None
            col = m.group(1) if m else (im.group(1) if im else None)
            if col not in buckets:
                if col is None and any(
                    re.search(rf"\b{re.escape(c)}\b", part) for c in buckets
                ):
                    raise BuzzPlanError(
                        f"unparseable term {part.strip()!r} names a "
                        "bucket-partitioned column — bucket pruning "
                        "supports only = / IN terms"
                    )
                out.append(part.strip())
                continue
            f = buckets[col]
            if m:
                op, vq, vn = m.group(2), m.group(3), m.group(4)
                if op not in ("=", "=="):
                    raise BuzzPlanError(
                        f"bucket-partitioned column {col!r} supports only "
                        f"= / IN partition filters (the bucket hash is not "
                        f"order-preserving), got {op!r}"
                    )
                lits = [(vq, True)] if vq is not None else [(vn, False)]
            else:
                lits = []
                for item in im.group(2).split(","):
                    iv = _IN_ITEM_RE.fullmatch(item)
                    if iv is None:
                        raise BuzzPlanError(
                            f"unparseable IN list item in {part.strip()!r}"
                        )
                    vq, vn = iv.groups()
                    lits.append((vq, True) if vq is not None else (vn, False))
            ords = sorted(
                {
                    _bucket_ordinal(v, q, f["source_type"], f["bucket_n"])
                    for v, q in lits
                }
            )
            out.append(
                f"`__bucket_{col}` IN ({', '.join(map(str, ords))})"
            )
        return " AND ".join(out)

    def pruned_files(
        self, spark: SparkSession, partition_filter: str | None
    ) -> list[CatalogFile]:
        partition_filter = self._rewrite_bucket_filter(partition_filter)
        if partition_filter and not self.partition_cols:
            # same posture as the static/Delta catalogs: a filter that can't
            # prune (bucket/void transforms only) is a typed error, not a
            # silent return of every row the filter should have excluded
            raise BuzzPlanError(
                "partition_filter given but the table has no prunable "
                "partition fields (identity or year/month/day/hour/truncate "
                "transforms)"
            )
        files = self._plan(spark, partition_filter)["files"]
        if not partition_filter:
            return list(files)

        def _prune(subset, cols, flt):
            return StaticCatalog(
                name=self.name,
                schema=self.schema,
                files=subset,
                partition_cols=cols,
            ).pruned_files(spark, flt)

        # Group files by which prune columns they actually carry (one group
        # per spec + derivation reach).  A single full-coverage group is
        # the plain path; an EVOLVED snapshot evaluates per group — each
        # group gets the conjuncts it can answer, and a term naming a
        # column a group cannot provide keeps that group's files
        # (conservative superset, exactly Iceberg's partition-pruning
        # contract: pruning may keep extra files, the row filter decides).
        groups: dict[frozenset, list[CatalogFile]] = {}
        for f in files:
            groups.setdefault(
                frozenset(k for k, _ in f.partitions), []
            ).append(f)
        full = frozenset(self.partition_cols)
        if len(groups) <= 1 and (not groups or set(groups) == {full}):
            return _prune(files, self.partition_cols, partition_filter)

        referenced = {
            c
            for c in self.partition_cols
            if re.search(rf"\b{re.escape(c)}\b", partition_filter)
        }
        parts = _split_conjunction(partition_filter)
        kept_keys: set = set()
        for avail in sorted(groups, key=sorted):
            subset = groups[avail]
            cols = [c for c in self.partition_cols if c in avail]
            missing = referenced - avail
            if not missing:
                kept = _prune(subset, cols, partition_filter)
            elif parts is None:
                raise BuzzPlanError(
                    f"partition_filter {partition_filter!r} names partition "
                    f"fields {sorted(missing)} that files under some of this "
                    "snapshot's partition specs cannot provide, and the "
                    "filter is not a simple AND of terms — per-spec pruning "
                    "cannot split it soundly; simplify the filter or read "
                    "without partition_filter"
                )
            else:
                usable = [
                    p
                    for p in parts
                    if not any(
                        re.search(rf"\b{re.escape(c)}\b", p) for c in missing
                    )
                ]
                kept = (
                    _prune(subset, cols, " AND ".join(usable))
                    if usable
                    else list(subset)  # no evaluable term: keep (superset)
                )
            kept_keys.update(f.key for f in kept)
        return [f for f in files if f.key in kept_keys]

    # iceberg primitive types whose decoded manifest bounds the stats
    # filter may prune on (numeric + string; temporal literals would need
    # their own parsing domain — kept conservative)
    _STATS_PRUNE_TYPES = {"int", "long", "float", "double", "string"}

    def _stats_drop(self, spark, stats_filter: str) -> set[str]:
        """Spark file keys PROVABLY disjoint from ``stats_filter``, from
        the manifest entries' column bounds (the zone map z-ordered
        compaction tightens).  Conservative by construction: files or
        columns without decodable bounds, and predicate terms outside
        the simple-conjunction subset, never cause a drop — the caller
        applies the full predicate to the scan regardless, so pruning
        can only shrink the file list, never change the result."""
        from .zonemap import _may_match, stats_conjuncts_from_sql

        name_to_id = {v: k for k, v in self._field_names.items()}
        usable = []
        for col, op, val in stats_conjuncts_from_sql(stats_filter):
            fid = name_to_id.get(col)
            t = self._field_types.get(fid) if fid is not None else None
            if t not in self._STATS_PRUNE_TYPES:
                continue
            # comparison domains must match Spark's coercion: string
            # bounds compare against quoted literals, numeric bounds
            # against bare numerics — cross-domain terms never prune
            elems = val if isinstance(val, list) else [val]
            if any((t == "string") != isinstance(v, str) for v in elems):
                continue
            usable.append((fid, op, val))
        if not usable:
            return set()
        bounds = self.file_key_bounds(
            spark, sorted({fid for fid, _, _ in usable})
        )
        drop = set()
        for path, per in bounds.items():
            if not all(
                fid not in per or _may_match(per[fid], op, val)
                for fid, op, val in usable
            ):
                drop.add(_spark_uri(path))
        return drop

    def to_dataframe(
        self,
        spark: SparkSession,
        partition_filter: str | None = None,
        stats_filter: str | None = None,
    ) -> DataFrame:
        """Snapshot scan; ``partition_filter`` prunes at the manifest level.

        The scan catalog declares NO partition columns: Iceberg data files
        carry their (identity) partition values in-file, so attaching them
        would duplicate columns — pruning runs on a partition-aware helper,
        reading on the pruned plain file list.  Position deletes apply as
        one anti-join on (raw ``_metadata.file_path``, row index);
        equality deletes as null-safe anti-joins on their key columns,
        scoped to data files with a strictly smaller sequence number
        (:meth:`_mor_scan`).

        ``stats_filter`` is a ROW predicate (any Spark SQL) applied to
        the scan — and additionally used to skip whole data files whose
        manifest column bounds provably exclude it (zone-map pruning on
        NON-partition columns, the read-side payoff of
        ``rewrite_iceberg(zorder_by=...)``).  Results are exact whether
        or not any file prunes; at 10^5 files the win is files never
        listed into the scan."""
        partition_filter = self._rewrite_bucket_filter(partition_filter)
        files = self.pruned_files(spark, partition_filter)
        if stats_filter is not None:
            drop = self._stats_drop(spark, stats_filter)
            if drop:
                files = [f for f in files if f.key not in drop]
        out = self._assemble_scan(spark, partition_filter, files)
        if stats_filter is not None:
            from pyspark.errors import AnalysisException

            try:
                out = out.where(stats_filter)
            except AnalysisException as exc:
                raise BuzzPlanError(
                    f"invalid stats_filter for catalog {self.name!r}: "
                    f"{exc.getMessage() if hasattr(exc, 'getMessage') else exc}"
                ) from exc
        return out

    def _assemble_scan(
        self,
        spark: SparkSession,
        partition_filter: str | None,
        files: list,
    ) -> DataFrame:
        plan = self._plan(spark, partition_filter)
        deletes = plan["deletes"]
        orc_keys = plan["orc_keys"]
        orc = [f for f in files if f.key in orc_keys]
        parq = [f for f in files if f.key not in orc_keys]
        pos = [d for d in deletes if d["kind"] == "pos"]
        eq = [d for d in deletes if d["kind"] == "eq"]
        if orc and pos:
            raise BuzzExecutionError(
                "iceberg position deletes over ORC data files are not "
                "supported: the delete anti-join needs _metadata.row_index, "
                "which Spark exposes for parquet scans only — refusing "
                "instead of resurrecting deleted rows"
            )
        if orc and self._evolved:
            raise BuzzExecutionError(
                "iceberg schema-evolved (renamed-column) tables with ORC "
                "data files are not supported: field-id resolution is "
                "implemented for parquet only — refusing instead of "
                "null-filling pre-rename files"
            )
        if self._evolved:
            # resolve parquet columns by field id (schema metadata carries
            # parquet.field.id): files written before a column rename keep
            # reading correctly.  No-op for scans whose schema has no ids.
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        if deletes and files:
            return self._mor_scan(spark, parq, orc, pos, eq, plan)

        if self._evolved and parq:
            nm = self._name_mapping()
            if nm:
                # id-less data files (external writers) resolve through the
                # table's name mapping; ORC is already refused when evolved
                return self._evolved_mapped_scan(spark, parq, nm)

        def _scan(subset: list[CatalogFile], fmt: str) -> DataFrame:
            return StaticCatalog(
                name=self.name,
                schema=self._scan_schema,
                files=[
                    CatalogFile(key=f.key, length=f.length, partitions=())
                    for f in subset
                ],
                partition_cols=[],
                fmt=fmt,
            ).to_dataframe(spark)

        if orc and parq:
            return _scan(parq, "parquet").unionByName(_scan(orc, "orc"))
        if orc:
            return _scan(orc, "orc")
        return _scan(parq, "parquet")

    def _mor_scan(
        self,
        spark: SparkSession,
        parq: list[CatalogFile],
        orc: list[CatalogFile],
        pos: list[dict],
        eq: list[dict],
        plan: dict,
        tag: list[tuple[str, int]] | None = None,
        keep_coords: bool = False,
    ) -> DataFrame:
        """Merge-on-read scan: data files minus position- and
        equality-deleted rows.  ``tag`` (catalog key → snapshot id)
        appends a ``_snapshot_id`` column via a broadcast map join — the
        changes feed marks each surviving row with the commit that added
        it, same shape as the Delta feed's ``_commit_version``.
        ``keep_coords`` keeps each row's coordinates: ``__path``, its
        file's manifest-RECORDED path, and ``__ridx``.

        Shape (template: ``delta_catalog.py::_dv_scan``): ONE scan per data
        format selecting the raw ``_metadata.file_path`` as ``__path`` (+
        ``row_index`` when position deletes exist).  Every per-file join
        keys on that raw ``__path``; its map side is built on the driver
        from the scan's own listing (:func:`~.uris.scanned_files`), so no
        row pays for a decode.  Then

        - position deletes: one DISTRIBUTED parquet scan of the delete
          files (``file_path``, ``pos``), a broadcast map join translating
          recorded data-file paths to the scan's raw keys (deletes
          targeting files compacted out of this snapshot drop here — that
          is why sequence numbers need not be consulted for position
          deletes), then ONE anti-join on (path, row index);
        - equality deletes: ONE null-safe anti-join per KEY-COLUMN SET —
          not per commit.  All of a key-set's delete files are read in a
          single scan, each row tagged with its file's sequence number via
          a broadcast path→seq map, then aggregated to max(seq) per key
          tuple; the anti-join condition is the null-safe key match AND
          the spec's strict sequence scope ``data_seq < max_delete_seq``
          (a row is dead iff ANY strictly-later delete matches its key, ≡
          iff the LATEST matching delete is strictly later — so the max
          preserves exact semantics, including re-insert survival).  A
          Flink-CDC table with thousands of upsert commits thus plans ONE
          join, not a thousand chained anti-joins.  Iceberg treats null
          as a matchable value in equality deletes, hence eqNullSafe (and
          groupBy, which groups nulls, is the matching aggregate).

        Each delete relation is broadcast when the manifests' recorded
        sizes total under DELETE_BROADCAST_MAX_BYTES, so the common
        small-delete case adds zero shuffles."""
        from functools import reduce

        from pyspark.sql import functions as F
        from pyspark.sql.functions import broadcast

        from .uris import scanned_files

        def scan_part(subset: list[CatalogFile], fmt: str) -> DataFrame:
            reader = spark.read.schema(self._scan_schema)
            keys = [f.key for f in subset]
            df = reader.parquet(*keys) if fmt == "parquet" else reader.orc(keys)
            cols = ["*", F.col("_metadata.file_path").alias("__path")]
            if pos or keep_coords:  # orc+pos is refused before we get here
                cols.append(F.col("_metadata.row_index").alias("__ridx"))
            return df.select(*cols)

        parts = []
        if parq:
            parts.append(scan_part(parq, "parquet"))
        if orc:
            parts.append(scan_part(orc, "orc"))
        scan = reduce(DataFrame.unionByName, parts)
        data_cols = [f.name for f in self._scan_schema.fields]
        # catalog key → raw scan key, for every scanned data file
        raw_of = {
            k: raw
            for raw, k in scanned_files(
                scan, {f.key: f.key for f in parq + orc}
            ).items()
        }
        rec_of = {raw_of[k]: rec for rec, k in plan["pairs"] if k in raw_of}

        if pos:
            mapping = spark.createDataFrame(
                sorted(
                    {(rec, raw_of[k]) for rec, k in plan["pairs"] if k in raw_of}
                ),
                "file_path string, __path string",
            )
            del_schema = StructType(
                [
                    StructField("file_path", StringType(), False),
                    StructField("pos", LongType(), False),
                ]
            )
            del_df = (
                spark.read.schema(del_schema)
                .parquet(*[d["uri"] for d in pos])
                .join(broadcast(mapping), on="file_path")
                .select("__path", F.col("pos").alias("__ridx"))
            )
            if sum(d["size"] for d in pos) <= self.DELETE_BROADCAST_MAX_BYTES:
                del_df = broadcast(del_df)
            scan = scan.join(
                del_df, on=["__path", "__ridx"], how="left_anti"
            )
            if not keep_coords:
                scan = scan.drop("__ridx")

        if eq:
            seq_map = spark.createDataFrame(
                sorted(
                    (raw_of[k], seq)
                    for k, seq in plan["seq_by_key"].items()
                    if k in raw_of
                ),
                "__path string, __seq long",
            )
            scan = scan.join(broadcast(seq_map), on="__path", how="left")
            groups: dict[tuple, list[dict]] = {}
            for d in eq:
                groups.setdefault(d["eq_ids"], []).append(d)
            for ids, dels in sorted(groups.items()):
                names = self._eq_key_names(ids)
                # one scan of ALL the key-set's delete files; a carried-
                # forward entry may list a file twice — dedup by uri (the
                # seq is identical: EXISTING entries keep their original)
                del_keys = self._read_eq_key_files(
                    spark,
                    ids,
                    names,
                    sorted({d["uri"] for d in dels}),
                    with_path=True,
                )
                dseq_map = spark.createDataFrame(
                    sorted(
                        scanned_files(
                            del_keys, {d["uri"]: int(d["seq"]) for d in dels}
                        ).items()
                    ),
                    "__dpath string, __dseq long",
                )
                del_rel = (
                    del_keys.join(broadcast(dseq_map), on="__dpath")
                    .groupBy(*names)
                    .agg(F.max("__dseq").alias("__dseq"))
                    .alias("__d")
                )
                if (
                    sum(d["size"] for d in dels)
                    <= self.DELETE_BROADCAST_MAX_BYTES
                ):
                    del_rel = broadcast(del_rel)
                s = scan.alias("__s")
                cond = reduce(
                    lambda a, b: a & b,
                    [
                        F.col(f"__s.{n}").eqNullSafe(F.col(f"__d.{n}"))
                        for n in names
                    ]
                    + [F.col("__s.__seq") < F.col("__d.__dseq")],
                )
                scan = s.join(del_rel, on=cond, how="left_anti")
            scan = scan.drop("__seq")

        if tag is not None:
            tag_df = spark.createDataFrame(
                sorted((raw_of[k], sid) for k, sid in tag if k in raw_of),
                "__path string, _snapshot_id long",
            )
            scan = scan.join(broadcast(tag_df), on="__path", how="left")
            return scan.select(*data_cols, "_snapshot_id")
        if keep_coords:
            # per-row physical coordinates for the changelog's retraction
            # joins and the position-delete writers, with the path spelled
            # as the manifests record it
            rec_df = spark.createDataFrame(
                sorted(rec_of.items()), "__path string, __rec string"
            )
            return scan.join(broadcast(rec_df), on="__path").select(
                *data_cols, F.col("__rec").alias("__path"), "__ridx"
            )
        return scan.drop("__path").select(*data_cols)

    # --- name mapping (id-less external files on evolved tables) -------------

    # file counts above this classify footers in one distributed job
    FOOTER_CLASSIFY_MAX_DRIVER = 64

    def _name_mapping(self) -> dict[int, list[str]] | None:
        """``schema.name-mapping.default`` table property →
        {field id: [historical names]}, top-level fields only (same depth
        the rest of the field-id machinery covers).  None when absent or
        unparseable (conservative: absent mapping keeps the loud
        Spark NO_HINT failure on id-less files, never a silent misread)."""
        raw = self._properties.get("schema.name-mapping.default")
        if not raw:
            return None
        try:
            entries = json.loads(raw)
            out = {}
            for e in entries:
                fid = e.get("field-id")
                names = e.get("names")
                if fid is None or not isinstance(names, list):
                    continue
                out[int(fid)] = [str(n) for n in names]
            return out or None
        except (ValueError, TypeError, AttributeError):
            return None

    def _classify_field_ids(
        self, spark: SparkSession | None, paths: list[str]
    ) -> list[tuple[str, bool, list[str]]]:
        """[(path, footer has parquet field ids, footer column names)] —
        driver pyarrow loop for small file sets, one mapInPandas job above
        FOOTER_CLASSIFY_MAX_DRIVER (footers are KiB; the job returns one
        row per file, so driver traffic stays O(files) metadata)."""
        from .schema_check import _pyarrow_path

        def probe(path: str) -> tuple[bool, list[str]]:
            import pyarrow.parquet as pq

            sch = pq.read_schema(_pyarrow_path(path))
            has = any(
                f.metadata and b"PARQUET:field_id" in f.metadata for f in sch
            )
            return has, list(sch.names)

        if spark is None or len(paths) <= self.FOOTER_CLASSIFY_MAX_DRIVER:
            return [(p, *probe(p)) for p in paths]

        def task(batches):
            import pandas as pd

            for pdf in batches:
                has, names = [], []
                for p in pdf["path"]:
                    h, n = probe(p)
                    has.append(h)
                    names.append(json.dumps(n))
                yield pd.DataFrame(
                    {"path": pdf["path"], "has": has, "names": names}
                )

        n_parts = min(
            len(paths),
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        )
        rows = (
            spark.createDataFrame([(p,) for p in paths], "path string")
            .repartition(n_parts)
            .mapInPandas(task, "path string, has boolean, names string")
            .collect()
        )
        by_path = {r.path: (r.has, json.loads(r.names)) for r in rows}
        return [(p, *by_path[p]) for p in paths]

    def _evolved_mapped_scan(
        self, spark: SparkSession, parq: list[CatalogFile], nm: dict
    ) -> DataFrame:
        """Scan an evolved table whose snapshot may mix id-bearing files
        (field-id resolution, as usual) with ID-LESS files from external
        writers: the name mapping assigns each current field id the names
        its column may carry in such files.  Id-less files group by their
        footer column layout; each group reads by FILE names and projects
        to current names, with unmapped/absent fields as NULL (the spec's
        rule for ids not found through the mapping)."""
        from functools import reduce

        from pyspark.sql import functions as F

        by_key = {f.key: f for f in parq}
        classified = self._classify_field_ids(spark, [f.key for f in parq])
        with_ids = [by_key[p] for p, has, _ in classified if has]
        idless = [(p, tuple(names)) for p, has, names in classified if not has]

        parts: list[DataFrame] = []
        if with_ids:
            parts.append(
                StaticCatalog(
                    name=self.name,
                    schema=self._scan_schema,
                    files=[
                        CatalogFile(key=f.key, length=f.length, partitions=())
                        for f in with_ids
                    ],
                    partition_cols=[],
                ).to_dataframe(spark)
            )
        current = {f.name: f for f in self.schema.fields}
        groups: dict[tuple, list[str]] = {}
        for p, names in idless:
            groups.setdefault(names, []).append(p)
        for names, paths in sorted(groups.items()):
            name_set = set(names)
            read_fields, projection = [], []
            for fid, cur_name in sorted(self._field_names.items()):
                cf = current.get(cur_name)
                if cf is None:
                    continue
                file_name = next(
                    (n for n in nm.get(fid, []) if n in name_set), None
                )
                if file_name is None:
                    projection.append(
                        F.lit(None).cast(cf.dataType).alias(cur_name)
                    )
                else:
                    read_fields.append(
                        StructField(file_name, cf.dataType, True)
                    )
                    projection.append(F.col(file_name).alias(cur_name))
            df = spark.read.schema(StructType(read_fields)).parquet(*paths)
            parts.append(
                df.select(*projection).select(*[f.name for f in self.schema.fields])
            )
        return reduce(DataFrame.unionByName, parts)

    def _eq_key_names(self, ids: tuple) -> list[str]:
        """Current column names of an equality delete's key field ids —
        typed refusal when an id is absent from the current schema.
        Shared by the snapshot MOR scan and the changelog retraction so
        the resolution rules cannot drift apart."""
        have = {f.name for f in self._scan_schema.fields}
        names = []
        for fid in ids:
            name = self._field_names.get(fid)
            if name is None or name not in have:
                raise BuzzExecutionError(
                    f"iceberg equality delete keys on field id {fid}, "
                    "which is not in the current schema — refusing "
                    "(cannot evaluate the delete predicate)"
                )
            names.append(name)
        return names

    def _read_eq_key_files(
        self,
        spark: SparkSession,
        ids: tuple,
        names: list[str],
        uris: list[str],
        with_path: bool = False,
    ) -> DataFrame:
        """One DataFrame over equality-delete key files, columns projected
        to the CURRENT names (+ ``__dpath``, the raw
        ``_metadata.file_path``, when ``with_path``).

        Non-evolved tables read by name (the common fast path).  Evolved
        (renamed-column) tables resolve by FIELD ID: the read schema
        carries ``parquet.field.id`` metadata (Spark's fieldId read — the
        callers enable the conf), so a delete file written BEFORE a key
        column's rename — its parquet column bearing the OLD name — still
        binds to the right key.  Id-less delete files (external writers)
        resolve each key field id against the file's footer columns
        through the id's full name history (every schema version, plus
        the table's name mapping); a key that cannot be resolved
        UNAMBIGUOUSLY is a typed refusal — a null-filled or misbound key
        column would eqNullSafe-match the wrong rows, silently deleting
        or resurrecting data."""
        from pyspark.sql import functions as F

        plain = {f.name: f for f in self.schema.fields}

        def _finish(df: DataFrame) -> DataFrame:
            cols: list = list(names)
            if with_path:
                df = df.withColumn("__dpath", F.col("_metadata.file_path"))
                cols = cols + ["__dpath"]
            return df.select(*cols)

        if not self._evolved:
            key_schema = StructType([plain[n] for n in names])
            return _finish(spark.read.schema(key_schema).parquet(*uris))

        with_id_meta = {f.name: f for f in self._scan_schema.fields}
        classified = self._classify_field_ids(spark, list(uris))
        id_uris = [p for p, has, _ in classified if has]
        idless = [(p, fnames) for p, has, fnames in classified if not has]
        parts: list[DataFrame] = []
        if id_uris:
            key_schema = StructType([with_id_meta[n] for n in names])
            parts.append(
                _finish(spark.read.schema(key_schema).parquet(*id_uris))
            )
        if idless:
            nm = self._name_mapping() or {}
            layouts: dict[tuple, list[str]] = {}
            for p, fnames in idless:
                layouts.setdefault(tuple(fnames), []).append(p)
            for fnames, paths in sorted(layouts.items()):
                fname_set = set(fnames)
                read_fields, projection, taken = [], [], {}
                for fid, cur in zip(ids, names):
                    candidates = [cur] + sorted(
                        self._historical_names.get(int(fid), set()) - {cur}
                    ) + [n for n in nm.get(int(fid), []) if n != cur]
                    hit = next(
                        (n for n in candidates if n in fname_set), None
                    )
                    if hit is None:
                        raise BuzzExecutionError(
                            f"iceberg equality delete file {paths[0]!r} "
                            "carries no parquet field ids and none of "
                            f"field id {fid}'s known names {candidates} "
                            "appear in its footer — refusing (cannot bind "
                            "the delete key)"
                        )
                    if hit in taken:
                        raise BuzzExecutionError(
                            "iceberg equality delete file column "
                            f"{hit!r} matches two key field ids "
                            f"({taken[hit]} and {fid}) through the name "
                            "history and the file has no field ids to "
                            "disambiguate — refusing"
                        )
                    taken[hit] = int(fid)
                    read_fields.append(
                        StructField(hit, plain[cur].dataType, True)
                    )
                    projection.append(F.col(hit).alias(cur))
                df = spark.read.schema(StructType(read_fields)).parquet(
                    *sorted(paths)
                )
                parts.append(_finish(df.select(*projection, "_metadata")))
        from functools import reduce

        return reduce(DataFrame.unionByName, parts)

    def file_key_bounds(
        self, spark: SparkSession | None, field_ids: list[int]
    ) -> dict[str, dict[int, tuple]]:
        """Per data-file (recorded path) decoded (lower, upper) bounds of
        the given field ids, read from the snapshot's manifest-entry
        column stats — the zone map that lets retraction/predicate scans
        skip files provably disjoint from a key set.  Conservative:
        files or fields without decodable bounds are simply ABSENT (the
        caller must keep such files).  O(metadata), shares the catalog's
        distributed manifest decode above the driver cap."""
        if self._manifests is None:
            return {}
        types = self._field_types
        want = [fid for fid in field_ids if fid in types]
        if not want:
            return {}
        out: dict[str, dict[int, tuple]] = {}
        data_manifests = [
            m for m in self._manifests if int(m.get("content") or 0) == 0
        ]
        for _, _, _, e in self._decode_entries(spark, data_manifests):
            if int(e.get("status") or 0) == 2:
                continue
            df_rec = e["data_file"]
            if int(df_rec.get("content") or 0) != 0:
                continue
            lows = {
                int(kv["key"]): kv["value"]
                for kv in (df_rec.get("lower_bounds") or [])
            }
            highs = {
                int(kv["key"]): kv["value"]
                for kv in (df_rec.get("upper_bounds") or [])
            }
            per: dict[int, tuple] = {}
            for fid in want:
                lo = _decode_bound(lows.get(fid), types[fid])
                hi = _decode_bound(highs.get(fid), types[fid])
                if lo is not None and hi is not None:
                    per[fid] = (lo, hi)
            if per:
                out[df_rec["file_path"]] = per
        return out

    def history(self) -> list[dict]:
        """Snapshot list (id, timestamp, operation) — from the metadata
        already loaded at construction (no re-read: a concurrent commit must
        not make history() disagree with the snapshot this catalog scans)."""
        return [
            {
                "snapshot_id": s["snapshot-id"],
                "timestamp_ms": s.get("timestamp-ms"),
                "operation": (s.get("summary") or {}).get("operation"),
            }
            for s in self._snapshots
        ]


def _changes_range(
    cat: "IcebergCatalog",
    spark: SparkSession,
    table_uri: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None,
) -> dict | None:
    """Validate an incremental window (from-cursor present, contiguous
    sequence numbers, supported operations) and walk the in-range
    snapshots' ADDED manifests — the shared basis of
    :func:`read_iceberg_changes` (appends feed) and
    :func:`read_iceberg_changelog` (retraction feed).  Returns None for an
    empty window, else the range's data files, delete files, recorded
    path→catalog key pairs, per-file sequence numbers, and snapshot tags.

    O(range) manifest-list reads driver-side; manifest decode goes through
    the catalog's distributed path above the driver cap."""
    if cat.format_version < 2:
        raise BuzzExecutionError(
            "iceberg changes feed requires format-version 2 (v1 snapshots "
            "carry no sequence numbers to scope the range)"
        )
    snaps = {s["snapshot-id"]: s for s in cat._snapshots}
    if from_snapshot_id not in snaps:
        raise BuzzExecutionError(
            f"from_snapshot {from_snapshot_id} not in table history "
            "(expired past the consumer's cursor, or the table was "
            "recreated) — re-bootstrap from a full snapshot read"
        )
    if to_snapshot_id is not None:
        to_id = to_snapshot_id
    else:
        # default to the CURRENT snapshot, not the max sequence number:
        # after rollback_iceberg the highest-sequence snapshot may be
        # ABANDONED history that the table's state no longer contains
        cur = cat.resolved_snapshot_id
        if cur is None:
            return None  # empty current state ⇒ empty window
        to_id = cur
    if to_id not in snaps:
        raise BuzzExecutionError(
            f"to_snapshot {to_id} not in table history (have "
            f"{sorted(snaps)})"
        )
    if to_id == from_snapshot_id:
        return None
    from_seq = int(snaps[from_snapshot_id].get("sequence-number", 0))
    to_seq = int(snaps[to_id].get("sequence-number", 0))
    if to_seq < from_seq:
        if to_snapshot_id is None:
            # the CURRENT snapshot sits below the cursor: a rollback
            # orphaned the cursor (no fork commit yet) — same condition
            # the ancestor walk would diagnose, and the same remedy
            raise BuzzExecutionError(
                f"from_snapshot {from_snapshot_id} is not an ancestor of "
                f"the current snapshot {to_id} — the cursor points into "
                "rolled-back history; re-bootstrap from a full snapshot "
                "read"
            )
        raise BuzzBadRequestError(
            f"to_snapshot (seq {to_seq}) precedes from_snapshot "
            f"(seq {from_seq})"
        )

    # The window is the ANCESTOR CHAIN (to ← parent ← ... ← from), NOT a
    # sequence-number range: a rollback leaves abandoned snapshots in the
    # log whose sequence numbers fall inside the window but whose changes
    # the table's current state never contains — replaying them would
    # fabricate rows.  A cursor not on the chain (it points into a
    # rolled-back fork, or intermediate snapshots were expired) is the
    # typed re-bootstrap error.
    in_range = []
    walk = to_id
    seen = set()
    while True:
        if walk == from_snapshot_id:
            break
        if walk not in snaps or walk in seen:
            raise BuzzExecutionError(
                f"from_snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_id} — the cursor points into rolled-back or expired "
                "history; re-bootstrap from a full snapshot read"
            )
        seen.add(walk)
        s = snaps[walk]
        in_range.append(s)
        parent = s.get("parent-snapshot-id")
        if parent is None:
            raise BuzzExecutionError(
                f"from_snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_id} — the cursor points into rolled-back or expired "
                "history; re-bootstrap from a full snapshot read"
            )
        walk = parent
    in_range.sort(key=lambda s: int(s.get("sequence-number", 0)))

    files: list[CatalogFile] = []
    deletes: list[dict] = []
    pairs: list[tuple[str, str]] = []
    seq_by_key: dict[str, int] = {}
    tag: list[tuple[str, int]] = []
    orc_keys: set = set()
    for s in in_range:
        sid = s["snapshot-id"]
        op = (s.get("summary") or {}).get("operation")
        if op == "replace":
            continue
        if op == "overwrite" and "added-equality-deletes" not in (
            s.get("summary") or {}
        ):
            raise BuzzExecutionError(
                f"snapshot {sid} is a truncating overwrite; incremental "
                "changes are only defined over append/upsert/delete "
                "history (its added files would double-count rewritten "
                "rows) — re-bootstrap from a full snapshot read"
            )
        if op not in ("append", "delete", "overwrite"):
            raise BuzzExecutionError(
                f"snapshot {sid} has unsupported operation {op!r} for the "
                "changes feed"
            )
        _, manifests = decode_avro_file(
            cat._read_meta_bytes(s["manifest-list"])
        )
        added = [
            m for m in manifests
            if int(m.get("added_snapshot_id") or -1) == int(sid)
        ]
        for mcontent, mseq, _mspec, e in cat._decode_entries(spark, added):
            if int(e.get("status") or 0) != 1:
                continue  # EXISTING/DELETED entries are not new at s
            esnap = e.get("snapshot_id")
            if esnap is not None and int(esnap) != int(sid):
                continue
            df_rec = e["data_file"]
            fcontent = int(df_rec.get("content") or 0)
            fmt = str(df_rec.get("file_format", "")).upper()
            eseq = e.get("sequence_number")
            seq = int(eseq) if eseq is not None else mseq
            key = _spark_uri(df_rec["file_path"])
            if fcontent == 0:
                if fmt and fmt not in ("PARQUET", "ORC"):
                    raise BuzzExecutionError(
                        f"iceberg data file format {fmt!r} not supported"
                    )
                if fmt == "ORC":
                    orc_keys.add(key)
                files.append(
                    CatalogFile(
                        key=key,
                        length=int(df_rec.get("file_size_in_bytes") or 0),
                        partitions=(),
                    )
                )
                pairs.append((df_rec["file_path"], key))
                seq_by_key[key] = seq
                tag.append((key, int(sid)))
            elif fcontent in (1, 2):
                if fmt and fmt != "PARQUET":
                    raise BuzzExecutionError(
                        f"iceberg delete file format {fmt!r} not supported "
                        "(parquet only)"
                    )
                eq_ids = df_rec.get("equality_ids")
                if fcontent == 2 and not eq_ids:
                    raise BuzzExecutionError(
                        "iceberg equality delete file lacks equality_ids"
                    )
                deletes.append(
                    {
                        "uri": key,
                        "size": int(df_rec.get("file_size_in_bytes") or 0),
                        "kind": "pos" if fcontent == 1 else "eq",
                        "seq": seq,
                        "eq_ids": tuple(int(i) for i in eq_ids or ()),
                    }
                )
    return {
        "files": files,
        "deletes": deletes,
        "pairs": pairs,
        "seq_by_key": seq_by_key,
        "tag": tag,
        "orc_keys": orc_keys,
    }


def _range_insert_scan(
    cat: "IcebergCatalog", spark: SparkSession, rng: dict, with_tag: bool
) -> DataFrame | None:
    """Distributed MOR scan of a window's net-new rows (range-added data
    files minus in-range deletes, sequence-scoped) — None when the window
    added no data files.  Shared by both feeds."""
    files, deletes, orc_keys = rng["files"], rng["deletes"], rng["orc_keys"]
    if not files:
        return None
    orc = [f for f in files if f.key in orc_keys]
    parq = [f for f in files if f.key not in orc_keys]
    pos = [d for d in deletes if d["kind"] == "pos"]
    eq = [d for d in deletes if d["kind"] == "eq"]
    if orc and pos:
        raise BuzzExecutionError(
            "iceberg position deletes over ORC data files are not "
            "supported (no _metadata.row_index for ORC scans)"
        )
    if orc and cat._evolved:
        raise BuzzExecutionError(
            "iceberg changes over a schema-evolved (renamed-column) table "
            "with ORC files are not supported — same refusal as the "
            "snapshot read path (field-id resolution is parquet-only)"
        )
    if cat._evolved:
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    return cat._mor_scan(
        spark, parq, orc, pos, eq,
        {"pairs": rng["pairs"], "seq_by_key": rng["seq_by_key"]},
        tag=rng["tag"] if with_tag else None,
    )


def read_iceberg_changes(
    spark: SparkSession,
    table_uri: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    region: str | None = None,
) -> DataFrame:
    """Rows that are NET NEW in snapshots ``(from_snapshot_id,
    to_snapshot_id]`` — incremental consumption of an Iceberg v2 table,
    mirroring :func:`~.delta_catalog.read_delta_changes`: a downstream job
    remembers the last snapshot it processed and reads only the newer
    commits' files, never rescanning the table.  Each row carries
    ``_snapshot_id`` (the commit that added it).

    Semantics (classified from the snapshot ``summary.operation``):

    - ``append``: its added data files' rows are changes.
    - ``delete`` / CDC ``overwrite`` (equality-delete upserts, the
      :func:`~.iceberg_writer.merge_iceberg` shape): their delete files
      apply MERGE-ON-READ *within the range* — a row appended at snapshot
      r and deleted/overwritten at a later in-range snapshot s never
      surfaces (sequence scope ``r < s``), so the feed is exactly the net
      new rows.  Deletions of PRE-range rows are not expressible in an
      appends feed and are not surfaced — see
      :func:`read_iceberg_changelog` for the retraction-carrying variant.
    - ``replace`` (compaction): content-identical by definition — skipped;
      rows added earlier in the range are read from their ORIGINAL files
      (still on disk inside the vacuum retention window) even if a later
      in-range compaction rewrote them.
    - A truncating ``overwrite`` (no equality-delete evidence in the
      summary) is a typed refusal, same as the Delta feed: surfacing its
      added files would double-count rewritten pre-range rows.

    Scale: O(range) manifest-list reads driver-side, manifest decode
    through the catalog's distributed path above the driver cap, one
    distributed scan of exactly the range's files.  Gaps in the range's
    sequence numbers (snapshots expired past the consumer's cursor) are a
    typed error — silently skipping them would be permanent data loss for
    the consumer; re-bootstrap from a full snapshot read instead."""
    cat = IcebergCatalog("_changes", table_uri, region=region)
    rng = _changes_range(cat, spark, table_uri, from_snapshot_id, to_snapshot_id)
    empty_schema = StructType(
        list(cat._scan_schema.fields)
        + [StructField("_snapshot_id", LongType(), True)]
    )
    if rng is None:
        return spark.createDataFrame([], empty_schema)
    out = _range_insert_scan(cat, spark, rng, with_tag=True)
    if out is None:
        return spark.createDataFrame([], empty_schema)
    return out


def read_iceberg_changelog(
    spark: SparkSession,
    table_uri: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    region: str | None = None,
) -> DataFrame:
    """CDC changelog of snapshots ``(from_snapshot_id, to_snapshot_id]``:
    the data columns plus ``_change_type`` ∈ {``insert``, ``delete``} —
    the retraction-carrying variant of :func:`read_iceberg_changes` (which
    stays appends-only for compatibility), mirroring Iceberg's changelog
    scan / Delta CDF.

    Contract (MULTISET semantics): for a materialized copy ``M`` of the
    from-snapshot, ``M ∪ inserts ∖ deletes`` is exactly the to-snapshot's
    content — an incremental materialization applies the feed with
    ``unionAll`` + ``exceptAll`` (order-free: in-range insert-then-delete
    pairs cancel).  Rows deleted and re-inserted with identical content
    surface as a delete+insert pair, not nothing (net-effect coalescing is
    a consumer choice).

    Construction, O(changed files) not O(table):

    - **inserts** — the appends feed's net-new scan (range-added files,
      in-range deletes applied with sequence scoping).
    - **deletes** — FROM-state rows killed by in-range delete files:
      equality deletes semi-join the from-snapshot MOR scan by key (every
      from-live row's sequence number is strictly below every in-range
      delete's, so the spec's sequence scope is unconditionally met);
      position deletes semi-join it on (file, position) coordinates.
      Both retraction sets union and dedup on physical coordinates, so a
      row hit by several in-range deletes retracts exactly ONCE.  Only
      files actually referenced are read: position deletes name their
      files; equality retraction scans the from-state (the honest cost —
      key membership is not decidable from metadata).

    Boundaries (typed): position deletes referencing files neither live
    at from nor added in range (a delete landing AFTER an in-range
    compaction rewrote its targets) — the coordinates cannot be mapped to
    either state, re-bootstrap; ORC files in the from-state (no
    ``_metadata.row_index`` for the coordinate dedup); plus every refusal
    of the appends feed (truncating overwrites, gaps, evolved+ORC)."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    cat = IcebergCatalog("_changelog", table_uri, region=region)
    rng = _changes_range(cat, spark, table_uri, from_snapshot_id, to_snapshot_id)
    data_cols = [f.name for f in cat._scan_schema.fields]
    empty_schema = StructType(
        list(cat._scan_schema.fields)
        + [StructField("_change_type", StringType(), False)]
    )
    if rng is None:
        return spark.createDataFrame([], empty_schema)

    inserts = _range_insert_scan(cat, spark, rng, with_tag=False)
    pos_in_range = [d for d in rng["deletes"] if d["kind"] == "pos"]
    eq_in_range = [d for d in rng["deletes"] if d["kind"] == "eq"]

    out = (
        inserts.withColumn("_change_type", F.lit("insert"))
        if inserts is not None
        else spark.createDataFrame([], empty_schema)
    )
    if not (pos_in_range or eq_in_range):
        return out

    # --- retractions against the from-snapshot state ---
    from_cat = IcebergCatalog(
        "_changelog_from", table_uri, snapshot_id=from_snapshot_id,
        region=region,
    )
    fplan = from_cat._plan(spark, None)
    if not fplan["files"]:
        return out  # nothing existed at from — nothing to retract
    if fplan["orc_keys"]:
        raise BuzzExecutionError(
            "iceberg changelog over a from-state with ORC data files is "
            "not supported (no _metadata.row_index for the retraction "
            "coordinates)"
        )
    f_eq = [d for d in fplan["deletes"] if d["kind"] == "eq"]
    if from_cat._evolved:
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

    # Candidate pruning — the retraction scan must not read the whole
    # from-state: position deletes name their target files exactly, and
    # equality retraction is zone-mapped (per-file key-column bounds from
    # the manifests vs the delete keys' min/max) — a file provably
    # disjoint from every key range holds no retractable row.  Files or
    # columns without decodable/comparable bounds stay candidates.
    candidate_keys: set = set()
    uri_of_rec = {rec: _spark_uri(rec) for rec, _ in fplan["pairs"]}

    pos_df = None
    if pos_in_range:
        del_schema = StructType(
            [
                StructField("file_path", StringType(), False),
                StructField("pos", LongType(), False),
            ]
        )
        posdel = spark.read.schema(del_schema).parquet(
            *sorted({d["uri"] for d in pos_in_range})
        )
        known_rec = {rec for rec, _ in fplan["pairs"] + rng["pairs"]}
        refs = {
            r["file_path"]
            for r in posdel.select("file_path").distinct().collect()
        }  # O(referenced files), driver-side
        unknown = sorted(refs - known_rec)
        if unknown:
            from ..errors import BuzzRebootstrapError

            raise BuzzRebootstrapError(
                f"in-range position deletes reference {len(unknown)} "
                "file(s) neither live at from_snapshot nor added in the "
                f"window (first: {unknown[0]!r}) — likely rewritten by an "
                "in-range compaction; the coordinates cannot be mapped, "
                "re-bootstrap from a full snapshot read"
            )
        # the retraction scan's coordinates are recorded paths
        pos_df = posdel.select(
            F.col("file_path").alias("__path"), F.col("pos").alias("__ridx")
        )
        candidate_keys |= {
            uri_of_rec[rec] for rec in refs if rec in uri_of_rec
        }

    eq_groups: list[tuple[list[str], DataFrame]] = []
    if eq_in_range:
        groups: dict[tuple, list[dict]] = {}
        for d in eq_in_range:
            groups.setdefault(d["eq_ids"], []).append(d)
        all_eq_ids = sorted({fid for ids in groups for fid in ids})
        bounds = from_cat.file_key_bounds(spark, all_eq_ids)
        for ids, dels in sorted(groups.items()):
            names = cat._eq_key_names(ids)
            keys = cat._read_eq_key_files(
                spark, ids, names, sorted({d["uri"] for d in dels})
            ).distinct()
            if sum(d["size"] for d in dels) <= cat.DELETE_BROADCAST_MAX_BYTES:
                # hint only the JOIN use below; the zone-map agg reads the
                # bare frame (a broadcast hint on an aggregate input is a
                # no-op that logs a HintErrorLogger warning, masking real
                # hint regressions)
                eq_groups.append((names, broadcast(keys)))
            else:
                eq_groups.append((names, keys))
            # zone map: key min/max per PRUNABLE column (int/long/string —
            # types whose decoded bounds compare exactly with collected
            # Spark values); a column outside that set never prunes
            prunable = [
                (i, fid)
                for i, fid in enumerate(ids)
                if cat._field_types.get(fid) in ("int", "long", "string")
            ]
            ranges = None
            if prunable:
                row = keys.agg(
                    *[
                        g
                        for i, _ in prunable
                        for g in (
                            F.min(names[i]).alias(f"__lo{i}"),
                            F.max(names[i]).alias(f"__hi{i}"),
                        )
                    ]
                ).collect()[0]
                ranges = {
                    fid: (row[f"__lo{i}"], row[f"__hi{i}"])
                    for i, fid in prunable
                }
            for rec, uri in uri_of_rec.items():
                if uri in candidate_keys:
                    continue
                per = bounds.get(rec)
                disjoint = False
                if per and ranges:
                    for fid, (kmin, kmax) in ranges.items():
                        b = per.get(fid)
                        if (
                            b is not None
                            and kmin is not None
                            and kmax is not None
                            and type(b[0]) is type(kmin)
                            and (b[1] < kmin or b[0] > kmax)
                        ):
                            disjoint = True  # this group can't hit the file
                            break
                if not disjoint:
                    candidate_keys.add(uri)

    from_files = [f for f in fplan["files"] if f.key in candidate_keys]
    if not from_files:
        return out  # every from-file is provably untouched
    from_scan = from_cat._mor_scan(
        spark,
        from_files,
        [],
        [d for d in fplan["deletes"] if d["kind"] == "pos"],
        f_eq,
        fplan,
        keep_coords=True,
    )

    del_frames: list[DataFrame] = []
    if pos_df is not None:
        del_frames.append(
            from_scan.join(pos_df, on=["__path", "__ridx"], how="left_semi")
        )
    for names, keys in eq_groups:
        s = from_scan.alias("__s")
        k = keys.alias("__d")
        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"__s.{n}").eqNullSafe(F.col(f"__d.{n}"))
                for n in names
            ],
        )
        del_frames.append(s.join(k, on=cond, how="left_semi"))

    deletes_df = (
        reduce(DataFrame.unionByName, del_frames)
        .dropDuplicates(["__path", "__ridx"])
        .select(*data_cols)
        .withColumn("_change_type", F.lit("delete"))
    )
    return out.unionByName(deletes_df)
