"""Delta Lake catalog: snapshot of a Delta table as file list + partition values.

Reference: code/src/datasource/catalog/delta_catalog.rs — loads the Delta log
via delta-rs, builds the file list from ``add`` actions (with ``remove``
handling so overwritten files disappear from the snapshot,
delta_catalog.rs:150-177), partition values from ``partitionValues`` (always
strings, delta_catalog.rs:73-77), and the table schema from the Delta metadata
``schemaString`` (delta_catalog.rs:133-140).

This rebuild parses the ``_delta_log`` directly (the log format is an open
spec) instead of depending on delta-spark.  Delta's ``schemaString`` *is*
Spark StructType JSON, so the schema conversion is exact.  This reader,
the change readers (:func:`read_delta_changes`,
:func:`read_delta_changelog`) and the writer (``delta_writer``) share one
mechanism per step:

- :func:`replay_log` rebuilds a table's state: the newest checkpoint —
  classic single-file, complete classic multi-part sets, or UUID-named V2
  manifests with ``_sidecars`` (the ``v2Checkpoint`` feature), found from
  the ``_last_checkpoint`` pointer or a log listing — then the JSON
  commits after it, as delta-rs loads a snapshot in the reference;
- :func:`table_schema` derives what a scan needs from the metaData: the
  column-mapping mode, names and ids, the partition columns, the logical
  data fields and the files' read schema;
- :func:`scan_files` turns data or change files into rows: Spark's
  parquet source with that schema, each file's partition values from its
  log entry (never from its directory), deletion-vector rows dropped.

All log IO goes through :class:`~buzz_rust_spark.sources.logstore.LogStore`,
so tables can live on any filesystem pyarrow speaks — local paths, ``s3://``
/ ``s3a://`` buckets (``region`` maps to the reference's region-scoped S3
client, delta_catalog.rs:33-48 ``try_new(uri, region)``), or any
``FileSystem.from_uri`` scheme; data files keep their original URIs so the
distributed scan reads them through Spark's own connectors (S3A etc.).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, replace

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..errors import BuzzExecutionError
from .logstore import LogStore
from .manifest import CatalogFile, attach_partitions, prune_manifest

_LOG = "_delta_log"


def _commit_versions(store: LogStore) -> list[tuple[int, str]]:
    """(version, log-relative path) for each JSON commit, ascending.
    EXACT-name match: ``N.checkpoint.<uuid>.json`` (a V2 checkpoint
    manifest) also ends in .json with a numeric stem — treating it as
    commit N would replay the whole checkpoint state twice."""
    out = []
    for name in store.list_names(_LOG):
        stem = name.split(".", 1)[0]
        if stem.isdigit() and name == f"{stem}.json":
            out.append((int(stem), f"{_LOG}/{name}"))
    return sorted(out)


def _read_actions(store: LogStore, rel: str) -> list[dict]:
    return [
        json.loads(line)
        for line in store.read_text(rel).splitlines()
        if line.strip()
    ]


def _arrow_decoder(typ):
    """Python decoder for a checkpoint value of Arrow type ``typ``: a struct
    drops its None fields (so an action has one shape whether it came from
    JSON or a checkpoint), a map becomes a dict whose None values stay (a
    null partition value is data), anything else passes through."""
    if pa.types.is_map(typ):
        return lambda v: None if v is None else dict(v)
    if not pa.types.is_struct(typ):
        return None
    fields = [(f.name, _arrow_decoder(f.type)) for f in typ]

    def struct(v):
        if v is None:
            return None
        return {
            n: x if d is None else d(x)
            for n, d in fields
            if (x := v[n]) is not None
        }

    return struct


def _table_actions(table) -> list[dict]:
    """Checkpoint/sidecar rows → replayable action dicts."""
    decode = _arrow_decoder(pa.struct(list(table.schema)))
    return [decode(row) for row in table.to_pylist()]


def _parquet_actions(store: LogStore, rel: str) -> list[dict]:
    """One checkpoint/sidecar parquet file → replayable action dicts."""
    return _table_actions(store.read_parquet(rel))


def _resolve_checkpoint(
    store: LogStore, version: int, declared_parts: int
) -> tuple[str, list[str]] | None:
    """The readable checkpoint for ``version``, by listing the log:
    ``("v2", [manifest])`` for a UUID-named V2 checkpoint (preferred —
    when the v2Checkpoint feature is active these are authoritative and a
    coexisting classic file is only a compatibility copy),
    ``("classic", [file])`` for the single-file form, or
    ``("multipart", [part1..partM])`` when a COMPLETE classic multi-part
    set exists (consistent with ``_last_checkpoint``'s ``parts`` when
    declared).  None → the caller falls back to the full JSON replay,
    whose contiguity check converts cleaned-up commits into a typed
    error instead of a silent wrong snapshot."""
    import re

    pref = f"{version:020d}.checkpoint"
    names = [n for n in store.list_names(_LOG) if n.startswith(pref + ".")]
    v2 = sorted(
        n
        for n in names
        if re.fullmatch(rf"{re.escape(pref)}\.[^.]+\.(parquet|json)", n)
    )
    if v2:
        return ("v2", [f"{_LOG}/{v2[-1]}"])
    if f"{pref}.parquet" in names:
        return ("classic", [f"{_LOG}/{pref}.parquet"])
    multi = [
        n
        for n in names
        if re.fullmatch(rf"{re.escape(pref)}\.\d{{10}}\.\d{{10}}\.parquet", n)
    ]
    by_m: dict[int, set[int]] = {}
    for n in multi:
        seg = n.split(".")
        by_m.setdefault(int(seg[3]), set()).add(int(seg[2]))
    for m, ks in sorted(by_m.items()):
        if ks == set(range(1, m + 1)) and declared_parts in (0, m):
            return (
                "multipart",
                [f"{_LOG}/{pref}.{k:010d}.{m:010d}.parquet" for k in ks],
            )
    return None


def _v2_checkpoint_actions(
    store: LogStore, manifest_rel: str, version: int
) -> list[dict]:
    """Replayable actions of a V2 checkpoint (PROTOCOL.md "V2 spec
    checkpoint"): the manifest (json or parquet) holds the non-file
    actions plus a ``checkpointMetadata`` stamp — whose version must
    match, a mismatched manifest means a corrupt or misnamed checkpoint —
    and ``sidecar`` pointers into ``_delta_log/_sidecars/`` holding the
    file actions (which may also be inlined in the manifest)."""
    if manifest_rel.endswith(".json"):
        actions = _read_actions(store, manifest_rel)
    else:
        actions = _parquet_actions(store, manifest_rel)
    cpm = next(
        (a["checkpointMetadata"] for a in actions if a.get("checkpointMetadata")),
        None,
    )
    if cpm is None or int(cpm.get("version", -1)) != version:
        raise BuzzExecutionError(
            f"Delta V2 checkpoint manifest {manifest_rel!r} at "
            f"{store.table_uri!r} carries checkpointMetadata.version="
            f"{None if cpm is None else cpm.get('version')} but is named "
            f"for version {version} — corrupt or misnamed checkpoint"
        )
    out = [
        a
        for a in actions
        if not a.get("sidecar") and not a.get("checkpointMetadata")
    ]
    for sc in (a["sidecar"] for a in actions if a.get("sidecar")):
        path = str(sc["path"])
        if "://" in path:
            import io

            import pyarrow.parquet as pq

            out.extend(
                _table_actions(
                    pq.read_table(io.BytesIO(store.read_bytes_uri(path)))
                )
            )
        else:
            out.extend(
                _parquet_actions(store, f"{_LOG}/_sidecars/{path}")
            )
    return out


# Highest Delta protocol this implementation actually understands: reader 2
# (add/remove/metaData replay + column mapping by NAME — the schema layer
# every modern writer emits on a column rename; delta_catalog.rs:133-140
# never met it only because delta-rs 0.2 predates the feature), writer 2
# (appendOnly/invariants not enforced but representable).  Reader 3 is
# feature-gated: accepted only when every listed readerFeature is one we
# implement — column mapping and, since round 5, deletion vectors (decoded
# per the published spec in sources/deletion_vectors.py and applied as a
# distributed row filter in to_dataframe; skipping them would resurrect
# logically-deleted rows, so an unimplemented feature stays a refusal).
_MAX_READER_VERSION = 2
_SUPPORTED_READER_FEATURES = {
    "columnMapping",
    "deletionVectors",
    "typeWidening",
    # UUID-named checkpoint manifests + _sidecars (PROTOCOL.md "V2 spec
    # checkpoint") — _resolve_checkpoint/_v2_checkpoint_actions read them,
    # and the writer emits them on such tables (delta_writer's
    # _write_checkpoint)
    "v2Checkpoint",
    # TIMESTAMP_NTZ columns: Spark reads/writes the type natively
    # (schemaString "timestamp_ntz" → TimestampNTZType), and the engine's
    # type mapping already targets NTZ for the reference's no-tz
    # timestamps (SURVEY.md §1.3) — nothing further to implement
    "timestampNtz",
    # vacuumProtocolCheck only obligates VACUUM to read the protocol
    # before deleting files — vacuum_delta replays the log (and its
    # protocol gate) first by construction; readers have no obligation
    "vacuumProtocolCheck",
}


def _check_protocol(proto: dict, table_uri: str) -> None:
    """Delta spec requirement: a client MUST refuse tables whose protocol
    exceeds what it implements.  Silently replaying e.g. a deletion-vector
    table would resurrect logically-deleted rows."""
    reader = int(proto.get("minReaderVersion", 1))
    if reader <= _MAX_READER_VERSION:
        return
    from ..errors import BuzzNotImplementedError

    if reader == 3:
        feats = proto.get("readerFeatures")
        unsupported = (
            set(feats) - _SUPPORTED_READER_FEATURES if feats is not None else None
        )
        if unsupported == set():
            return  # every required feature implemented (e.g. columnMapping)
        raise BuzzNotImplementedError(
            f"Delta table {table_uri!r} requires minReaderVersion=3 with "
            f"reader features {sorted(feats) if feats else '<missing>'}; this "
            f"reader implements only {sorted(_SUPPORTED_READER_FEATURES)}"
        )
    raise BuzzNotImplementedError(
        f"Delta table {table_uri!r} requires minReaderVersion={reader}; "
        f"this reader implements protocol {_MAX_READER_VERSION} plus reader-3 "
        f"features {sorted(_SUPPORTED_READER_FEATURES)}"
    )


def _mapping_info(
    meta: dict, table_uri: str | None = None
) -> tuple[str, dict[str, str], dict[str, int]]:
    """(columnMapping mode, logical→physical field names, logical→mapping
    ids) of the table metaData ``meta``.

    ``delta.columnMapping.mode=name``: the parquet files carry stable
    PHYSICAL names (``col-<uuid>``) from the schema field metadata; readers
    scan by physical name and present logical names.  ``mode=id``: readers
    resolve parquet columns by FIELD ID (``delta.columnMapping.id``) via
    Spark's fieldId read — physical names become irrelevant for the scan,
    but the log's partitionValues/stats keys are STILL physical under both
    modes, so the name map is returned for those lookups regardless.
    Unknown modes are a typed refusal (a misread would silently return
    wrong columns, a write would stage files no reader resolves)."""
    config = meta.get("configuration") or {}
    mode = config.get("delta.columnMapping.mode", "none") or "none"
    if mode not in ("none", "name", "id"):
        from ..errors import BuzzNotImplementedError

        raise BuzzNotImplementedError(
            f"Delta table {table_uri!r} uses columnMapping.mode={mode!r}; "
            "'name', 'id', and 'none' are implemented"
        )
    if mode == "none":
        return mode, {}, {}
    phys: dict[str, str] = {}
    ids: dict[str, int] = {}
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        phys[f["name"]] = md.get("delta.columnMapping.physicalName", f["name"])
        if md.get("delta.columnMapping.id") is not None:
            ids[f["name"]] = int(md["delta.columnMapping.id"])
    return mode, phys, ids


@dataclass(frozen=True)
class TableSchema:
    """What a scan of a Delta table's files needs from its metaData
    (:func:`table_schema`)."""

    mode: str  # columnMapping mode: "none", "name" or "id"
    phys: dict[str, str]  # logical → physical name (both mapped modes)
    declared: StructType  # the whole logical schema
    partition_cols: list[str]
    data_fields: list[StructField]  # logical, partition columns excluded
    # the data files' read schema: physical names under mode=name, logical
    # names carrying parquet.field.id under mode=id
    scan_schema: StructType

    @property
    def rename(self) -> dict[str, str]:
        """logical → scanned column name where they differ (mode=name)."""
        return self.phys if self.mode == "name" else {}

    @property
    def row_schema(self) -> StructType:
        """The rows :func:`scan_files` returns: logical data fields, then
        the partition columns as (nullable) strings."""
        return StructType(
            list(self.data_fields)
            + [StructField(c, StringType()) for c in self.partition_cols]
        )


def table_schema(meta: dict, table_uri: str) -> TableSchema:
    """The :class:`TableSchema` of the table metaData ``meta`` — the one
    derivation the snapshot reader, the change readers and the writer's
    rewrite scans share.  A log without a metaData action is a typed
    error; so is a mode=id table whose data fields lack mapping ids."""
    if not meta:
        raise BuzzExecutionError(
            f"Delta log at {table_uri!r} contains no metaData action"
        )
    mode, phys, ids = _mapping_info(meta, table_uri)
    declared = StructType.fromJson(json.loads(meta["schemaString"]))
    partition_cols = list(meta.get("partitionColumns") or [])
    data_fields = [f for f in declared.fields if f.name not in partition_cols]
    if mode == "id":
        missing = [f.name for f in data_fields if f.name not in ids]
        if missing:
            from ..errors import BuzzNotImplementedError

            raise BuzzNotImplementedError(
                f"Delta table {table_uri!r} declares columnMapping.mode=id "
                f"but fields {missing} lack delta.columnMapping.id — cannot "
                "resolve"
            )
        scan = [
            StructField(
                f.name,
                f.dataType,
                f.nullable,
                {"parquet.field.id": ids[f.name]},
            )
            for f in data_fields
        ]
    elif mode == "name":
        scan = [
            StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
            for f in data_fields
        ]
    else:
        scan = data_fields
    return TableSchema(
        mode, phys, declared, partition_cols, data_fields, StructType(scan)
    )


def _log_file(
    store: LogStore, path: str, entry: dict, schema: TableSchema
) -> CatalogFile:
    """The CatalogFile of one add/cdc log entry.  Partition tuple keys are
    LOGICAL names (how callers filter); ``partitionValues`` keys are
    PHYSICAL under both mapping modes.  Delta serializes a null partition
    value as JSON null: it stays None (→ SQL NULL), never the string
    'None', which would break ``col IS NULL`` pruning and wrongly match
    ``= 'None'``."""
    pv = entry.get("partitionValues") or {}
    return CatalogFile(
        key=store.spark_path(path),
        length=int(entry.get("size", 0)),
        partitions=tuple(
            (c, None if (v := pv.get(schema.phys.get(c, c))) is None else str(v))
            for c in schema.partition_cols
        ),
    )


def scan_files(
    spark: SparkSession,
    schema: TableSchema,
    files: list[CatalogFile],
    deleted: list[tuple[str, int]] = (),
    keep_meta: bool = False,
) -> DataFrame:
    """Rows of the Delta data (or change) files ``files`` — the one way
    every Delta path turns files into rows: the snapshot reader, both
    change readers and the writer's rewrite reads.

    The files are read with ``schema.scan_schema`` (field-id resolution
    turned on under mode=id); each file's partition values come from its
    log entry (the ``CatalogFile`` of :func:`_log_file`) as string
    columns through :func:`~.manifest.attach_partitions`; the rows at the
    ``deleted`` ``(file key, row index)`` pairs are dropped by ONE
    anti-join (:func:`~.deletion_vectors.filter_deleted_rows`); mode=name
    columns are renamed to their logical names.  The result is
    ``schema.row_schema``, plus ``__rawpath`` (the raw
    ``_metadata.file_path``) and ``__ridx`` (``_metadata.row_index``) with
    ``keep_meta``.  No files give an empty frame of that shape whose plan
    folds without a Spark job."""
    from pyspark.sql import functions as F

    from .deletion_vectors import filter_deleted_rows

    meta_cols = ["__rawpath", "__ridx"] if keep_meta else []
    if not files:
        out = schema.row_schema
        if keep_meta:
            out = out.add("__rawpath", StringType()).add("__ridx", LongType())
        return spark.createDataFrame(
            to_arrow_schema(out).empty_table(), schema=out
        )
    if schema.mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    with_meta = keep_meta or bool(deleted)

    def scan(paths: list[str]) -> DataFrame:
        df = spark.read.schema(schema.scan_schema).parquet(*paths)
        if not with_meta:
            return df
        # _metadata resolves only on a scan relation, never through a
        # union: the select happens inside each scan
        return df.select(
            "*",
            F.col("_metadata.file_path").alias("__rawpath"),
            F.col("_metadata.row_index").alias("__ridx"),
        )

    df = attach_partitions(spark, files, schema.partition_cols, scan)
    if deleted:
        df = filter_deleted_rows(df, deleted, spark, keep_meta=keep_meta)
    if schema.rename:
        df = df.select(
            *[
                F.col(schema.rename.get(f.name, f.name)).alias(f.name)
                for f in schema.data_fields
            ],
            *schema.partition_cols,
            *meta_cols,
        )
    return df


@dataclass
class LogState:
    """A Delta table's state at one version, as :func:`replay_log` rebuilds
    it.  ``protocol`` is ``{}`` before any protocol action."""

    version: int = -1
    adds: dict[str, dict] = field(default_factory=dict)  # live, by path
    meta: dict = field(default_factory=dict)
    protocol: dict = field(default_factory=dict)
    txns: dict[str, int] = field(default_factory=dict)  # appId → version
    domains: dict[str, str] = field(default_factory=dict)  # → configuration


def _replay_actions(actions, st: LogState) -> None:
    """Apply one atomic batch (a commit file, or a whole checkpoint).

    Removes apply before adds WITHIN the batch: a deletion-vector update
    commit re-adds the same data file path with a new DV while removing the
    old (path, dvId) entry, and the spec keys log entries by that pair — a
    path-keyed replay processing [add, remove] in file order would otherwise
    drop the file entirely.  Across batches, order is version order.  A
    ``metaData`` or ``protocol`` action replaces the previous one, ``txn``
    keeps the highest version per appId, and ``domainMetadata`` sets or
    (``removed``) drops its domain.  Every add takes one shape, from JSON or
    a checkpoint alike: None fields dropped, ``partitionValues`` a dict."""
    adds = []
    for action in actions:
        if "add" in action:
            adds.append(action["add"])
        elif "remove" in action:
            st.adds.pop(action["remove"]["path"], None)
        elif "metaData" in action:
            st.meta = action["metaData"] or {}
        elif "protocol" in action:
            st.protocol = action["protocol"] or {}
        elif "txn" in action:
            t = action["txn"]
            st.txns[t["appId"]] = max(st.txns.get(t["appId"], -1), t["version"])
        elif "domainMetadata" in action:
            d = action["domainMetadata"] or {}
            if d.get("removed"):
                st.domains.pop(d.get("domain"), None)
            else:
                st.domains[d.get("domain")] = d.get("configuration")
    for add in adds:
        add = {k: v for k, v in add.items() if v is not None}
        add["partitionValues"] = add.get("partitionValues") or {}
        st.adds[add["path"]] = add


def replay_log(store: LogStore, version: int | None = None) -> LogState:
    """The Delta log replay — the one :class:`DeltaCatalog`,
    :func:`read_delta_changes` (the state at ``to_version``),
    :func:`read_delta_changelog` (the state at ``from_version``) and the
    writer (``delta_writer._log_state``) read a table through: the newest
    checkpoint at or below ``version`` (the latest commit when None), then
    the JSON commits after it up to ``version``, as the Delta spec requires.

    The checkpoint comes from the ``_last_checkpoint`` pointer or — the
    pointer is a HINT: a crash between checkpoint write and pointer write
    leaves a valid checkpoint unadvertised, and time travel needs one at or
    below ``version`` — the newest such one in the log listing.  Without
    one :func:`_resolve_checkpoint` can read, JSON replays from version 0.
    Every version in the JSON range must have its commit: commits removed
    by log cleanup raise a typed "missing commit" error instead of dropping
    their adds from the state silently.  An empty or missing log is version
    -1 with an empty state.  The replay gates nothing: the reader applies
    :func:`_check_protocol` to the returned protocol, the writer its own
    writer gate."""
    st = LogState()
    if not store.isdir(_LOG):
        return st
    hint = (
        json.loads(store.read_text(f"{_LOG}/_last_checkpoint"))
        if store.exists(f"{_LOG}/_last_checkpoint")
        else None
    )
    if hint is not None and (version is None or hint["version"] <= version):
        cp_version = int(hint["version"])
        declared_parts = int(hint.get("parts") or 0)
    else:
        declared_parts = 0
        stems = [
            int(n.split(".", 1)[0])
            for n in store.list_names(_LOG)
            if ".checkpoint." in n and n.split(".", 1)[0].isdigit()
        ]
        cp_version = max(
            (v for v in stems if version is None or v <= version), default=None
        )
    start = 0
    if cp_version is not None and (
        resolved := _resolve_checkpoint(store, cp_version, declared_parts)
    ):
        kind, rels = resolved
        _replay_actions(
            _v2_checkpoint_actions(store, rels[0], cp_version)
            if kind == "v2"
            else [a for rel in rels for a in _parquet_actions(store, rel)],
            st,
        )
        start = cp_version + 1
    commits = _commit_versions(store)
    latest = max([start - 1] + [v for v, _ in commits])
    target = latest if version is None else version
    if target > latest:
        raise BuzzExecutionError(
            f"Delta table {store.table_uri!r} has no version {version}"
            f" (latest commit seen: {latest})"
        )
    gaps = sorted(set(range(start, target + 1)) - {v for v, _ in commits})
    if gaps:
        raise BuzzExecutionError(
            f"Delta log at {store.table_uri!r} is missing commit(s) "
            f"{gaps[:5]}{'...' if len(gaps) > 5 else ''} in the replay "
            f"range [{start}, {target}] — history was cleaned up past the "
            "requested snapshot (re-checkpoint or read a newer version)"
        )
    for v, rel in commits:
        if start <= v <= target:
            _replay_actions(_read_actions(store, rel), st)
    st.version = target
    return st


class DeltaCatalog:
    """reference: delta_catalog.rs:33-48 ``try_new(uri, region)``."""

    def __init__(
        self,
        name: str,
        table_uri: str,
        version: int | None = None,
        region: str | None = None,
    ):
        """``version`` enables time travel: replay the log only up to that
        commit (inclusive) — the snapshot a reader at that version saw.
        Extension over the reference (delta-rs in the reference always loads
        the latest snapshot, delta_catalog.rs:33-48).  ``region`` scopes the
        S3 client for ``s3://``/``s3a://`` URIs (reference parity)."""
        self.name = name
        self._store = LogStore(table_uri, region=region)
        self.table_uri = self._store.table_uri
        self.version = version
        self._load_snapshot()

    def _load_snapshot(self) -> None:
        store = self._store
        if not store.isdir(_LOG):
            raise BuzzExecutionError(f"no _delta_log at {self.table_uri!r}")
        st = replay_log(store, self.version)
        _check_protocol(st.protocol, self.table_uri)
        ts = self._table_schema = table_schema(st.meta, self.table_uri)
        live = st.adds
        # the commit version this snapshot RESOLVED to — the requested
        # time-travel version, or the latest replayed commit (incremental
        # consumers use it as their cursor)
        self.resolved_version: int = st.version
        self.partition_cols: list[str] = ts.partition_cols
        self.schema = ts.scan_schema
        self.files = [
            _log_file(store, add["path"], add, ts) for add in live.values()
        ]
        # Deletion vectors (reader protocol 3): descriptor per data file whose
        # rows are partially deleted.  Decoded lazily at scan time (a snapshot
        # of a DV table can be built/pruned without touching the sidecars);
        # checkpoint structs may carry an all-null deletionVector — treat a
        # missing storageType as absent.
        self._dv_by_key = {
            store.spark_path(add["path"]): dv
            for add in live.values()
            if (dv := add.get("deletionVector")) and dv.get("storageType")
        }
        # per-file stats JSON from the add actions (data skipping without
        # footer reads — consumed by sources.zonemap.stats_from_delta_log);
        # for column-mapped tables the stats keys are physical → translate
        # back to logical so consumers see one namespace
        inv = {p: l for l, p in ts.phys.items()}

        def _stats(raw: str) -> str:
            if not inv:
                return raw
            st = json.loads(raw)
            for section in ("minValues", "maxValues", "nullCount"):
                if isinstance(st.get(section), dict):
                    st[section] = {
                        inv.get(k, k): v for k, v in st[section].items()
                    }
            return json.dumps(st)

        self._add_stats = {
            store.spark_path(add["path"]): _stats(add["stats"])
            for add in live.values()
            if add.get("stats")
        }
        # raw live add actions (path → add), kept for the metadata-tables
        # surface (sources.metadata_tables.delta_files) — same O(files)
        # the replay already held
        self._live_adds = live

    def pruned_files(self, spark, partition_filter):
        return prune_manifest(
            spark, self.files, self.partition_cols, partition_filter, self.name
        )

    def to_dataframe(
        self,
        spark: SparkSession,
        partition_filter: str | None = None,
        stats_filter: str | None = None,
    ) -> DataFrame:
        """Snapshot scan: the files surviving ``partition_filter`` through
        :func:`scan_files`, with the rows their deletion vectors delete
        dropped.  DV decode is driver-side metadata work, like the log
        replay (bitmaps are compressed; cardinality is bounded by writer
        compaction policy).

        ``stats_filter`` is a ROW predicate (any Spark SQL) applied to the
        scan — and additionally used to skip whole files whose
        log-recorded ``stats`` min/max provably exclude it (zone-map
        pruning on non-partition columns, the read-side payoff of
        ``optimize_delta(zorder_by=...)``; zero extra metadata I/O — the
        stats rode along in the log replay).  Results are exact whether
        or not any file prunes."""
        from .deletion_vectors import read_dv_positions

        files = self.pruned_files(spark, partition_filter)
        if stats_filter is not None:
            from .zonemap import (
                prune_files_by_stats,
                stats_conjuncts_from_sql,
                stats_from_delta_log,
            )

            conjs = stats_conjuncts_from_sql(stats_filter)
            # domain guard (the Iceberg path's _STATS_PRUNE_TYPES twin):
            # prune only where the DECLARED column type matches the
            # literal's comparison domain — numeric literals on numeric
            # columns, quoted strings on string columns.  External logs
            # serialize temporal stats as ISO strings whose lexicographic
            # order differs from Spark's casted comparison (the 'T'
            # separator sorts above space/digits), so temporal and
            # complex columns never prune.
            from pyspark.sql.types import NumericType

            types = {f.name: f.dataType for f in self._table_schema.declared}

            def _domain_ok(col, val):
                dt = types.get(col)
                elems = val if isinstance(val, list) else [val]
                if isinstance(dt, StringType):
                    return all(isinstance(v, str) for v in elems)
                if isinstance(dt, NumericType):
                    return all(not isinstance(v, str) for v in elems)
                return False

            conjs = [(c, o, v) for c, o, v in conjs if _domain_ok(c, v)]
            if conjs:
                files = prune_files_by_stats(
                    files, stats_from_delta_log(self), conjs
                )
        deleted = [
            (f.key, int(p))
            for f in files
            if f.key in self._dv_by_key
            for p in read_dv_positions(self._store, self._dv_by_key[f.key])
        ]
        df = scan_files(spark, self._table_schema, files, deleted)
        # the predicate names logical columns (pruning above matched them
        # too — the log's stats keys are translated at load)
        if stats_filter is not None:
            from pyspark.errors import AnalysisException

            from ..errors import BuzzPlanError

            try:
                df = df.where(stats_filter)
            except AnalysisException as exc:
                raise BuzzPlanError(
                    f"invalid stats_filter for catalog {self.name!r}: "
                    f"{exc.getMessage() if hasattr(exc, 'getMessage') else exc}"
                ) from exc
        return df


def _change_window(
    store: LogStore, table_uri: str, from_version: int, to_version: int | None
) -> tuple[int, dict[int, list[dict]]]:
    """``(to_version, {version: actions})`` of the commits in
    ``(from_version, to_version]``, the window both change readers
    classify, in version order.  ``to_version`` defaults to the latest
    commit.  Every commit in the window must be present: one removed by log
    cleanup would silently drop its rows from an incremental feed (commits
    at or below ``from_version`` may be cleaned freely — the readers take
    the table state at the window's edge from :func:`replay_log`).  Protocol
    actions inside the window pass the same reader gate as a snapshot."""
    # isdir pre-check (same as DeltaCatalog): a missing directory must be the
    # typed error, not a raw pyarrow FileNotFoundError from the listing
    if not store.isdir(_LOG):
        raise BuzzExecutionError(f"not a Delta table: {table_uri!r}")
    commits = _commit_versions(store)
    if not commits:
        raise BuzzExecutionError(f"not a Delta table: {table_uri!r}")
    latest = commits[-1][0]
    to_version = latest if to_version is None else to_version
    if to_version > latest:
        raise BuzzExecutionError(
            f"Delta table {table_uri!r} has no version {to_version}"
            f" (latest: {latest})"
        )
    if from_version > latest:
        # a stale/bogus cursor (e.g. the table was deleted and recreated)
        # must fail loudly, not return an empty change set every poll forever
        raise BuzzExecutionError(
            f"from_version {from_version} is beyond Delta table "
            f"{table_uri!r}'s latest commit {latest}"
        )
    rels = {v: rel for v, rel in commits if from_version < v <= to_version}
    missing = sorted(
        set(range(max(from_version, -1) + 1, to_version + 1)) - set(rels)
    )
    if missing:
        raise BuzzExecutionError(
            f"Delta log at {table_uri!r} is missing commit(s) "
            f"{missing[:5]}{'...' if len(missing) > 5 else ''} in the change "
            f"window ({from_version}, {to_version}] — history was cleaned up "
            "past the consumer's cursor; re-bootstrap from a full snapshot"
        )
    window = {v: _read_actions(store, rel) for v, rel in sorted(rels.items())}
    for actions in window.values():
        for action in actions:
            if "protocol" in action:
                # replaying e.g. deletion-vector commits unawares would
                # miscount changed rows
                _check_protocol(action["protocol"] or {}, table_uri)
    return to_version, window


def read_delta_changes(
    spark: SparkSession,
    table_uri: str,
    from_version: int,
    to_version: int | None = None,
    region: str | None = None,
) -> DataFrame:
    """Rows ADDED in commits ``(from_version, to_version]`` — incremental
    consumption of an append-history Delta table (change-data-feed-lite),
    the read side of the :func:`~buzz_rust_spark.streaming.delta_sink`
    ingestion loop: a downstream job remembers the last version it processed
    and reads only the new commits' files, never rescanning the table.

    Each row carries ``_commit_version``.  Layout-only commits (OPTIMIZE:
    ``dataChange=False``) are skipped — they change no content.  Commits that
    REMOVE data (overwrite) raise: row-level change semantics for overwrites
    need the full CDF protocol, and silently returning their adds would
    double-count rewritten rows.

    Commits at or below ``from_version`` may have been removed by
    :func:`~.delta_writer.cleanup_delta_log`: the schema and protocol come
    from :func:`replay_log` at ``to_version`` (the newest checkpoint plus
    the JSON commits after it), and only the window's own commits must be
    present.  Scale: that replay plus the window's commits on the driver;
    the data read is a plain distributed scan of exactly the new files,
    partition values re-attached from the log like any Delta scan."""
    from pyspark.sql import functions as F

    from functools import reduce

    from pyspark.sql import functions as F

    store = LogStore(table_uri, region=region)
    to_version, window = _change_window(store, table_uri, from_version, to_version)
    # the schema applied is the table's AS OF to_version, never a later one
    st = replay_log(store, to_version)
    _check_protocol(st.protocol, table_uri)
    ts = table_schema(st.meta, table_uri)
    frames: list[DataFrame] = []
    for version, actions in window.items():
        # DV check FIRST: a real DV delete commit carries remove actions
        # too, and the generic overwrite error would mask the specific
        # diagnosis.  An add carrying a DV is a row-level DELETE in
        # disguise — its "added" file is a re-add of existing data minus
        # some rows, so surfacing it as appended rows would double-count
        # the survivors.
        if any(
            (a["add"].get("deletionVector") or {}).get("storageType")
            for a in actions
            if "add" in a
        ):
            raise BuzzExecutionError(
                f"commit {version} deletes rows via deletion vectors;"
                " incremental changes are only defined over append-only"
                " history"
            )
        if any(
            a["remove"].get("dataChange", True)
            for a in actions
            if "remove" in a
        ):
            raise BuzzExecutionError(
                f"commit {version} removes data (overwrite); incremental"
                " changes are only defined over append-only history"
            )
        adds = [
            a["add"]
            for a in actions
            if "add" in a and a["add"].get("dataChange", True)
        ]
        if adds:
            files = [_log_file(store, add["path"], add, ts) for add in adds]
            frames.append(
                scan_files(spark, ts, files).withColumn(
                    "_commit_version", F.lit(version).cast("long")
                )
            )
    if not frames:
        # empty change set: SAME shape as a non-empty one, so downstream
        # unionByName / fixed-schema sinks behave identically either way
        return scan_files(spark, ts, []).withColumn(
            "_commit_version", F.lit(None).cast("long")
        )
    return reduce(DataFrame.unionByName, frames)


def read_delta_changelog(
    spark: SparkSession,
    table_uri: str,
    from_version: int,
    to_version: int | None = None,
    region: str | None = None,
) -> DataFrame:
    """CDC changelog of commits ``(from_version, to_version]``: the data
    columns (plus partition columns as strings) and ``_change_type`` ∈
    {``insert``, ``delete``} — the retraction-carrying variant of
    :func:`read_delta_changes` (which stays appends-only for
    compatibility), mirroring Delta CDF's semantics for commits without
    explicit CDC files.

    Contract (MULTISET semantics): for a materialized copy ``M`` of the
    from-version snapshot, ``M ∪ inserts ∖ deletes`` is exactly the
    to-version snapshot — order-free application via ``unionAll`` +
    ``exceptAll``.

    RECORDED change data is preferred: when the window's commits carry
    ``cdc`` actions (``delta.enableChangeDataFeed`` tables — this
    writer's merge/delete record exact pre/post images into
    ``_change_data`` parquet), the feed reads those files (update
    pre/post images surface as delete+insert) and derives pure-add
    commits as inserts, never re-reading rewritten data files and never
    churning a cow rewrite's surviving rows.  Windows not fully
    expressible from the record fall back to the always-correct net diff
    below.

    Fallback construction is the NET per-file diff between the live states at
    ``from_version`` and ``to_version`` (O(changed files), zero
    amplification — a cow rewrite's surviving rows cancel out instead of
    surfacing as delete+insert pairs):

    - files live at ``to`` but not at ``from`` → their LOGICAL rows (own
      DV applied) are inserts;
    - files live at ``from`` but not at ``to`` → their logical rows AT
      ``from`` (from-DV applied) are deletes — cow DELETE/MERGE removes,
      truncating overwrites, all expressible;
    - files live at both with a CHANGED deletion vector → rows at the
      newly-deleted positions are deletes (and rows at un-deleted
      positions inserts, were a writer ever to shrink a DV).
    - a range containing ONLY layout commits (OPTIMIZE,
      ``dataChange=False``) nets to equal content: the rewritten files
      surface as cancelling delete+insert pairs (multiset-exact, though
      not minimal) — per-commit dataChange classification cannot be
      skipped in a net-state diff without losing later commits' file
      references.

    Deleted rows are read from the removed files, which stay on disk
    inside the vacuum retention window — same availability contract as
    Delta CDF itself.  The live state at ``from_version`` comes from
    :func:`replay_log` (the newest checkpoint at or below it plus the JSON
    commits after it) and the state at ``to_version`` applies the window's
    commits to it, so commits that :func:`~.delta_writer.cleanup_delta_log`
    removed are no obstacle while ``from_version`` is at or above the
    surviving checkpoint.  A window reaching below the cleanup is a typed
    "missing commit" error: re-bootstrap from a full snapshot."""
    from functools import reduce

    from pyspark.sql import functions as F

    from .deletion_vectors import filter_deleted_rows, read_dv_positions

    store = LogStore(table_uri, region=region)
    _, window_actions = _change_window(
        store, table_uri, from_version, to_version
    )
    # the live state at from_version, then the window's commits on top
    st = replay_log(store, from_version)
    _check_protocol(st.protocol, table_uri)
    base = dict(st.adds)
    for actions in window_actions.values():
        _replay_actions(actions, st)
    live = st.adds
    ts = table_schema(st.meta, table_uri)

    def _dv(entry: dict) -> dict:
        return (
            entry.get("deletionVector")
            if (entry.get("deletionVector") or {}).get("storageType")
            else None
        ) or {}

    def _empty() -> DataFrame:
        return scan_files(spark, ts, []).withColumn(
            "_change_type", F.lit("insert")
        )

    def _entries_scan(
        entries: dict[str, dict], coords: list[tuple[str, int]]
    ) -> DataFrame | None:
        """Logical rows of ``entries`` (each file's DV applied) unioned
        with the rows AT ``coords`` (a (path, pos) semi-filter over those
        files)."""
        parts_out = []
        if entries:
            anti = [
                (store.spark_path(p), int(pos))
                for p, a in entries.items()
                if _dv(a)
                for pos in read_dv_positions(store, _dv(a))
            ]
            files = [_log_file(store, p, a, ts) for p, a in entries.items()]
            parts_out.append(scan_files(spark, ts, files, anti))
        if coords:
            files = [
                _log_file(store, p, base.get(p) or live.get(p), ts)
                for p in sorted({p for p, _ in coords})
            ]
            sel = [(store.spark_path(p), int(pos)) for p, pos in coords]
            parts_out.append(
                filter_deleted_rows(
                    scan_files(spark, ts, files, keep_meta=True),
                    sel,
                    spark,
                    how="left_semi",
                )
            )
        if not parts_out:
            return None
        return reduce(DataFrame.unionByName, parts_out)

    # --- recorded change data (CDF) preferred -------------------------------
    # When a window commit carries `cdc` actions (this writer's merge/
    # delete on a `delta.enableChangeDataFeed` table, or any conformant
    # external writer), the recorded change files are authoritative AND
    # minimal — a cow rewrite's surviving rows never surface as churned
    # delete+insert pairs, and the feed never re-reads the rewritten data
    # files.  The whole window must be expressible: commits with cdc use
    # their files verbatim; pure-add commits derive inserts (PROTOCOL.md's
    # rule for commits without cdc); layout-only commits contribute
    # nothing; anything else (removes or DV adds without cdc) falls back
    # to the net per-file diff below, which is always correct.
    def _cdf_scan() -> DataFrame | None:
        if not any(
            any("cdc" in a for a in acts)
            for acts in window_actions.values()
        ):
            return None  # nothing recorded: keep the existing plan shape
        # the change files carry `_change_type` by that literal name
        change_type = StructField("_change_type", StringType(), True)
        cdc_ts = replace(
            ts,
            data_fields=ts.data_fields + [change_type],
            scan_schema=StructType(ts.scan_schema.fields + [change_type]),
        )
        frames: list[DataFrame] = []
        for v in sorted(window_actions):
            acts = window_actions[v]
            cdcs = [a["cdc"] for a in acts if "cdc" in a]
            if cdcs:
                scan = scan_files(
                    spark,
                    cdc_ts,
                    [_log_file(store, c["path"], c, ts) for c in cdcs],
                )
                frames.append(
                    scan.select(
                        *[c for c in scan.columns if c != "_change_type"],
                        F.when(
                            F.col("_change_type").isin(
                                "insert", "update_postimage"
                            ),
                            F.lit("insert"),
                        )
                        .otherwise(F.lit("delete"))
                        .alias("_change_type"),
                    )
                )
                continue
            adds_v = {
                a["add"]["path"]: a["add"]
                for a in acts
                if "add" in a and a["add"].get("dataChange", True)
            }
            if any(
                a["remove"].get("dataChange", True)
                for a in acts
                if "remove" in a
            ) or any(_dv(x) for x in adds_v.values()):
                return None  # not expressible from the record: net diff
            if adds_v:
                fr = _entries_scan(adds_v, [])
                frames.append(
                    fr.withColumn("_change_type", F.lit("insert"))
                )
        if not frames:
            return _empty()
        return reduce(DataFrame.unionByName, frames)

    recorded = _cdf_scan()
    if recorded is not None:
        return recorded

    # --- net per-file diff (the always-correct fallback) --- computed
    # ONLY here: its DV-diff decodes changed bitmaps driver-side, exactly
    # the O(accumulated positions) cost the recorded path above avoids
    ins_files = {p: a for p, a in live.items() if p not in base}
    del_files = {p: a for p, a in base.items() if p not in live}
    # files live at both ends with a changed DV: positions newly deleted →
    # delete rows; positions un-deleted → insert rows (defensive: no known
    # writer shrinks a DV, but the diff expresses it exactly)
    dv_del: list[tuple[str, int]] = []  # (path, pos) to emit as deletes
    dv_ins: list[tuple[str, int]] = []
    for p in set(base) & set(live):
        bdv, cdv = _dv(base[p]), _dv(live[p])
        if bdv == cdv:
            continue
        bpos = set(read_dv_positions(store, bdv)) if bdv else set()
        cpos = set(read_dv_positions(store, cdv)) if cdv else set()
        dv_del.extend((p, pos) for pos in sorted(cpos - bpos))
        dv_ins.extend((p, pos) for pos in sorted(bpos - cpos))

    inserts = _entries_scan(ins_files, dv_ins)
    deletes = _entries_scan(del_files, dv_del)
    out = None
    if inserts is not None:
        out = inserts.withColumn("_change_type", F.lit("insert"))
    if deletes is not None:
        d = deletes.withColumn("_change_type", F.lit("delete"))
        out = d if out is None else out.unionByName(d)
    if out is None:
        return _empty()
    return out
