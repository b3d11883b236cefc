"""Delta Lake catalog: snapshot of a Delta table as file list + partition values.

Reference: code/src/datasource/catalog/delta_catalog.rs — loads the Delta log
via delta-rs, builds the file list from ``add`` actions (with ``remove``
handling so overwritten files disappear from the snapshot,
delta_catalog.rs:150-177), partition values from ``partitionValues`` (always
strings, delta_catalog.rs:73-77), and the table schema from the Delta metadata
``schemaString`` (delta_catalog.rs:133-140).

This rebuild parses the ``_delta_log`` directly (the log format is an open
spec) instead of depending on delta-spark, then delegates scanning to
:class:`StaticCatalog`.  Delta's ``schemaString`` *is* Spark StructType JSON,
so the schema conversion is exact.  One function, :func:`replay_log`,
rebuilds a table's state for this reader, the change readers
(:func:`read_delta_changes`, :func:`read_delta_changelog`) and the writer
(``delta_writer._log_state``): the newest checkpoint — classic
single-file, complete classic multi-part sets, or UUID-named V2 manifests
with ``_sidecars`` (the ``v2Checkpoint`` feature), found from the
``_last_checkpoint`` pointer or a log listing — then the JSON commits after
it, as delta-rs loads a snapshot in the reference.

All log IO goes through :class:`~buzz_rust_spark.sources.logstore.LogStore`,
so tables can live on any filesystem pyarrow speaks — local paths, ``s3://``
/ ``s3a://`` buckets (``region`` maps to the reference's region-scoped S3
client, delta_catalog.rs:33-48 ``try_new(uri, region)``), or any
``FileSystem.from_uri`` scheme; data files keep their original URIs so the
distributed scan reads them through Spark's own connectors (S3A etc.).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from ..errors import BuzzExecutionError
from .logstore import LogStore
from .manifest import CatalogFile, attach_partitions, join_partitions
from .static_catalog import StaticCatalog

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


def _mapping_info(meta: dict, table_uri: str) -> tuple[str, dict[str, str]]:
    """(columnMapping mode, logical→physical field-name map).

    ``delta.columnMapping.mode=name``: the parquet files carry stable
    PHYSICAL names (``col-<uuid>``) from the schema field metadata; readers
    scan by physical name and present logical names.  ``mode=id``: readers
    resolve parquet columns by FIELD ID (``delta.columnMapping.id``) via
    Spark's fieldId read — physical names become irrelevant for the scan,
    but the log's partitionValues/stats keys are STILL physical under both
    modes, so the name map is returned for those lookups regardless.
    Unknown modes are a typed refusal (a misread would silently return
    wrong columns)."""
    config = meta.get("configuration") or {}
    mode = config.get("delta.columnMapping.mode", "none") or "none"
    if mode not in ("none", "name", "id"):
        from ..errors import BuzzNotImplementedError

        raise BuzzNotImplementedError(
            f"Delta table {table_uri!r} uses columnMapping.mode={mode!r}; "
            "'name', 'id', and 'none' are implemented"
        )
    if mode == "none":
        return mode, {}
    fields = json.loads(meta["schemaString"])["fields"]
    out = {}
    for f in fields:
        md = f.get("metadata") or {}
        out[f["name"]] = md.get("delta.columnMapping.physicalName", f["name"])
    return mode, out


def _field_id_schema(meta: dict, fields, table_uri: str):
    """Logical-named scan schema carrying ``parquet.field.id`` metadata
    (``delta.columnMapping.id``) for columnMapping mode=id reads."""
    from ..errors import BuzzNotImplementedError

    raw = {
        f["name"]: (f.get("metadata") or {}).get("delta.columnMapping.id")
        for f in json.loads(meta["schemaString"])["fields"]
    }
    missing = [f.name for f in fields if raw.get(f.name) is None]
    if missing:
        raise BuzzNotImplementedError(
            f"Delta table {table_uri!r} declares columnMapping.mode=id but "
            f"fields {missing} lack delta.columnMapping.id — cannot resolve"
        )
    return StructType(
        [
            StructField(
                f.name,
                f.dataType,
                f.nullable,
                {"parquet.field.id": int(raw[f.name])},
            )
            for f in fields
        ]
    )


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
        live, meta = st.adds, st.meta
        if not meta:
            raise BuzzExecutionError(
                f"Delta log at {self.table_uri!r} contains no metaData action"
            )
        # the commit version this snapshot RESOLVED to — the requested
        # time-travel version, or the latest replayed commit (incremental
        # consumers use it as their cursor)
        self.resolved_version: int = st.version

        full = StructType.fromJson(json.loads(meta["schemaString"]))
        # logical name → Spark type for the whole declared schema (the
        # zone-map domain guard keys on it)
        self._logical_types = {f.name: f.dataType for f in full.fields}
        self.partition_cols: list[str] = list(meta.get("partitionColumns", []))
        # Column mapping (reader protocol 2): mode=name scans by the stable
        # PHYSICAL names (col-<uuid>) and renames back to logical; mode=id
        # scans by logical names with parquet field-id resolution (Spark's
        # fieldId read over delta.columnMapping.id) — no rename needed.
        # Under BOTH modes the log's partitionValues/stats keys are
        # physical, so the name map feeds those lookups either way.
        mode, phys = _mapping_info(meta, self.table_uri)
        self._phys = phys if mode == "name" else None
        self._cm_id = mode == "id"
        data_fields = [f for f in full.fields if f.name not in self.partition_cols]
        self._logical_data_cols = [f.name for f in data_fields]
        if mode == "name":
            self.schema = StructType(
                [
                    StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
                    for f in data_fields
                ]
            )
        elif mode == "id":
            self.schema = _field_id_schema(meta, data_fields, self.table_uri)
        else:
            self.schema = StructType(data_fields)

        self.files = [
            _log_file(store, add["path"], add, self.partition_cols, phys)
            for add in live.values()
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
        inv = {p: l for l, p in phys.items()}

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

    def _static(self) -> StaticCatalog:
        return StaticCatalog(
            name=self.name,
            schema=self.schema,
            files=self.files,
            partition_cols=self.partition_cols,
        )

    def pruned_files(self, spark, partition_filter):
        return self._static().pruned_files(spark, partition_filter)

    # above this many decoded deleted positions the anti-join side is left
    # un-hinted (shuffle join) instead of broadcast — DVs this large mean the
    # writer's rewrite-compaction policy is off, and an 8 GB broadcast OOM is
    # a worse failure than one shuffle of the filter relation
    DV_BROADCAST_MAX = 2_000_000

    def _dv_scan(self, spark: SparkSession, files: list[CatalogFile]) -> DataFrame:
        """Scan data files that carry a deletion vector, with deleted rows
        filtered out.

        Shape: each parquet scan selects the data columns plus
        ``_metadata.file_path`` as ``__rawpath`` and
        ``_metadata.row_index`` (the file-ordinal Delta DVs index by);
        partition values attach through :func:`~.manifest.attach_partitions`
        (per-tuple literal unions, or one scan + broadcast manifest join on
        that ``__rawpath`` past its bound — a broad DV delete over a
        date-partitioned table must not build an O(partitions) union plan);
        then ONE anti-join of (file, row index) against the decoded deleted
        positions — broadcast below DV_BROADCAST_MAX, so the common case
        adds zero shuffles to the plan.  DV decode itself is driver-side
        metadata work, like the log replay (bitmaps are compressed;
        cardinality is bounded by writer compaction policy)."""
        from pyspark.sql import functions as F

        from .deletion_vectors import filter_deleted_rows, read_dv_positions

        deleted = [
            (f.key, int(p))
            for f in files
            for p in read_dv_positions(self._store, self._dv_by_key[f.key])
        ]
        scan = attach_partitions(
            spark,
            files,
            self.partition_cols,
            # _metadata resolves only on a scan relation, never through a
            # union: the select happens inside each scan
            lambda paths: spark.read.schema(self.schema)
            .parquet(*paths)
            .select(
                "*",
                F.col("_metadata.file_path").alias("__rawpath"),
                F.col("_metadata.row_index").alias("__ridx"),
            ),
        )
        return filter_deleted_rows(scan, deleted, spark, self.DV_BROADCAST_MAX)

    def to_dataframe(
        self,
        spark: SparkSession,
        partition_filter: str | None = None,
        stats_filter: str | None = None,
    ) -> DataFrame:
        """Snapshot scan.  ``stats_filter`` is a ROW predicate (any Spark
        SQL) applied to the scan — and additionally used to skip whole
        files whose log-recorded ``stats`` min/max provably exclude it
        (zone-map pruning on non-partition columns, the read-side payoff
        of ``optimize_delta(zorder_by=...)``; zero extra metadata I/O —
        the stats rode along in the log replay).  Results are exact
        whether or not any file prunes."""
        drop: set[str] = set()
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
            from pyspark.sql.types import NumericType, StringType

            def _domain_ok(col, val):
                dt = self._logical_types.get(col)
                elems = val if isinstance(val, list) else [val]
                if isinstance(dt, StringType):
                    return all(isinstance(v, str) for v in elems)
                if isinstance(dt, NumericType):
                    return all(not isinstance(v, str) for v in elems)
                return False

            conjs = [(c, o, v) for c, o, v in conjs if _domain_ok(c, v)]
            if conjs:
                kept = {
                    f.key
                    for f in prune_files_by_stats(
                        self.files, stats_from_delta_log(self), conjs
                    )
                }
                drop = {f.key for f in self.files} - kept
        if self._cm_id:
            # columnMapping mode=id: the scan schema carries
            # parquet.field.id metadata; resolution by id needs the conf on
            # (no-op for scans whose schema has no ids)
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        dv_keys = getattr(self, "_dv_by_key", {})
        if not dv_keys:
            static = self._static()
            if drop:
                from dataclasses import replace as _dc_replace

                static = _dc_replace(
                    static,
                    files=[f for f in static.files if f.key not in drop],
                )
            df = static.to_dataframe(spark, partition_filter)
        else:
            from functools import reduce

            files = self.pruned_files(spark, partition_filter)
            if drop:
                files = [f for f in files if f.key not in drop]
            plain = [f for f in files if f.key not in dv_keys]
            dv_files = [f for f in files if f.key in dv_keys]
            parts = []
            if plain or not dv_files:
                # pre-pruned plain subset (or the empty-result shape)
                parts.append(
                    StaticCatalog(
                        name=self.name,
                        schema=self.schema,
                        files=plain,
                        partition_cols=self.partition_cols,
                    ).to_dataframe(spark)
                )
            if dv_files:
                parts.append(self._dv_scan(spark, dv_files))
            df = reduce(DataFrame.unionByName, parts)
        if self._phys:
            from pyspark.sql import functions as F

            # physical → logical rename; partition columns (attached by the
            # static scan under their logical names) pass through
            df = df.select(
                *[
                    F.col(self._phys.get(n, n)).alias(n)
                    for n in self._logical_data_cols
                ],
                *[F.col(c) for c in self.partition_cols],
            )
        # AFTER the physical→logical rename: the predicate names logical
        # columns (pruning above matched them too — the log's stats keys
        # are translated at load)
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


def _log_file(
    store: LogStore,
    path: str,
    entry: dict,
    partition_cols: list[str],
    phys_all: dict[str, str],
) -> CatalogFile:
    """The CatalogFile of one add/cdc log entry.  Partition tuple keys are
    LOGICAL names (how callers filter); ``partitionValues`` keys are
    PHYSICAL under both mapping modes, hence the lookup through
    ``phys_all``.  Delta serializes a null partition value as JSON null: it
    stays None (→ SQL NULL), never the string 'None', which would break
    ``col IS NULL`` pruning and wrongly match ``= 'None'``."""
    pv = entry.get("partitionValues") or {}
    return CatalogFile(
        key=store.spark_path(path),
        length=int(entry.get("size", 0)),
        partitions=tuple(
            (c, None if (v := pv.get(phys_all.get(c, c))) is None else str(v))
            for c in partition_cols
        ),
    )


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

    store = LogStore(table_uri, region=region)
    to_version, window = _change_window(store, table_uri, from_version, to_version)
    # the schema applied is the table's AS OF to_version, never a later one
    st = replay_log(store, to_version)
    _check_protocol(st.protocol, table_uri)
    meta = st.meta
    if not meta:
        raise BuzzExecutionError(
            f"Delta log at {table_uri!r} contains no metaData action"
        )
    per_version: dict[int, list[dict]] = {}
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
            per_version[version] = adds

    full = StructType.fromJson(json.loads(meta["schemaString"]))
    partition_cols = list(meta.get("partitionColumns", []))
    # column mapping: mode=name scans physical names and renames back;
    # mode=id scans logical names with parquet field-id resolution — same
    # translation as DeltaCatalog._load_snapshot
    cm_mode, phys_all = _mapping_info(meta, table_uri)
    phys = phys_all if cm_mode == "name" else {}
    data_fields = [f for f in full.fields if f.name not in partition_cols]
    logical_data_cols = [f.name for f in data_fields]
    if cm_mode == "id":
        data_schema = _field_id_schema(meta, data_fields, table_uri)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    else:
        data_schema = StructType(
            [
                StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
                for f in data_fields
            ]
        )

    out: DataFrame | None = None
    for version, adds in sorted(per_version.items()):
        cat = StaticCatalog(
            name="_changes",
            schema=data_schema,
            partition_cols=partition_cols,
            files=[
                _log_file(store, add["path"], add, partition_cols, phys_all)
                for add in adds
            ],
        )
        part = cat.to_dataframe(spark)
        if phys:
            part = part.select(
                *[
                    F.col(phys.get(n, n)).alias(n)
                    for n in logical_data_cols
                ],
                *[F.col(c) for c in partition_cols],
            )
        part = part.withColumn(
            "_commit_version", F.lit(version).cast("long")
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        # empty change set: SAME shape as a non-empty one (data columns,
        # then partition columns as strings — how StaticCatalog attaches
        # them — then the version tag), so downstream unionByName /
        # fixed-schema sinks behave identically either way
        from pyspark.sql.types import StringType

        empty = StructType(
            # LOGICAL data fields (the non-empty path renames physical →
            # logical before returning, so the empty shape must match)
            list(data_fields)
            + [StructField(c, StringType()) for c in partition_cols]
        )
        df = spark.createDataFrame([], empty)
        return df.withColumn("_commit_version", F.lit(None).cast("long"))
    return out


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
    live, meta = st.adds, st.meta
    if not meta:
        raise BuzzExecutionError(
            f"Delta log at {table_uri!r} contains no metaData action"
        )

    def _dv(entry: dict) -> dict:
        return (
            entry.get("deletionVector")
            if (entry.get("deletionVector") or {}).get("storageType")
            else None
        ) or {}

    # --- schema machinery (same translation as read_delta_changes) ---
    full = StructType.fromJson(json.loads(meta["schemaString"]))
    partition_cols = list(meta.get("partitionColumns", []))
    cm_mode, phys_all = _mapping_info(meta, table_uri)
    phys = phys_all if cm_mode == "name" else {}
    data_fields = [f for f in full.fields if f.name not in partition_cols]
    logical_data_cols = [f.name for f in data_fields]
    if cm_mode == "id":
        data_schema = _field_id_schema(meta, data_fields, table_uri)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    else:
        data_schema = StructType(
            [
                StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
                for f in data_fields
            ]
        )
    from pyspark.sql.types import StringType

    empty = StructType(
        list(data_fields)
        + [StructField(c, StringType(), True) for c in partition_cols]
        + [StructField("_change_type", StringType(), False)]
    )

    def _entries_scan(
        entries: dict[str, dict], coords: list[tuple[str, int]]
    ) -> DataFrame | None:
        """Logical rows of ``entries`` (each file's DV applied as an
        anti-filter) unioned with the rows AT ``coords`` (a (path, pos)
        semi-filter over those files) — one scan per group, partition
        values re-attached from the log by
        :func:`~.manifest.join_partitions`."""
        files = dict(entries)
        coord_paths = {p for p, _ in coords}
        parts_out = []
        if files:
            anti = [
                (store.spark_path(p), int(pos))
                for p, a in files.items()
                if _dv(a)
                for pos in read_dv_positions(store, _dv(a))
            ]
            scan = spark.read.schema(data_schema).parquet(
                *[store.spark_path(p) for p in files]
            ).select(
                "*",
                F.col("_metadata.file_path").alias("__rawpath"),
                F.col("_metadata.row_index").alias("__ridx"),
            )
            if anti:
                scan = filter_deleted_rows(
                    scan, anti, spark, drop_path=False
                )
            parts_out.append(scan.drop("__ridx"))
        if coords:
            cscan = spark.read.schema(data_schema).parquet(
                *sorted({store.spark_path(p) for p in coord_paths})
            ).select(
                "*",
                F.col("_metadata.file_path").alias("__rawpath"),
                F.col("_metadata.row_index").alias("__ridx"),
            )
            sel = [(store.spark_path(p), int(pos)) for p, pos in coords]
            cscan = filter_deleted_rows(
                cscan, sel, spark, drop_path=False, how="left_semi"
            )
            parts_out.append(cscan.drop("__ridx"))
        if not parts_out:
            return None
        from functools import reduce

        # partition values from the log, joined on the scans' __rawpath
        logged = dict(files)
        logged.update({p: (base.get(p) or live.get(p)) for p in coord_paths})
        out = join_partitions(
            spark,
            reduce(DataFrame.unionByName, parts_out),
            [
                _log_file(store, p, a, partition_cols, phys_all)
                for p, a in logged.items()
            ],
            partition_cols,
        )
        return out.select(
            *[
                F.col(phys.get(n, n)).alias(n)
                for n in logical_data_cols
            ],
            *[F.col(c) for c in partition_cols],
        )

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
        from functools import reduce

        if not any(
            any("cdc" in a for a in acts)
            for acts in window_actions.values()
        ):
            return None  # nothing recorded: keep the existing plan shape
        cdc_schema = StructType(
            list(data_schema.fields)
            + [StructField("_change_type", StringType(), True)]
        )
        frames: list[DataFrame] = []
        for v in sorted(window_actions):
            acts = window_actions[v]
            cdcs = [a["cdc"] for a in acts if "cdc" in a]
            if cdcs:
                scan = (
                    spark.read.schema(cdc_schema)
                    .parquet(
                        *sorted(store.spark_path(c["path"]) for c in cdcs)
                    )
                    .select(
                        "*", F.col("_metadata.file_path").alias("__rawpath")
                    )
                )
                scan = join_partitions(
                    spark,
                    scan,
                    [
                        _log_file(store, c["path"], c, partition_cols, phys_all)
                        for c in cdcs
                    ],
                    partition_cols,
                )
                frames.append(
                    scan.select(
                        # name mode reads physical column names (mapped
                        # back here); id mode resolves by field id and
                        # already surfaces logical names
                        *[
                            F.col(phys.get(n, n)).alias(n)
                            for n in logical_data_cols
                        ],
                        *[F.col(cc) for cc in partition_cols],
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
            return spark.createDataFrame([], empty)
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
        return spark.createDataFrame([], empty)
    return out
