"""Delta Lake write path: commit-log writer producing open-spec ``_delta_log``
JSON (protocol / metaData / add / remove actions) plus periodic parquet
checkpoints with a ``_last_checkpoint`` pointer.

The reference has no write path at all (SURVEY.md §2.A "Sinks: none"); its
Delta support is read-only via delta-rs (delta_catalog.rs:33-48).  This module
is the rebuild's sink extension: tables written here are read back by
:class:`DeltaCatalog` — snapshot isolation (readers of version N never see a
torn write), ``mode="overwrite"`` emits ``remove`` actions so old files leave
the snapshot, and every commit is a time-travel point.

Scale notes: the data write is a plain distributed ``df.write.parquet`` (one
task per partition, no driver materialization); only the file *listing* —
O(files), kilobytes per commit — passes through the driver, which is exactly
how Delta's own commit protocol works.  Commits are optimistic: the versioned
JSON filename is claimed through the commit store's conditional put
(``sources/write_store.py`` — PROTOCOL.md's "write a given log entry once"
LogStore contract), so a concurrent writer loses the race with a typed
retryable ``BuzzCommitConflictError`` instead of corrupting the log.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import replace
from glob import glob
from urllib.parse import unquote

from pyspark.sql import DataFrame

from ..errors import (
    BuzzBadRequestError,
    BuzzCommitAbortedError,
    BuzzError,
    BuzzExecutionError,
    BuzzSchemaError,
)
from .delta_catalog import (
    LogState,
    _log_file,
    _mapping_info,
    _replay_actions,
    replay_log,
    scan_files,
    table_schema,
)
from .logstore import LogStore
from .write_store import commit_with_retry, default_store

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

# Writer protocol 7 is feature-gated (like reader 3 on the catalog side):
# accepted iff every listed writerFeature is one this writer implements.
# delete_delta(mode="dv") upgrades a table to DV_PROTOCOL, so the writer must
# keep understanding its own upgrade — and refuse e.g. an appendOnly or
# invariants table it would silently violate.  changeDataFeed is implemented:
# merge/delete commits on a `delta.enableChangeDataFeed=true` table emit
# `_change_data` parquet + `cdc` actions per PROTOCOL.md.
SUPPORTED_WRITER_FEATURES = {
    "deletionVectors", "columnMapping", "typeWidening", "changeDataFeed",
    "appendOnly",  # enforced operationally: _require_not_append_only
    # v2Checkpoint tables are writable: commits carry plain actions (the
    # feature only governs CHECKPOINT format), and _write_checkpoint
    # emits the spec-V2 form there (UUID manifest + _sidecars) — a
    # classic checkpoint on such a table would be non-conformant.
    "v2Checkpoint",
    # enforced on every staged frame by _enforce_table_rules (write,
    # merge, delete-rewrite survivors); generated columns additionally
    # COMPUTED when absent by _apply_generated_columns
    "checkConstraints", "invariants", "generatedColumns",
    # top-level identity columns are GENERATED on write (start/step
    # arithmetic above the recorded high water mark, which every
    # value-adding commit advances atomically via a metaData action —
    # _identity_columns/_assign_identity/_identity_bump); nested
    # identity metadata stays a typed refusal
    "identityColumns",
    # TIMESTAMP_NTZ columns round-trip natively through Spark
    "timestampNtz",
    # the feature's only writer obligation is that VACUUM reads the
    # protocol before deleting — vacuum_delta replays the log (through
    # the protocol gate) before touching any file
    "vacuumProtocolCheck",
    # commits on delta.enableInCommitTimestamps tables carry commitInfo
    # with a monotonic inCommitTimestamp as their FIRST action
    # (prepended centrally in _claim_commit)
    "inCommitTimestamp",
    # adds on delta.enableRowTracking tables carry baseRowId +
    # defaultRowCommitVersion with the rowIdHighWaterMark advanced via a
    # domainMetadata action per commit (assigned centrally in
    # _claim_commit); fresh row ids only — rewrites re-mint (the
    # preserved-ids guarantee needs materialized row-id columns, a
    # documented boundary)
    "rowTracking",
}
DV_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}



def _local_table_dir(table_uri: str) -> str:
    """Local filesystem directory for a table URI the WRITE path supports.

    The write side is local-filesystem only (os-level staging,
    O_EXCL commit claims); the READ side (LogStore) is scheme-agnostic.
    Anything else must fail up front — ``removeprefix`` alone would
    silently create a literal './s3:/bucket/...' directory next to real
    S3 data written by Spark."""
    if "://" in table_uri and not table_uri.startswith("file://"):
        raise BuzzBadRequestError(
            f"delta WRITE path supports local file URIs only, got"
            f" {table_uri!r} (reads are scheme-agnostic via LogStore)"
        )
    return table_uri.removeprefix("file://")

def _log_state(log_dir: str, upto: int | None = None) -> LogState:
    """The :class:`~.delta_catalog.LogState` of the table whose log is
    ``log_dir``, through the reader's checkpoint-aware
    :func:`~.delta_catalog.replay_log` — so a table whose early commits
    :func:`cleanup_delta_log` removed replays whole.  A fresh table is
    version -1 with an empty state; a table that never wrote a protocol
    action gets this writer's base :data:`PROTOCOL`.  ``upto`` bounds the
    replay at a version (inclusive): the state AS OF it, which
    :func:`restore_delta` diffs against the current one, :func:`clone_delta`
    copies and :func:`_write_checkpoint` materializes.

    Every writer entry point (:func:`write_delta`, :func:`merge_delta`,
    :func:`delete_delta`, :func:`update_delta`, :func:`truncate_delta`,
    :func:`restore_delta`, :func:`optimize_delta`, :func:`add_files_delta`,
    :func:`clone_delta`, :func:`vacuum_delta`, :func:`set_delta_properties`,
    :func:`evolve_delta`) replays once through here and passes the
    returned state on: to its txn idempotence check (``txns``), to the
    protocol readers (:func:`_append_only_active`, :func:`_cdf_active`, the
    protocol basis its retries compare against) and to
    :func:`_claim_commit`, whose :func:`_commit_protocol_extensions` mints
    row ids and in-commit timestamps from it.  A lost commit race re-replays
    here (the retry loops of :func:`write_delta`,
    :func:`_claim_rewrite_commit` and :func:`set_delta_properties`) and
    claims from the refreshed state.  An unbounded replay also runs the
    writer gate."""
    st = replay_log(LogStore(os.path.dirname(log_dir)), upto)
    st.protocol = st.protocol or dict(PROTOCOL)
    if upto is None:
        # the gate runs AFTER the replay: legacy writer version 5 is only
        # acceptable in light of the final metaData (column mapping yes,
        # invariants/generated/CDF/identity no), which a mid-log check
        # can't see; an as-of replay is not re-gated against a historical
        # protocol — the caller already gated on a full replay
        _check_writer_protocol(st.protocol, st.meta, log_dir)
    return st


def _check_writer_protocol(proto: dict, meta: dict, log_dir: str) -> None:
    """Spec: a writer MUST refuse tables whose writer protocol exceeds what
    it implements — committing plain actions to e.g. an identity-column
    table would corrupt it.

    CHECK constraints (v3), field invariants (v2, struct paths included),
    and generated columns (v4) are ENFORCED on every staged frame
    (:func:`_enforce_table_rules` / :func:`_apply_generated_columns`);
    identity columns (v6) are ALLOCATED on write with the high water
    mark advanced atomically (:func:`_assign_identity` /
    :func:`_identity_bump`) — so tables carrying them are writable.
    Change data feed (v4) and column mapping (v5) are implemented, and
    append-only (v2) is enforced at the operation level
    (_require_not_append_only).  The remaining typed refusals when IN
    USE: rules on fields this writer cannot address row-wise (identity
    or generation metadata on nested fields, invariants inside
    array/map elements).  Writer 7 iff every listed writerFeature is
    implemented.  An unknown column-mapping mode refuses too
    (:func:`~.delta_catalog._mapping_info`): no reader resolves the files
    a write under it would stage."""
    _mapping_info(meta, os.path.dirname(log_dir))
    writer_v = int(proto.get("minWriterVersion", 2))

    def _unenforceable() -> list[str]:
        """Capabilities the table USES that this writer would silently
        violate: identity columns anywhere, and invariants / generation
        expressions on fields nested inside array or map elements (no
        row-wise expression can address those; struct paths are fine —
        _table_rules evaluates them)."""
        if not meta:
            return []
        out: list[str] = []

        def walk(fields, top, reachable):
            # `top` = a direct table column (generated and identity
            # columns are only computed/allocated there); `reachable` =
            # addressable by a row-wise struct path (invariants there
            # are enforced); anything under an array/map element is
            # neither
            for f in fields:
                for k in f.get("metadata") or {}:
                    if k.startswith("delta.identity.") and not top:
                        out.append(f"{k} (on a nested field)")
                    elif k == "delta.invariants" and not reachable:
                        out.append(f"{k} (inside array/map)")
                    elif k.startswith("delta.generationExpression") and not top:
                        out.append(f"{k} (on a nested field)")
                stack = [(f.get("type"), reachable)]
                while stack:
                    t, r = stack.pop()
                    if not isinstance(t, dict):
                        continue
                    if t.get("type") == "struct":
                        walk(t.get("fields") or [], False, r)
                        continue
                    # array/map wrappers: descend into element AND both
                    # map sides (a struct nested in a map KEY can carry
                    # hazard metadata too) — nothing under them is
                    # row-wise addressable
                    stack.extend(
                        (t.get(k), False)
                        for k in ("elementType", "keyType", "valueType")
                        if t.get(k) is not None
                    )

        walk(
            json.loads(meta.get("schemaString", '{"fields": []}'))["fields"],
            True,
            True,
        )
        return out

    if writer_v <= PROTOCOL["minWriterVersion"]:
        # legacy ≤2 still implies field INVARIANTS — a table actually
        # carrying one must be refused, not silently violated
        hazards = _unenforceable()
        if hazards:
            from ..errors import BuzzNotImplementedError

            raise BuzzNotImplementedError(
                f"Delta table at {log_dir!r} declares {sorted(hazards)}, "
                "which this writer does not enforce — refusing to commit "
                "rows that could violate them"
            )
        return
    # a v7 protocol MUST list its writerFeatures; a missing list is
    # malformed and stays refused (feats=None)
    feats = (
        set(proto["writerFeatures"])
        if writer_v == 7 and proto.get("writerFeatures") is not None
        else None
    )
    if feats is not None and feats <= SUPPORTED_WRITER_FEATURES:
        return
    if 3 <= writer_v <= 6 and meta and not _unenforceable():
        # legacy 3-6 bundle CHECK constraints / CDF+generated columns /
        # column mapping / identity columns.  CDF and column mapping are
        # implemented (mutations emit cdc actions when enabled; mapped
        # reads/writes resolve physical names), constraints / invariants /
        # generated columns are ENFORCED on every staged frame
        # (_enforce_table_rules), append-only at the operation level
        # (_require_not_append_only); only the genuinely unenforceable
        # capabilities (identity columns, array/map-nested rules) refuse
        # above when actually in use
        return
    from ..errors import BuzzNotImplementedError

    hazards = _unenforceable()
    raise BuzzNotImplementedError(
        f"Delta table at {log_dir!r} requires minWriterVersion={writer_v}"
        + (f" with writer features {sorted(feats)}" if feats else "")
        + (
            f" and uses unenforced capabilities {sorted(hazards)}"
            if hazards
            else ""
        )
        + f"; this writer implements {PROTOCOL['minWriterVersion']},"
        " writer-2/3 invariants and CHECK constraints, writer-4 change"
        " data feed and generated columns, writer-5 column mapping, and"
        f" writer-7 features {sorted(SUPPORTED_WRITER_FEATURES)}"
    )


def _require_id_rewritable(meta: dict, table_uri: str, op: str) -> None:
    """Rewrites under columnMapping mode=id re-emit ``parquet.field.id``
    footers on every staged file: top-level ids ride Spark's StructField
    metadata (:func:`_to_physical_frame`; :func:`optimize_delta`
    re-stamps after its raw round-trip — Spark's schema inference drops
    footer ids), and NESTED field ids — which Spark's top-level-only
    field-id metadata cannot carry — are re-emitted by a pyarrow
    post-pass over every staged file (:func:`_restamp_nested_ids`,
    round-11).  The remaining refusal: an id-mode table whose
    schemaString LACKS a mapping id on some nested struct field — the
    post-pass would have to invent ids, breaking external field-id
    readers.  mode=name needs no ids at all."""
    config = ((meta or {}).get("configuration") or {})
    mode = config.get("delta.columnMapping.mode", "none") or "none"
    if mode != "id":
        return

    missing: list[str] = []

    def walk(fields, prefix):
        for f in fields:
            path = f"{prefix}{f['name']}"
            if prefix and (f.get("metadata") or {}).get(
                "delta.columnMapping.id"
            ) is None:
                missing.append(path)
            stack = [f.get("type")]
            while stack:
                t = stack.pop()
                if not isinstance(t, dict):
                    continue
                if t.get("type") == "struct":
                    walk(t.get("fields") or [], path + ".")
                    continue
                stack.extend(
                    t.get(k)
                    for k in ("elementType", "keyType", "valueType")
                    if t.get(k) is not None
                )

    walk(json.loads(meta["schemaString"])["fields"], "")
    if missing:
        from ..errors import BuzzNotImplementedError

        raise BuzzNotImplementedError(
            f"{op} on the columnMapping.mode=id Delta table at "
            f"{table_uri!r}: nested fields {missing} carry no "
            "delta.columnMapping.id — staged rewrite files cannot "
            "re-emit resolvable inner field ids"
        )


def _nested_id_restamp_needed(meta: dict | None) -> bool:
    """Whether staged files need the pyarrow nested-field-id post-pass:
    columnMapping mode=id AND nested top-level columns (flat tables get
    every id through Spark's field-id metadata already)."""
    mode, _, _ = _mapping_info(meta or {})
    if mode != "id":
        return False
    from pyspark.sql.types import ArrayType, MapType, StructType

    return any(
        isinstance(f.dataType, (StructType, ArrayType, MapType))
        for f in _declared_schema(meta).fields
    )


def _restamp_nested_ids(
    paths: list[str], meta: dict, extra_ok: set[str] = frozenset()
) -> None:
    """Rewrite staged parquet files so EVERY field — nested struct members
    included — carries its ``delta.columnMapping.id`` as a parquet footer
    ``field_id`` (the id-mode invariant external field-id readers rely
    on).  Spark's writer can only stamp top-level ids (StructField
    metadata), so nested ids are attached here: each file is read back
    with pyarrow, its schema rebuilt with ``PARQUET:field_id`` metadata
    from the table's schemaString (structs matched by field name at each
    level, array/map wrappers descended), and rewritten in place —
    arrays are NOT copied (``Table.from_arrays`` re-wraps the same
    buffers), so the cost is one parquet decode+encode per staged file,
    executor-sized files, before promotion.  ``extra_ok`` names columns
    allowed to pass through without an id (``_change_type`` on CDF
    change files — the spec stores it by literal name, unmapped)."""
    if not paths or not _nested_id_restamp_needed(meta):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields_json = json.loads(meta["schemaString"])["fields"]
    _, phys, _ = _mapping_info(meta)
    by_phys = {phys.get(f["name"], f["name"]): f for f in fields_json}

    def field_with_ids(pa_field, dj):
        md = (dj.get("metadata") or {}).get("delta.columnMapping.id")
        if md is None:
            raise BuzzSchemaError(
                f"columnMapping.mode=id table lacks a mapping id for "
                f"field {dj.get('name')!r} — cannot stamp staged files"
            )
        return pa.field(
            pa_field.name,
            type_with_ids(pa_field.type, dj["type"]),
            pa_field.nullable,
            metadata={b"PARQUET:field_id": str(int(md)).encode()},
        )

    def type_with_ids(pa_type, dt):
        if pa.types.is_struct(pa_type) and isinstance(dt, dict):
            by_name = {f["name"]: f for f in dt.get("fields") or []}
            children = []
            for i in range(pa_type.num_fields):
                ch = pa_type.field(i)
                dj = by_name.get(ch.name)
                if dj is None:
                    raise BuzzSchemaError(
                        f"staged file struct member {ch.name!r} is not in "
                        "the table schemaString — cannot stamp field ids"
                    )
                children.append(field_with_ids(ch, dj))
            return pa.struct(children)
        if (
            pa.types.is_list(pa_type) or pa.types.is_large_list(pa_type)
        ) and isinstance(dt, dict):
            vf = pa_type.value_field
            inner = pa.field(
                vf.name,
                type_with_ids(vf.type, dt.get("elementType")),
                vf.nullable,
            )
            return (
                pa.large_list(inner)
                if pa.types.is_large_list(pa_type)
                else pa.list_(inner)
            )
        if pa.types.is_map(pa_type) and isinstance(dt, dict):
            return pa.map_(
                type_with_ids(pa_type.key_type, dt.get("keyType")),
                type_with_ids(pa_type.item_type, dt.get("valueType")),
            )
        return pa_type

    for p in paths:
        t = pq.read_table(p)
        new_fields = []
        for f in t.schema:
            dj = by_phys.get(f.name)
            if dj is None:
                if f.name in extra_ok:
                    new_fields.append(f)
                    continue
                raise BuzzSchemaError(
                    f"staged file column {f.name!r} is not in the table "
                    "schemaString — cannot stamp field ids"
                )
            new_fields.append(field_with_ids(f, dj))
        pq.write_table(
            pa.Table.from_arrays(t.columns, schema=pa.schema(new_fields)),
            p,
            compression="snappy",
        )


def _table_rules(
    meta: dict,
) -> tuple[dict[str, str], list[tuple[str, str]], list[tuple[str, str]]]:
    """The table's declared data rules: (CHECK constraints {name: expr} from
    ``delta.constraints.*`` configuration, column invariants [(path, expr)]
    from ``delta.invariants`` field metadata — struct paths included — and
    top-level generated columns [(name, expr)] from
    ``delta.generationExpression``).  Rules this writer cannot evaluate
    row-wise (invariants/generation inside array or map elements, identity
    columns) never reach here — the protocol gate refuses those tables
    (:func:`_check_writer_protocol`)."""
    config = (meta or {}).get("configuration") or {}
    checks = {
        k[len("delta.constraints."):]: str(v)
        for k, v in config.items()
        if k.startswith("delta.constraints.")
    }
    invariants: list[tuple[str, str]] = []
    generated: list[tuple[str, str]] = []

    def walk(fields, prefix):
        for f in fields:
            path = f"{prefix}{f['name']}"
            md = f.get("metadata") or {}
            if "delta.invariants" in md:
                raw = md["delta.invariants"]
                try:
                    parsed = json.loads(raw) if isinstance(raw, str) else raw
                    expr = parsed["expression"]["expression"]
                except (TypeError, ValueError, KeyError):
                    raise BuzzSchemaError(
                        f"unparseable delta.invariants on column {path!r}: "
                        f"{raw!r}"
                    )
                invariants.append((path, str(expr)))
            if not prefix and "delta.generationExpression" in md:
                generated.append(
                    (f["name"], str(md["delta.generationExpression"]))
                )
            t = f.get("type")
            if isinstance(t, dict) and t.get("type") == "struct":
                walk(t.get("fields") or [], path + ".")

    walk(json.loads(meta.get("schemaString", '{"fields": []}'))["fields"], "")
    return checks, invariants, generated


def _apply_generated_columns(df: DataFrame, meta: dict) -> DataFrame:
    """Compute ABSENT generated columns from their declared
    ``delta.generationExpression`` (cast to the declared type) — the spec's
    write rule: a writer either computes the value or validates the
    supplied one (:func:`_enforce_table_rules` does the validation when
    the column is present)."""
    _, _, generated = _table_rules(meta)
    if not generated:
        return df
    from pyspark.sql import functions as F

    declared = {f.name: f.dataType for f in _declared_schema(meta).fields}
    for name, expr in generated:
        if name not in df.columns:
            df = df.withColumn(name, F.expr(expr).cast(declared[name]))
    return df


def _rule_predicates(
    df: DataFrame, meta: dict, op: str
) -> tuple[list, list[str]]:
    """The per-rule satisfaction predicates and human labels for every
    declared CHECK constraint, column invariant, and (when supplied)
    generated-column expression — shared by the one-shot aggregate
    (:func:`_enforce_table_rules`) and the single-pass observe form
    (:func:`_observe_table_rules`).  A rule whose expression does not
    RESOLVE against the frame cannot be evaluated row-wise — the spec's
    enforce-or-refuse writer rule then demands the typed
    :class:`~..errors.BuzzNotImplementedError` refusal, never a silent
    violation."""
    from pyspark.errors import AnalysisException

    from pyspark.sql import functions as F

    from ..errors import BuzzNotImplementedError

    checks, invariants, generated = _table_rules(meta)
    preds = []
    labels: list[str] = []
    for name in sorted(checks):
        preds.append(F.expr(checks[name]).cast("boolean"))
        labels.append(f"CHECK constraint {name!r} ({checks[name]})")
    for path, expr in invariants:
        preds.append(F.expr(expr).cast("boolean"))
        labels.append(f"column invariant on {path!r} ({expr})")
    if generated:
        declared = {f.name: f.dataType for f in _declared_schema(meta).fields}
        for name, expr in generated:
            if name not in df.columns:
                continue  # computed by _apply_generated_columns upstream
            preds.append(
                F.col(name).eqNullSafe(F.expr(expr).cast(declared[name]))
            )
            labels.append(
                f"generated column {name!r} must equal its expression "
                f"({expr})"
            )
    if not preds:
        return [], []
    unevaluable = []
    for p, label in zip(preds, labels):
        try:
            df.select(p)  # analysis only — no job runs
        except AnalysisException:
            unevaluable.append(label)
    if unevaluable:
        raise BuzzNotImplementedError(
            f"{op}: the table declares data rules this writer cannot "
            "evaluate row-wise (delta.invariants / delta.constraints): "
            + "; ".join(unevaluable)
            + " — refusing to commit rows that could violate them"
        )
    return preds, labels


def _violation_flags(preds: list):
    from pyspark.sql import functions as F

    return [
        F.max(
            F.when(p.eqNullSafe(F.lit(True)), F.lit(0)).otherwise(F.lit(1))
        ).alias(f"_v{i}")
        for i, p in enumerate(preds)
    ]


def _enforce_table_rules(df: DataFrame, meta: dict, op: str) -> None:
    """Validate rows against every declared table rule — ONE aggregate
    job over ``df``, all rules in a single pass, entirely inside
    codegen.  Raises the typed non-retryable
    :class:`~..errors.BuzzConstraintError` naming every violated rule;
    nothing has been committed at that point.

    Delta-parity null semantics: a row satisfies a rule only when the
    expression evaluates to TRUE (delta-spark's CheckDeltaInvariant treats
    both false and null as violations).

    Used where rows reach the table WITHOUT a staging write
    (:func:`add_files_delta`); staged-write paths use
    :func:`_observe_table_rules` instead, which rides the staging job."""
    from ..errors import BuzzConstraintError

    preds, labels = _rule_predicates(df, meta, op)
    if not preds:
        return
    flags = df.agg(*_violation_flags(preds)).first()
    violated = [labels[i] for i in range(len(preds)) if (flags[i] or 0) == 1]
    if violated:
        raise BuzzConstraintError(
            f"{op} aborted — staged rows violate: " + "; ".join(violated)
        )


def _observe_table_rules(df: DataFrame, meta: dict, op: str):
    """Single-pass rule enforcement for STAGED writes (round-11 verdict
    ask #3): attach the per-rule violation flags to ``df`` as an
    ``Observation`` — the metrics are collected DURING the staging write
    job itself, so a constrained write computes its input ONCE instead
    of paying a separate enforcement aggregate over the same
    un-persisted lineage (which doubles input cost at 100 TB).

    Returns ``(df, check)`` where ``check`` is ``None`` when the table
    declares no rules, else a zero-argument callable that reads the
    observed flags (available once the write action finishes) and raises
    the same typed :class:`~..errors.BuzzConstraintError` /
    label text as :func:`_enforce_table_rules`.
    :func:`_stage_and_promote` invokes it BETWEEN the staging write and
    the promote, so a violation leaves the table directory untouched —
    same externally-visible contract as the pre-write aggregate
    (violating rows never become visible; only the wasted staging bytes
    differ, and those are deleted on refusal)."""
    from pyspark.sql import Observation

    from ..errors import BuzzConstraintError

    preds, labels = _rule_predicates(df, meta, op)
    if not preds:
        return df, None
    obs = Observation(f"rules-{uuid.uuid4().hex[:8]}")
    df = df.observe(obs, *_violation_flags(preds))

    def check() -> None:
        flags = obs.get
        violated = [
            labels[i]
            for i in range(len(preds))
            if (flags.get(f"_v{i}") or 0) == 1
        ]
        if violated:
            raise BuzzConstraintError(
                f"{op} aborted — staged rows violate: "
                + "; ".join(violated)
            )

    return df, check


def _identity_columns(meta: dict) -> list[dict]:
    """Top-level identity columns declared in the table schemaString —
    ``[{name, start, step, allow_explicit, hwm}]`` per PROTOCOL.md's
    ``delta.identity.*`` field metadata (``highWaterMark`` is absent
    until the first allocation).  Nested identity metadata never reaches
    here — the protocol gate refuses those tables."""
    out: list[dict] = []
    for f in json.loads(meta.get("schemaString", '{"fields": []}'))["fields"]:
        md = f.get("metadata") or {}
        if not any(k.startswith("delta.identity.") for k in md):
            continue
        step = int(md.get("delta.identity.step", 1))
        if step == 0:
            raise BuzzSchemaError(
                f"identity column {f['name']!r} declares step=0 — "
                "malformed table metadata"
            )
        hwm = md.get("delta.identity.highWaterMark")
        out.append(
            {
                "name": f["name"],
                "start": int(md.get("delta.identity.start", 1)),
                "step": step,
                "allow_explicit": str(
                    md.get("delta.identity.allowExplicitInsert", False)
                ).lower()
                == "true",
                "hwm": None if hwm is None else int(hwm),
            }
        )
    return out


def _assign_identity(df: DataFrame, col: dict, dtype) -> DataFrame:
    """Allocate CONTIGUOUS values for an ABSENT identity column:
    ``start + k·step`` with k running from just past the recorded high
    water mark — one cheap per-partition count (driver sees O(partitions)
    rows), then a mapInPandas pass assigning each partition its offset
    range.  No shuffle, no per-row driver work.  Contiguity is not
    spec-required (gaps are legal) but matters operationally: a
    ``monotonically_increasing_id``-based allocation burns ~2³³·step of
    id space per PARTITION per write, which overflows int64 within ~10⁵
    writes on a 10⁴-partition cluster — the batch this engine targets.
    ``df`` MUST already be persisted (the caller does): both jobs must
    see the same partitioning or two rows could draw one value."""
    from pyspark.sql import functions as F

    if col["hwm"] is None:
        k_next = 0
    else:
        k_next = max(0, (col["hwm"] - col["start"]) // col["step"] + 1)
    with_pid = df.withColumn("__pid", F.spark_partition_id())
    counts = {
        int(r["__pid"]): int(r["count"])
        for r in with_pid.groupBy("__pid").count().collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    start, step, name = col["start"], col["step"], col["name"]
    out_schema = df.schema.add(name, dtype, True)

    def gen(batches):
        seen = 0
        for b in batches:  # one partition per task, batches in order
            if len(b) == 0:
                continue
            pid = int(b["__pid"].iloc[0])
            base = k_next + offsets[pid] + seen
            b = b.drop(columns=["__pid"])
            b[name] = [start + (base + i) * step for i in range(len(b))]
            seen += len(b)
            yield b

    return with_pid.mapInPandas(gen, schema=out_schema)


def _identity_bump(meta: dict, adds: list[dict], id_cols: list[dict]):
    """The updated metaData action advancing each identity column's
    ``delta.identity.highWaterMark`` past the values a commit is adding
    — read from the add-action footer STATS (max for positive step, min
    for negative; identity columns are integral so bounds always
    record), zero data reads.  Returns None when nothing advances."""
    if not id_cols or not adds:
        return None
    _, phys, _ = _mapping_info(meta)
    new_hwm: dict[str, int] = {}
    for c in id_cols:
        key = "maxValues" if c["step"] > 0 else "minValues"
        vals = []
        for a in adds:
            try:
                v = json.loads(a.get("stats") or "{}").get(key, {}).get(
                    phys.get(c["name"], c["name"])
                )
            except (TypeError, ValueError):
                v = None
            if isinstance(v, int):
                vals.append(v)
        if not vals:
            continue
        ext = max(vals) if c["step"] > 0 else min(vals)
        cur = c["hwm"]
        beyond = cur is None or (
            ext > cur if c["step"] > 0 else ext < cur
        )
        if beyond:
            new_hwm[c["name"]] = ext
    if not new_hwm:
        return None

    def apply(meta_x: dict) -> dict:
        schema = json.loads(meta_x["schemaString"])
        for f in schema["fields"]:
            if f["name"] in new_hwm:
                md = dict(f.get("metadata") or {})
                md["delta.identity.highWaterMark"] = new_hwm[f["name"]]
                f["metadata"] = md
        out = dict(meta_x)
        out["schemaString"] = json.dumps(schema)
        return out

    return apply


def _prepare_identity_write(
    df: DataFrame, meta: dict, declared, op: str
) -> tuple[DataFrame, list[dict], DataFrame | None]:
    """Shared write-side identity handling: ABSENT identity columns are
    allocated (:func:`_assign_identity`); PRESENT ones are explicit
    inserts — refused typed on GENERATED ALWAYS columns
    (``allowExplicitInsert`` false, the spec's contract), accepted on
    GENERATED BY DEFAULT with the high water mark synced by the commit.
    Returns (df, identity columns, the frame PINNED for allocation —
    the input is persisted before values are drawn so the offset count
    and the assignment see identical partitions; the caller unpersists
    it after staging)."""
    id_cols = _identity_columns(meta)
    if not id_cols:
        return df, [], None
    types = {f.name: f.dataType for f in declared.fields}
    for c in id_cols:
        if c["name"] in df.columns and not c["allow_explicit"]:
            raise BuzzBadRequestError(
                f"{op}: identity column {c['name']!r} is GENERATED "
                "ALWAYS (delta.identity.allowExplicitInsert=false) — "
                "drop it from the DataFrame and let the writer "
                "allocate values"
            )
    absent = [c for c in id_cols if c["name"] not in df.columns]
    pinned = None
    if absent:
        pinned = df.persist()
        df = pinned
        for c in absent:
            df = _assign_identity(df, c, types[c["name"]])
    return df, id_cols, pinned


def _file_stats_json(path: str, rename: dict[str, str] | None = None) -> str:
    """Delta per-file ``stats`` JSON (numRecords / minValues / maxValues) from
    the parquet footer — what spec-conformant readers (delta-rs and the
    rebuild's own zone-map pruning) use for data skipping without opening the
    file.  Columns whose footer lacks usable min/max (or whose values don't
    JSON-serialize cleanly) are simply omitted — stats are advisory.
    ``rename`` re-keys file column names (mode=id external files carry
    per-file physical names; the log's stats keys are the TABLE's
    physical names)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    mins: dict = {}
    maxs: dict = {}
    for idx, raw_name in enumerate(md.schema.names):
        name = (rename or {}).get(raw_name, raw_name)
        col_min, col_max = [], []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(idx).statistics
            if st is None or not st.has_min_max:
                col_min = []
                break
            col_min.append(st.min)
            col_max.append(st.max)
        if col_min:
            lo, hi = min(col_min), max(col_max)
            if isinstance(lo, (int, float, str, bool)):
                mins[name], maxs[name] = lo, hi
    return json.dumps(
        {"numRecords": md.num_rows, "minValues": mins, "maxValues": maxs}
    )


def _hive_values(relpath: str) -> dict[str, str | None]:
    """The Hive-style ``col=value`` directory segments of a relative path.
    Values are the url-decoded directory strings — Delta stores partition
    values as strings in the log, matching the reference's string-typed
    partition semantics (delta_catalog.rs:73-77, README.md:113) — except
    Spark's null directory, which the spec logs as null."""
    values: dict[str, str | None] = {}
    for seg in relpath.split(os.sep)[:-1]:
        col, eq, raw = seg.partition("=")
        if eq:
            values[col] = (
                None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
            )
    return values


def _partition_values(
    relpath: str, partition_by: list[str]
) -> dict[str, str | None]:
    """The partition values of a staged file, from its Hive-style
    directories (:func:`_hive_values`)."""
    segs = _hive_values(relpath)
    values = {c: segs[c] for c in partition_by if c in segs}
    missing = [c for c in partition_by if c not in values]
    if missing:
        raise BuzzExecutionError(
            f"staged file {relpath!r} lacks partition dirs for {missing}"
        )
    return values


def _legacy_active_writer_features(meta: dict | None, proto: dict) -> set:
    """Writer capabilities the CURRENT protocol keeps ACTIVE — what any v7
    protocol minted from it must enumerate (PROTOCOL.md: a v7 protocol
    activates legacy properties only through listed features).  For a v7
    protocol that is exactly its listed features (a property WITHOUT its
    feature is inactive and must stay so); for legacy versions a property
    is active when the version carries the capability."""
    wv = int(proto.get("minWriterVersion", 2))
    if wv >= 7:
        return set(proto.get("writerFeatures") or [])
    conf = (meta or {}).get("configuration") or {}
    out: set = set()
    if _conf_flag(meta, "delta.appendOnly"):
        out.add("appendOnly")
    if wv >= 4 and _cdf_enabled(meta):
        out.add("changeDataFeed")
    if wv >= 5 and (
        conf.get("delta.columnMapping.mode") or "none"
    ) in ("name", "id"):
        out.add("columnMapping")
    # enforced-rule capabilities in use must survive a v7 upgrade too —
    # a bare v7 protocol would deactivate them for external writers
    if meta:
        checks, invs, gens = _table_rules(meta)
        if invs:
            out.add("invariants")
        if wv >= 3 and checks:
            out.add("checkConstraints")
        if wv >= 4 and gens:
            out.add("generatedColumns")
        if wv >= 6 and _identity_columns(meta):
            out.add("identityColumns")
    return out


def _append_only_active(st: LogState) -> bool:
    """Whether the append-only contract is IN FORCE in ``st``: the property
    must be set AND — on a v7 protocol — the appendOnly feature listed (a
    foreign v7 table carrying the property without the feature is inactive
    per the spec; enforcing it anyway would diverge from conformant
    writers)."""
    if not _conf_flag(st.meta, "delta.appendOnly"):
        return False
    proto = st.protocol
    if int(proto.get("minWriterVersion", 2)) >= 7:
        return "appendOnly" in (proto.get("writerFeatures") or [])
    return True


def _require_not_append_only(st: LogState, op: str) -> None:
    """ENFORCE the writer-2 append-only capability (``delta.appendOnly``):
    operations that would emit data-changing ``remove`` actions refuse
    typed.  Appends, insert-only merges, metadata commits, and OPTIMIZE
    (``dataChange=false`` removes) stay legal — that is the capability's
    own contract, which is why the protocol gate can ACCEPT append-only
    tables instead of refusing them wholesale."""
    if _append_only_active(st):
        raise BuzzBadRequestError(
            f"{op} would remove data from an APPEND-ONLY table "
            "(delta.appendOnly=true) — the table contract forbids it"
        )


def _require_same_delta_basis(meta_old: dict, meta_new: dict) -> None:
    """Raise the typed NON-retryable abort when a concurrent commit changed
    the table's metaData a staged write depends on — schema (column
    resolution + physical-name mapping), partition columns (directory
    layout of the staged files), or configuration (column mapping mode)."""
    old, new = meta_old or {}, meta_new or {}
    if (
        old.get("schemaString") != new.get("schemaString")
        or list(old.get("partitionColumns") or [])
        != list(new.get("partitionColumns") or [])
        or dict(old.get("configuration") or {})
        != dict(new.get("configuration") or {})
    ):
        raise BuzzCommitAbortedError(
            "concurrent metaData change (schema/partitioning/column "
            "mapping) invalidated this write's staged files — re-run the "
            "operation against the current table"
        )


def _require_files_unchanged(
    touched: dict[str, dict], live_fresh: dict[str, dict], op: str
) -> None:
    """Raise the typed NON-retryable abort when any file a rewrite
    operation matched is no longer live UNCHANGED — removed, rewritten,
    or carrying a different deletion vector.  Committing the staged
    rewrite anyway would silently drop the concurrent change (e.g. a DV
    union computed from a stale bitmap loses the other writer's deletes)."""
    for rel, add in touched.items():
        if live_fresh.get(rel) != add:
            raise BuzzCommitAbortedError(
                f"{op}: matched file {rel!r} was removed or modified by a "
                "concurrent commit — re-run the operation against the "
                "current table"
            )


def _schema_has_ntz(schema_json: str) -> bool:
    """Whether a schemaString declares TIMESTAMP_NTZ anywhere (the
    ``timestampNtz`` feature pair is then protocol-required)."""
    return '"timestamp_ntz"' in schema_json


def _commit_protocol_extensions(
    log_dir: str, st: LogState, version: int, actions: list[dict]
) -> list[dict]:
    """The per-commit obligations of the stateful writer features, applied
    CENTRALLY by :func:`_claim_commit` so every commit path (write, merge,
    delete, update, truncate, restore, optimize, add_files, clone,
    properties, evolve) satisfies them without each knowing:

    - **inCommitTimestamp**: active tables get ``commitInfo`` as the
      FIRST action with a MONOTONIC ``inCommitTimestamp``
      (max(now, previous commit's + 1) — the previous commit's is one
      small first-line read).  A commit that newly ENABLES the feature
      additionally gets the spec's enablement provenance properties
      patched into its own metaData action (version + that same
      timestamp).
    - **rowTracking**: every add action without a ``baseRowId`` (fresh
      files; DV re-adds keep their original, so surviving rows' ids are
      stable) is assigned ``baseRowId`` = high water mark + 1 and
      ``defaultRowCommitVersion`` = this version, the mark advancing by
      the file's numRecords (from the add's stats; footer fallback);
      one ``domainMetadata`` action records the new
      ``delta.rowTracking.rowIdHighWaterMark``.  Fresh ids only:
      rewrites re-mint (preserved-ids needs materialized row-id
      columns — documented boundary).

    The effective metaData/protocol come from the commit's OWN actions
    when present (create / property change), else from ``st``, the replay
    the claim is based on; the high water mark and the previous
    configuration come from ``st`` too.  Runs per claim ATTEMPT (a retry
    passes the state it re-replayed and its advanced version) and never
    mutates the caller's list."""
    meta = next(
        (a["metaData"] for a in actions if "metaData" in a), None
    ) or st.meta
    proto = next(
        (a["protocol"] for a in actions if "protocol" in a), None
    ) or st.protocol
    wfeats = set(proto.get("writerFeatures") or [])
    conf = meta.get("configuration") or {}
    out = list(actions)

    if (
        conf.get("delta.enableRowTracking", "").lower() == "true"
        and "rowTracking" in wfeats
    ):
        hwm = -1
        try:
            hwm = int(
                json.loads(st.domains.get("delta.rowTracking") or "{}").get(
                    "rowIdHighWaterMark", -1
                )
            )
        except (TypeError, ValueError):
            pass
        table_dir = os.path.dirname(log_dir)
        changed = False
        assigned = []
        for a in out:
            if "add" not in a:
                assigned.append(a)
                continue
            add = dict(a["add"])
            if add.get("baseRowId") is None:
                try:
                    n = json.loads(add.get("stats") or "{}").get(
                        "numRecords"
                    )
                except (TypeError, ValueError):
                    n = None
                if n is None:
                    import pyarrow.parquet as pq

                    n = pq.read_metadata(
                        os.path.join(table_dir, add["path"])
                    ).num_rows
                add["baseRowId"] = hwm + 1
                add["defaultRowCommitVersion"] = version
                hwm += int(n)
                changed = True
            assigned.append({"add": add})
        out = assigned
        if changed:
            out.append(
                {
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": hwm}
                        ),
                        "removed": False,
                    }
                }
            )

    if (
        conf.get("delta.enableInCommitTimestamps", "").lower() == "true"
        and "inCommitTimestamp" in wfeats
    ):
        now = int(time.time() * 1000)
        prev = None
        prev_path = os.path.join(log_dir, f"{version - 1:020d}.json")
        if version > 0 and os.path.exists(prev_path):
            try:
                with open(prev_path) as fh:
                    first = json.loads(fh.readline())
                prev = (first.get("commitInfo") or {}).get(
                    "inCommitTimestamp"
                )
            except (OSError, ValueError):
                prev = None
        ts = now if prev is None else max(now, int(prev) + 1)
        prev_conf = st.meta.get("configuration") or {}
        newly_enabled = (
            prev_conf.get("delta.enableInCommitTimestamps", "").lower()
            != "true"
        )
        patched = []
        for a in out:
            if (
                "metaData" in a
                and version > 0
                and newly_enabled
                and "delta.inCommitTimestampEnablementVersion"
                not in (a["metaData"].get("configuration") or {})
            ):
                m = dict(a["metaData"])
                c = dict(m.get("configuration") or {})
                c["delta.inCommitTimestampEnablementVersion"] = str(version)
                c["delta.inCommitTimestampEnablementTimestamp"] = str(ts)
                m["configuration"] = c
                patched.append({"metaData": m})
            elif "commitInfo" in a:
                continue  # never double-prepend on a claim retry
            else:
                patched.append(a)
        out = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "inCommitTimestamp": ts,
                }
            }
        ] + patched
    return out


def _claim_commit(
    log_dir: str,
    st: LogState,
    actions: list[dict],
    store=None,
    checkpoint_interval: int = 0,
) -> int:
    """Write the commit JSON of the version after ``st`` (the replay the
    operation is based on) and return that version, claiming the filename
    exclusively through the commit store's conditional put (Delta
    PROTOCOL.md: "Writers MUST only write a given log entry once" — the
    put-if-absent LogStore contract).  A racing writer gets a typed
    retryable :class:`~..errors.BuzzCommitConflictError`, never a torn log.
    Stateful-feature obligations (inCommitTimestamp, rowTracking) are
    applied here from ``st`` so every commit path satisfies them
    (:func:`_commit_protocol_extensions`).

    Every ``checkpoint_interval``-th version is checkpointed from ``st``
    with the claimed actions applied (:func:`_replay_actions`) — the state
    a replay of the new version would give, without a second replay."""
    if store is None:
        store = default_store()
    version = st.version + 1
    actions = _commit_protocol_extensions(log_dir, st, version, actions)
    commit_path = os.path.join(log_dir, f"{version:020d}.json")
    store.put_if_absent(
        commit_path, "".join(json.dumps(a) + "\n" for a in actions).encode()
    )
    if checkpoint_interval and (version + 1) % checkpoint_interval == 0:
        post = replace(
            st,
            adds=dict(st.adds),
            txns=dict(st.txns),
            domains=dict(st.domains),
        )
        _replay_actions(actions, post)
        post.version = version
        _write_checkpoint(log_dir, post)
    return version


def _claim_rewrite_commit(
    log_dir: str,
    st: LogState,
    actions: list[dict],
    touched: dict[str, dict],
    checkpoint_interval: int,
    max_commit_retries: int,
    store,
    op: str,
    require_exact_live: bool = False,
    require_same_protocol: bool = False,
) -> int:
    """Claim a REWRITE commit (a fixed action list referencing staged
    files, based on the replay ``st``) through the bounded retry loop: on a
    lost race, re-replay the log, require the metaData and every
    ``touched`` file entry unchanged from ``st`` (typed
    :class:`~..errors.BuzzCommitAbortedError` otherwise — the concurrent
    winner rewrote or deleted a file this operation matched), and re-claim
    the same actions from the fresh state.  Concurrent appends don't
    invalidate a rewrite: the operation covers its scan snapshot, exactly
    as it would have if it had won the original race."""

    def _attempt(st_a: LogState) -> int:
        return _claim_commit(
            log_dir, st_a, actions, store, checkpoint_interval
        )

    def _refresh() -> LogState:
        st_f = _log_state(log_dir)
        _require_same_delta_basis(st.meta, st_f.meta)
        _require_files_unchanged(touched, st_f.adds, op)
        if require_same_protocol and st_f.protocol != st.protocol:
            # a PROTOCOL-only commit is invisible to the metaData basis
            # comparison, but it can (a) activate append-only against
            # this op's staged removes, or (b) be ROLLED BACK by a staged
            # protocol action computed from the old protocol (the DV
            # upgrade) — both must abort, not silently re-claim
            raise BuzzCommitAbortedError(
                f"{op}: the table's protocol changed concurrently — "
                "re-run the operation against the current table"
            )
        if require_exact_live and set(st_f.adds) != set(touched):
            # restore: even files the op does not touch invalidate it —
            # a concurrent append surviving would leave the table ≠ the
            # target version's content
            raise BuzzCommitAbortedError(
                f"{op}: the live set changed concurrently — the computed "
                "diff no longer restores the target version; re-run "
                "against the current table"
            )
        return st_f

    return commit_with_retry(_attempt, _refresh, st, max_commit_retries)


def _stage_and_promote(
    df: DataFrame,
    table_dir: str,
    version: int,
    partition_by: list[str],
    now_ms: int,
    data_change: bool = True,
    tag: str = "staging",
    meta: dict | None = None,
    rules_check=None,
) -> list[dict]:
    """Stage a distributed parquet write and promote the files into the table
    directory; returns the corresponding ``add`` action dicts.  Zero-row
    partitions produce no files — an empty list is a valid outcome for
    rewrite paths (merge/delete may shrink a file set to nothing).

    With ``meta`` given and the table mapped mode=id with nested columns,
    every staged file gets the pyarrow nested-field-id post-pass
    (:func:`_restamp_nested_ids`) before promotion.

    ``rules_check`` (from :func:`_observe_table_rules`) runs BETWEEN the
    staging write and the promote: the observed violation flags were
    collected during the write itself, and a refusal deletes the staging
    directory before anything reaches the table."""
    staging = os.path.join(table_dir, f".{tag}-{version:020d}-{uuid.uuid4().hex[:8]}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    if rules_check is not None:
        try:
            rules_check()
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
    staged = sorted(
        glob(os.path.join(staging, "**", "*.parquet"), recursive=True)
    )
    if meta is not None:
        _restamp_nested_ids(staged, meta)
    adds: list[dict] = []
    for fpath in staged:
        rel = os.path.relpath(fpath, staging)
        dest = os.path.join(table_dir, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(fpath, dest)
        adds.append(
            {
                "path": rel.replace(os.sep, "/"),
                "size": os.path.getsize(dest),
                "partitionValues": _partition_values(rel, partition_by),
                "modificationTime": now_ms,
                "dataChange": data_change,
                "stats": _file_stats_json(dest),
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    return adds


def _conf_flag(meta: dict | None, key: str) -> bool:
    """A boolean table-configuration property (shared reader — activation
    semantics layer on top of it per capability)."""
    return (
        ((meta or {}).get("configuration") or {}).get(key, "").lower()
        == "true"
    )


def _cdf_enabled(meta: dict | None) -> bool:
    """Whether the ``delta.enableChangeDataFeed`` PROPERTY is set — see
    :func:`_cdf_active` for whether the capability is actually in force
    under the table's protocol."""
    return _conf_flag(meta, "delta.enableChangeDataFeed")


def _cdf_active(st: LogState) -> bool:
    """Whether change-data recording is IN FORCE in ``st``: the property
    set AND the protocol carrying the capability (v7 → the feature listed;
    legacy → writer version ≥ 4).  Emitting cdc actions on a table whose
    protocol declares CDF inactive would leave a half-recorded change
    history that conformant writers don't continue."""
    if not _cdf_enabled(st.meta):
        return False
    proto = st.protocol
    wv = int(proto.get("minWriterVersion", 2))
    if wv >= 7:
        return "changeDataFeed" in (proto.get("writerFeatures") or [])
    return wv >= 4


def _stage_change_files(
    df: DataFrame,
    table_dir: str,
    version: int,
    partition_by: list[str],
    meta: dict | None = None,
) -> list[dict]:
    """Write a commit's CHANGE DATA as parquet under ``_change_data/`` and
    return the ``cdc`` actions (PROTOCOL.md: ``{path, partitionValues,
    size, dataChange: false}``).  ``df`` carries the table columns plus
    ``_change_type`` ∈ {insert, delete, update_preimage,
    update_postimage}; files partition like the table so the actions
    carry real partitionValues and CDF readers can prune.  Distributed
    write, driver sees O(files).

    On a column-mapped table (``meta`` given) the change files use
    PHYSICAL column names — and, under mode=id, ``parquet.field.id``
    footers — exactly like data files; the partitionValues keys come out
    physical (the directory names).  ``_change_type`` itself is never
    mapped (the spec stores it by that literal name)."""
    if meta is not None:
        df, partition_by = _to_physical_frame(
            df, meta, partition_by, keep=("_change_type",)
        )
    staging = os.path.join(
        table_dir, f".cdc-{version:020d}-{uuid.uuid4().hex[:8]}"
    )
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    staged = sorted(
        glob(os.path.join(staging, "**", "*.parquet"), recursive=True)
    )
    if meta is not None:
        _restamp_nested_ids(staged, meta, extra_ok={"_change_type"})
    actions: list[dict] = []
    for fpath in staged:
        rel = os.path.join("_change_data", os.path.relpath(fpath, staging))
        dest = os.path.join(table_dir, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(fpath, dest)
        actions.append(
            {
                "cdc": {
                    "path": rel.replace(os.sep, "/"),
                    "partitionValues": _partition_values(
                        os.path.relpath(dest, os.path.join(table_dir, "_change_data")),
                        partition_by,
                    ),
                    "size": os.path.getsize(dest),
                    "dataChange": False,
                }
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    return actions


# table type (simpleString) → DataFrame simpleStrings that upcast INTO it
# losslessly under schema_mode='merge'
_DELTA_MERGE_UPCASTS = {
    "bigint": {"int", "smallint", "tinyint"},
    "int": {"smallint", "tinyint"},
    "smallint": {"tinyint"},
    "double": {"float"},
}


def _merge_write_schema(
    df: DataFrame, declared, table_uri: str, store
) -> tuple[DataFrame, bool]:
    """``schema_mode='merge'`` resolution for :func:`write_delta`: NEW
    DataFrame columns become (nullable) table columns via
    :func:`evolve_delta`, MISSING nullable table columns null-fill, and
    common columns may upcast losslessly into the table's wider type.
    Required-column absence, narrowing, and unaddable types refuse
    typed.  Returns (adjusted df, whether an evolution commit happened —
    the caller must re-read the log state)."""
    from pyspark.sql import functions as F

    tbl = {f.name: f for f in declared.fields}
    add_map: dict[str, str] = {}
    for f in df.schema.fields:
        if f.name in tbl:
            continue
        jv = f.dataType.jsonValue()
        if not isinstance(jv, str) or jv not in _DELTA_ADDABLE:
            raise BuzzSchemaError(
                f"schema_mode='merge': new column {f.name!r} has type "
                f"{f.dataType.simpleString()} — not addable via schema "
                "merge (add nested/decimal columns explicitly with "
                "evolve_delta)"
            )
        add_map[f.name] = jv
    for f in df.schema.fields:
        tf = tbl.get(f.name)
        if tf is None or tf.dataType == f.dataType:
            continue
        if f.dataType.simpleString() in _DELTA_MERGE_UPCASTS.get(
            tf.dataType.simpleString(), ()
        ):
            df = df.withColumn(f.name, F.col(f.name).cast(tf.dataType))
            continue
        raise BuzzSchemaError(
            f"schema_mode='merge': column {f.name!r} is "
            f"{f.dataType.simpleString()} but the table declares "
            f"{tf.dataType.simpleString()} — not a lossless upcast; widen "
            "the TABLE first with evolve_delta(promote_columns=...) if "
            "that is the intent"
        )
    for name, tf in tbl.items():
        if name in df.columns:
            continue
        if not tf.nullable:
            raise BuzzSchemaError(
                f"schema_mode='merge': non-nullable table column {name!r} "
                "is absent from the DataFrame — null-filling it would "
                "violate the table contract"
            )
        df = df.withColumn(name, F.lit(None).cast(tf.dataType))
    if add_map:
        evolve_delta(table_uri, add_columns=add_map, store=store)
    return df, bool(add_map)


def write_delta(
    df: DataFrame,
    table_uri: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    checkpoint_interval: int = 10,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    max_commit_retries: int = 5,
    configuration: dict[str, str] | None = None,
    schema_mode: str = "strict",
    store=None,
) -> int | None:
    """Write ``df`` as a Delta commit; returns the committed version (or
    ``None`` when a SetTransaction replay skips the write).

    Losing a commit race does NOT re-run the Spark job: the data files
    are already promoted under fresh UUID names, and up to
    ``max_commit_retries`` claim attempts re-read the log, re-validate
    the basis, and re-claim at the advanced version (appends commute;
    overwrites recompute their ``remove`` set from the fresh live state).
    A concurrent metaData change raises the non-retryable
    :class:`~..errors.BuzzCommitAbortedError` instead.

    ``mode='append'`` adds files to the snapshot; ``mode='overwrite'``
    additionally emits ``remove`` for every previously-live file.  Appends
    validate the schema and partition columns against the table's metaData
    (Delta does not allow silent schema drift; the reference's strict-schema
    stance, parquet.rs:84-100, applies to the write side too).  Every
    ``checkpoint_interval`` commits a parquet checkpoint of the live snapshot
    is written so readers replay O(interval) JSON files, not O(history).

    ``txn_app_id``/``txn_version`` give Delta SetTransaction idempotence:
    when the pair has already been committed (a replayed micro-batch after a
    stream restart), the write is SKIPPED and ``None`` is returned — callers
    MUST treat None as "this data did not land in this call" and skip any
    side effects that assume it did (e.g. a dedup-state append: marking
    skipped documents as seen would lose them forever).  This is how
    exactly-once streaming sinks are built on an at-least-once engine
    (see :func:`buzz_rust_spark.streaming.delta_sink`).

    ``schema_mode='merge'`` (Delta's ``mergeSchema``/``autoMerge``)
    reconciles a drifted DataFrame schema instead of refusing: NEW
    columns evolve into the table (one metadata-only
    :func:`evolve_delta` commit before the write; existing files read
    them as NULL), MISSING nullable table columns null-fill, and common
    columns upcast losslessly into the table's wider type (int→long,
    float→double).  Non-nullable-column absence, narrowing, and
    unaddable types still refuse typed.  Default ``'strict'`` keeps the
    exact-schema contract."""
    if mode not in ("append", "overwrite"):
        raise BuzzBadRequestError(f"mode must be append|overwrite, got {mode!r}")
    if schema_mode not in ("strict", "merge"):
        raise BuzzBadRequestError(
            f"schema_mode must be strict|merge, got {schema_mode!r}"
        )
    if (txn_app_id is None) != (txn_version is None):
        raise BuzzBadRequestError("txn_app_id and txn_version must be set together")
    partition_by = list(partition_by or [])
    for c in partition_by:
        if c not in df.columns:
            raise BuzzBadRequestError(f"partition column {c!r} not in DataFrame")
    configuration = {
        str(k): str(v) for k, v in (configuration or {}).items()
    }

    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    st = _log_state(log_dir)
    meta = st.meta
    if meta and configuration:
        # configuration is creation-time here; a no-op restatement of the
        # existing values passes, anything else routes through
        # set_delta_properties (its own atomic metaData commit)
        existing_conf = dict(meta.get("configuration") or {})
        drift = {
            k: v for k, v in configuration.items()
            if existing_conf.get(k) != v
        }
        if drift:
            raise BuzzBadRequestError(
                f"configuration {sorted(drift)} differs from the existing "
                "table's — write_delta applies configuration at CREATE "
                "only; use set_delta_properties to change it"
            )

    if txn_app_id is not None:
        # Idempotence check BEFORE staging: a replayed batch costs a log scan,
        # not a data write.
        if txn_version <= st.txns.get(txn_app_id, -1):
            return None

    write_id_cols: list[dict] = []
    id_pinned = None
    if meta:
        if mode == "overwrite":
            _require_not_append_only(st, "write_delta(mode='overwrite')")
        # absent generated columns are COMPUTED (spec write rule) before
        # the schema comparison would reject them as missing
        df = _apply_generated_columns(df, meta)
        existing_parts = list(meta.get("partitionColumns", []))
        if existing_parts != partition_by:
            raise BuzzBadRequestError(
                f"partition columns {partition_by} do not match table's"
                f" {existing_parts}"
            )
        from pyspark.sql.types import StructType

        declared = StructType.fromJson(json.loads(meta["schemaString"]))
        df, write_id_cols, id_pinned = _prepare_identity_write(
            df, meta, declared, "write_delta"
        )
        ours = {f.name: _type_no_metadata(f.dataType) for f in df.schema.fields}
        theirs = {f.name: _type_no_metadata(f.dataType) for f in declared.fields}
        if ours != theirs and schema_mode == "merge":
            df, evolved = _merge_write_schema(df, declared, table_uri, store)
            if evolved:
                # the evolution committed a new log version — re-base the
                # write (and its protocol basis) on it
                st = _log_state(log_dir)
                meta = st.meta
                declared = StructType.fromJson(json.loads(meta["schemaString"]))
            ours = {f.name: _type_no_metadata(f.dataType) for f in df.schema.fields}
            theirs = {f.name: _type_no_metadata(f.dataType) for f in declared.fields}
        if ours != theirs:
            raise BuzzSchemaError(
                f"schema mismatch vs table metaData: {sorted(ours)} vs"
                f" {sorted(theirs)}"
            )

    # Table data rules gate the staging: constraints / invariants /
    # generated-column validation ride the staging write as Observation
    # metrics — ONE input scan per constrained write (create-time rules
    # come from the supplied configuration + schema)
    df, rules_check = _observe_table_rules(
        df,
        meta
        if meta
        else {
            "schemaString": df.schema.json(),
            "configuration": configuration,
        },
        "write_delta",
    )

    # Column-mapped tables write PHYSICAL column names into data files and
    # partition directories (the log's partitionValues/stats keys are
    # physical under both modes — the reader maps them back); id mode
    # additionally stamps parquet.field.id footers so field-id readers
    # resolve without names.
    stage_df, stage_parts = _to_physical_frame(df, meta, partition_by)

    # Stage the data write (distributed; nothing passes through the driver)
    # and promote the files (names are unique part-...-uuid, so moves cannot
    # collide with live files).  The rule observation above is checked
    # between the write and the promote.
    now_ms = int(time.time() * 1000)
    adds = _stage_and_promote(
        stage_df, table_dir, st.version + 1, stage_parts, now_ms,
        meta=meta or None, rules_check=rules_check,
    )
    if id_pinned is not None:
        id_pinned.unpersist()
    if not adds:
        raise BuzzExecutionError("write produced no parquet files")

    # 3. Commit: claim the versioned filename exclusively (optimistic
    #    concurrency — a racing writer gets a typed conflict, not a torn
    #    log).  The staged+promoted data files above are reused across
    #    claim attempts: on a lost race the loop re-reads the log,
    #    re-validates the basis (schema / partitioning / column mapping
    #    unchanged — appends commute with other appends; overwrite removes
    #    are recomputed from the fresh live set), and re-claims at the
    #    advanced version — metadata-only, never a re-run of the Spark job.
    creating = not meta
    expected_schema = {f.name: f.dataType for f in df.schema.fields}

    # capabilities used at CREATE need a protocol that declares them:
    # CDF (legacy 4), CHECK constraints (legacy 3), generated columns
    # (legacy 4) mint the writer-7 FEATURE form (a bare legacy bump would
    # drag sibling capabilities along); invariants ride the base writer-2.
    # A v7 protocol activates legacy properties ONLY through listed
    # features (PROTOCOL.md), so appendOnly/invariants in use must be
    # enumerated alongside or external v7 writers treat them as inactive.
    create_protocol = PROTOCOL
    feats = []
    if configuration.get("delta.enableChangeDataFeed", "").lower() == "true":
        feats.append("changeDataFeed")
    if any(k.startswith("delta.constraints.") for k in configuration):
        feats.append("checkConstraints")
    _, create_invs, create_gens = _table_rules(
        {"schemaString": df.schema.json(), "configuration": configuration}
    )
    if create_gens:
        feats.append("generatedColumns")
    if not meta:
        # create-time identity declarations: the initial load's values
        # are the seed (high water mark syncs from the add stats below)
        write_id_cols = _identity_columns(
            {"schemaString": df.schema.json()}
        )
        if write_id_cols:
            feats.append("identityColumns")
    if (
        configuration.get("delta.enableInCommitTimestamps", "").lower()
        == "true"
    ):
        feats.append("inCommitTimestamp")
    if configuration.get("delta.enableRowTracking", "").lower() == "true":
        feats.append("rowTracking")
    # TIMESTAMP_NTZ anywhere in the schema requires the reader+writer
    # feature pair (spec: both sides must declare it)
    rfeats = ["timestampNtz"] if _schema_has_ntz(df.schema.json()) else []
    if rfeats:
        feats.extend(rfeats)
    if feats:
        if configuration.get("delta.appendOnly", "").lower() == "true":
            feats.append("appendOnly")
        if create_invs:
            feats.append("invariants")
        create_protocol = {
            "minReaderVersion": 3 if rfeats else 1,
            "minWriterVersion": 7,
            "writerFeatures": sorted(set(feats)),
        }
        if rfeats:
            create_protocol["readerFeatures"] = sorted(rfeats)

    # identity high-water-mark sync: read the new extremes off the add
    # stats (no data pass) and fold them into the SAME commit's metaData
    id_bump = _identity_bump(
        meta if meta else {"schemaString": df.schema.json()},
        adds,
        write_id_cols,
    )

    def _attempt(st_a: LogState) -> int:
        actions: list[dict] = []
        if not st_a.meta:  # still creating the table at this version
            create_meta = {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": df.schema.json(),
                "partitionColumns": partition_by,
                "configuration": configuration,
                "createdTime": now_ms,
            }
            if id_bump is not None:
                create_meta = id_bump(create_meta)
            actions.append({"protocol": create_protocol})
            actions.append({"metaData": create_meta})
        elif id_bump is not None:
            actions.append({"metaData": id_bump(st_a.meta)})
        if mode == "overwrite":
            actions.extend(
                {
                    "remove": {
                        "path": path,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
                for path in sorted(st_a.adds)
            )
        actions.extend({"add": a} for a in adds)
        if txn_app_id is not None:
            actions.append(
                {
                    "txn": {
                        "appId": txn_app_id,
                        "version": txn_version,
                        "lastUpdated": now_ms,
                    }
                }
            )
        return _claim_commit(
            log_dir, st_a, actions, store, checkpoint_interval
        )

    def _refresh() -> LogState | None:
        st_f = _log_state(log_dir)
        meta_f = st_f.meta
        if txn_app_id is not None and txn_version <= st_f.txns.get(
            txn_app_id, -1
        ):
            return None  # a peer committed our txn: idempotent no-op
        if creating:
            # the racing winner CREATED the table — our staged files carry
            # logical names and our partition layout; commit on top only
            # if the winner's metaData agrees with what we staged
            theirs = (
                {f.name: f.dataType for f in _declared_schema(meta_f).fields}
                if meta_f
                else None
            )
            cm = (meta_f or {}).get("configuration", {}).get(
                "delta.columnMapping.mode", "none"
            ) or "none"
            conf_f = dict((meta_f or {}).get("configuration") or {})
            if mode == "overwrite" and _append_only_active(st_f):
                # the entry gate only saw OUR (pre-create) meta; the
                # winner's table may be append-only — removing its live
                # files would silently violate the contract.  Same abort
                # type as every other refresh-time concurrency refusal.
                raise BuzzCommitAbortedError(
                    "write_delta(mode='overwrite'): the table was created "
                    "concurrently as APPEND-ONLY — removes are forbidden "
                    "by the table contract"
                )
            if (
                theirs != expected_schema
                or list((meta_f or {}).get("partitionColumns") or [])
                != partition_by
                or cm != "none"
                or any(
                    conf_f.get(k) != v for k, v in configuration.items()
                )
            ):
                raise BuzzCommitAbortedError(
                    "the table was created concurrently with a different "
                    "schema/partitioning/configuration — re-run the write "
                    "against it"
                )
        else:
            _require_same_delta_basis(meta, meta_f)
            if mode == "overwrite" and st_f.protocol != st.protocol:
                # protocol-only commits (e.g. appendOnly activation) are
                # invisible to the metaData comparison — an overwrite's
                # removes must not land past one
                raise BuzzCommitAbortedError(
                    "write_delta(mode='overwrite'): the table's protocol "
                    "changed concurrently — re-run against the current "
                    "table"
                )
        return st_f

    return commit_with_retry(_attempt, _refresh, st, max_commit_retries)


def _write_checkpoint(log_dir: str, st: LogState) -> None:
    """Materialize the table state ``st`` as the checkpoint of
    ``st.version`` + the ``_last_checkpoint`` pointer (the layout
    :class:`DeltaCatalog` replays: one action per row, non-null column =
    the action kind).

    Tables whose protocol carries the ``v2Checkpoint`` feature get a
    spec-V2 checkpoint instead of the classic single file: a UUID-named
    manifest (non-file actions + ``checkpointMetadata`` + a ``sidecar``
    pointer) with the add actions in a ``_sidecars/`` parquet — the form
    the spec REQUIRES on such tables (a classic file there would be
    non-conformant)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    version = st.version
    # the table's ACTUAL protocol (a DV-upgraded table checkpointed as
    # reader1/writer2 would let feature-unaware readers replay it wrongly)
    proto = st.protocol
    feats = set(proto.get("writerFeatures") or ()) | set(
        proto.get("readerFeatures") or ()
    )
    v2 = "v2Checkpoint" in feats

    # Explicit Arrow schema: the Delta spec requires `add.partitionValues` on
    # EVERY add action (an empty map<string,string> for unpartitioned tables)
    # and `format.options` likewise — struct inference from python dicts
    # cannot represent zero-field structs, so the previous implementation
    # dropped them, which spec-conformant readers (delta-rs — the reference's
    # own reader, delta_catalog.rs:33-48) may reject.  Maps solve it: empty
    # maps are first-class in parquet.
    str_map = pa.map_(pa.string(), pa.string())
    schema = pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        # null (not empty) below v3/v7 — the readers that
                        # require the lists also require the versions
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        (
                            "format",
                            pa.struct(
                                [("provider", pa.string()), ("options", str_map)]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        # column mapping, row tracking, constraints et al.
                        # live here: a checkpoint without it would drop
                        # them once the JSON commits are cleaned up
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("size", pa.int64()),
                        ("partitionValues", str_map),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        # row tracking: a checkpoint dropping these would
                        # re-mint every row id once the JSON truncates
                        ("baseRowId", pa.int64()),
                        ("defaultRowCommitVersion", pa.int64()),
                        # deletion-vector descriptor: a checkpoint that
                        # dropped this field would resurrect deleted rows
                        # the moment the JSON commits are truncated
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            # Delta spec: checkpoints must carry SetTransaction state (one
            # `txn` row per appId) so streaming-sink idempotence survives a
            # checkpoint-truncated log in spec-conformant readers.
            pa.field(
                "txn",
                pa.struct(
                    [
                        ("appId", pa.string()),
                        ("version", pa.int64()),
                        ("lastUpdated", pa.int64()),
                    ]
                ),
            ),
            # live domain metadata (rowTracking's rowIdHighWaterMark et
            # al.) must survive checkpoint truncation too
            pa.field(
                "domainMetadata",
                pa.struct(
                    [
                        ("domain", pa.string()),
                        ("configuration", pa.string()),
                        ("removed", pa.bool_()),
                    ]
                ),
            ),
        ]
    )

    def map_items(d: dict | None) -> list:
        return sorted((d or {}).items())

    meta_row = dict(st.meta)
    fmt = dict(meta_row.get("format") or {})
    fmt["options"] = map_items(fmt.get("options"))
    meta_row["format"] = fmt
    meta_row["configuration"] = map_items(meta_row.get("configuration"))
    none_row = {
        "protocol": None, "metaData": None, "add": None, "txn": None,
        "domainMetadata": None,
    }
    rows = [{**none_row, "protocol": proto}]
    rows.append({**none_row, "metaData": meta_row})
    rows.extend(
        {
            **none_row,
            "add": {**a, "partitionValues": map_items(a.get("partitionValues"))},
        }
        for a in st.adds.values()
    )
    rows.extend(
        {**none_row, "txn": {"appId": app, "version": v, "lastUpdated": None}}
        for app, v in sorted(st.txns.items())
    )
    rows.extend(
        {
            **none_row,
            "domainMetadata": {
                "domain": dom, "configuration": cfg, "removed": False,
            },
        }
        for dom, cfg in sorted(st.domains.items())
    )
    if not v2:
        table = pa.Table.from_pylist(rows, schema=schema)
        pq.write_table(
            table, os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
        )
        with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
            json.dump({"version": version, "size": len(rows)}, fh)
        return

    # --- V2 form: sidecar parquet (file actions) + UUID manifest ---------
    add_field = schema.field("add")
    sc_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(sc_dir, exist_ok=True)
    sc_name = f"{uuid.uuid4()}.parquet"
    add_rows = [r for r in rows if r.get("add") is not None]
    pq.write_table(
        pa.Table.from_pylist(
            [{"add": r["add"]} for r in add_rows],
            schema=pa.schema([add_field]),
        ),
        os.path.join(sc_dir, sc_name),
    )
    sc_size = os.path.getsize(os.path.join(sc_dir, sc_name))
    manifest_schema = pa.schema(
        [
            schema.field("protocol"),
            schema.field("metaData"),
            schema.field("txn"),
            schema.field("domainMetadata"),
            pa.field(
                "checkpointMetadata",
                pa.struct([("version", pa.int64()), ("tags", str_map)]),
            ),
            pa.field(
                "sidecar",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("sizeInBytes", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("tags", str_map),
                    ]
                ),
            ),
        ]
    )
    none_m = {
        "protocol": None,
        "metaData": None,
        "txn": None,
        "domainMetadata": None,
        "checkpointMetadata": None,
        "sidecar": None,
    }
    m_rows = [
        {**none_m, k: r[k]}
        for r in rows
        if r.get("add") is None
        for k in ("protocol", "metaData", "txn", "domainMetadata")
        if r.get(k) is not None
    ]
    m_rows.append(
        {
            **none_m,
            "checkpointMetadata": {"version": version, "tags": []},
        }
    )
    m_rows.append(
        {
            **none_m,
            "sidecar": {
                "path": sc_name,
                "sizeInBytes": sc_size,
                "modificationTime": int(time.time() * 1000),
                "tags": [],
            },
        }
    )
    pq.write_table(
        pa.Table.from_pylist(m_rows, schema=manifest_schema),
        os.path.join(
            log_dir, f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet"
        ),
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)


def optimize_delta(
    spark,
    table_uri: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    checkpoint_interval: int = 10,
    max_commit_retries: int = 5,
    zorder_by: list[str] | None = None,
    store=None,
) -> int | None:
    """Bin-pack compaction (Delta OPTIMIZE): rewrite each partition's
    undersized files into ~``target_file_bytes`` files and commit the swap as
    one atomic remove+add transaction with ``dataChange=False`` — the snapshot
    content is identical, only the file layout changes, and every prior
    version stays time-travelable (old files are removed from the *snapshot*,
    not from disk — that is :func:`vacuum_delta`'s job).

    Returns the committed version, or None when nothing needed compaction.

    Scale: compaction is the standard fix for the small-file problem of
    incremental ingestion (many commits → many sub-row-group files → task
    overhead and poor scan locality).  The rewrite itself is a distributed
    scan of the partition's files (:func:`_read_table_files`), coalesced
    to ``n`` files and written; the driver only handles the O(files)
    listing, exactly like Delta's own OPTIMIZE.

    ``zorder_by`` is Delta's ``OPTIMIZE ... ZORDER BY``: EVERY partition's
    files are rewritten (re-clustering is the point, so the
    small-file-only selection is bypassed) with rows range-shuffled along
    the auto-scaled Z-order curve over the given numeric/timestamp
    columns — the recorded ``stats`` on the new add actions then carry
    tight min/max on all listed dimensions, and zone-map pruning
    (:func:`~.zonemap.stats_from_delta_log` +
    :func:`~.zonemap.prune_files_by_stats`) skips files on any of them.
    Content-identical, still ``dataChange=False``."""
    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    st = _log_state(log_dir)
    live, meta = st.adds, st.meta
    if st.version < 0:
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    # the rewrite re-encodes parquet: on an id-mode table each compacted
    # file is staged with its field ids (top-level through the frame's
    # metadata, nested ones by the re-stamp below)
    _require_id_rewritable(meta, table_uri, "optimize_delta")
    data_cols = [f.name for f in table_schema(meta, table_uri).data_fields]
    zorder_by = list(zorder_by or [])
    if zorder_by:
        from pyspark.sql.types import (
            NumericType,
            TimestampNTZType,
            TimestampType,
        )

        declared = {f.name: f.dataType for f in _declared_schema(meta).fields}
        parts = set(meta.get("partitionColumns") or [])
        for c in zorder_by:
            if c in parts:
                raise BuzzBadRequestError(
                    f"zorder_by column {c!r} is a partition column — it is "
                    "already a file-grouping dimension; cluster on the "
                    "non-partition columns you filter by"
                )
            if c not in declared:
                raise BuzzBadRequestError(
                    f"zorder_by column {c!r} is not a table column"
                )
            if not isinstance(
                declared[c], (NumericType, TimestampType, TimestampNTZType)
            ):
                raise BuzzBadRequestError(
                    f"zorder_by column {c!r} has type "
                    f"{declared[c].simpleString()} — the Z-order curve "
                    "needs numeric or timestamp dimensions (hash or "
                    "truncate other types into a numeric column first)"
                )

    # Group live files by partition tuple; a group compacts when it has ≥2
    # files and at least one is under half the target (rewriting a single
    # right-sized file would be pure churn).
    groups: dict[tuple[tuple[str, str], ...], list[dict]] = {}
    for add in live.values():
        key = tuple(sorted((add.get("partitionValues") or {}).items()))
        groups.setdefault(key, []).append(add)
    # a group also compacts when any of its files carries a deletion vector:
    # the rewrite materializes the logical content and drops the DV (Delta's
    # REORG ... APPLY (PURGE)), reclaiming the bitmap lookups at scan time.
    # Selection is MEMBERSHIP-only (descriptor presence) — no position is
    # decoded for files that won't be rewritten
    dv_members = {
        rel
        for rel, add in live.items()
        if (add.get("deletionVector") or {}).get("storageType")
    }
    to_compact = {
        key: adds
        for key, adds in groups.items()
        if zorder_by  # re-clustering rewrites every group by design
        or (
            len(adds) >= 2
            and any(a["size"] < target_file_bytes // 2 for a in adds)
        )
        or any(a["path"] in dv_members for a in adds)
    }
    if not to_compact:
        return None

    now_ms = int(time.time() * 1000)
    new_adds: list[dict] = []
    removed: list[str] = []
    staging = os.path.join(
        table_dir, f".optimize-{st.version + 1:020d}-{uuid.uuid4().hex[:8]}"
    )
    # str keys: a null partition value (None) does not order against str
    for key, adds in sorted(to_compact.items(), key=lambda kv: str(kv[0])):
        total = sum(a["size"] for a in adds)
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        part_dir = os.path.dirname(adds[0]["path"])  # "" for unpartitioned
        if os.path.isabs(part_dir):
            # externally-registered files (add_files_delta absolute
            # paths) compact back INTO the table root; partition values
            # (if any) ride the new add action, which every scan attaches
            part_dir = ""
        out_dir = os.path.join(staging, part_dir) if part_dir else staging
        # The compacted files hold the data columns only (partition values
        # ride the add action).  DV-carrying files contribute their
        # LOGICAL content (deleted rows filtered out): the compacted file
        # purges the vector, and positions are decoded only for the files
        # being rewritten.
        df = _read_table_files(
            spark, table_dir, [a["path"] for a in adds], meta, live
        ).select(*data_cols)
        if zorder_by:
            from .writer import scaled_zorder_key

            df = (
                df.withColumn("__zorder", scaled_zorder_key(df, zorder_by))
                .repartitionByRange(n_out, "__zorder")
                .sortWithinPartitions("__zorder")
                .drop("__zorder")
            )
        else:
            df = df.coalesce(n_out)
        df, _ = _to_physical_frame(df, meta, [])
        df.write.mode("overwrite").parquet(out_dir)
        compacted = sorted(glob(os.path.join(out_dir, "*.parquet")))
        _restamp_nested_ids(compacted, meta)
        for fpath in compacted:
            rel = os.path.join(part_dir, os.path.basename(fpath)) if part_dir else (
                os.path.basename(fpath)
            )
            dest = os.path.join(table_dir, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.move(fpath, dest)
            new_adds.append(
                {
                    "path": rel.replace(os.sep, "/"),
                    "size": os.path.getsize(dest),
                    "partitionValues": dict(key),
                    "modificationTime": now_ms,
                    "dataChange": False,
                    "stats": _file_stats_json(dest),
                }
            )
        removed.extend(a["path"] for a in adds)
    shutil.rmtree(staging, ignore_errors=True)

    actions = [
        {
            "remove": {
                "path": path,
                "deletionTimestamp": now_ms,
                "dataChange": False,
            }
        }
        for path in sorted(removed)
    ]
    actions.extend({"add": a} for a in new_adds)
    return _claim_rewrite_commit(
        log_dir, st, actions, {rel: live[rel] for rel in removed},
        checkpoint_interval, max_commit_retries, store, "optimize_delta",
    )


def _declared_schema(meta: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(meta["schemaString"]))


def _type_no_metadata(dt):
    """The dataType with NESTED StructField metadata stripped — schema
    comparisons must not fail because the table's schemaString carries
    invariants or mapping ids on inner fields that an incoming DataFrame
    (correctly) does not."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _type_no_metadata(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_type_no_metadata(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _type_no_metadata(dt.keyType),
            _type_no_metadata(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _dv_positions_by_rel(table_dir: str, live: dict) -> dict[str, list[int]]:
    """Decoded deleted row indexes for every live add that carries a
    deletion vector (empty dict when none do)."""
    from .deletion_vectors import read_dv_positions
    from .logstore import LogStore

    dv_rels = {
        rel: add["deletionVector"]
        for rel, add in live.items()
        if (add.get("deletionVector") or {}).get("storageType")
    }
    if not dv_rels:
        return {}
    store = LogStore(table_dir)
    return {
        rel: read_dv_positions(store, dv) for rel, dv in dv_rels.items()
    }


def _read_table_files(
    spark,
    table_dir: str,
    rels: list[str],
    meta: dict,
    live: dict,
    keep_meta: bool = False,
    apply_dvs: bool = True,
):
    """Live data files ``rels`` read back to the DECLARED table schema
    through the one Delta file scan (:func:`~.delta_catalog.scan_files`):
    each file's partition values come from its add action in ``live`` —
    the spec's authoritative source, whatever directory the file sits in
    (hive layout, flat, or an external absolute path) — and are cast to
    the declared types.

    Deletion vectors on the requested files are APPLIED — every rewrite
    path (merge, copy-on-write delete, update, optimize) must see the
    logical content, or its rewritten files would resurrect DV-deleted
    rows — unless ``apply_dvs`` is off (:func:`_dml_scan` decodes them
    executor-side).  ``keep_meta`` keeps ``__rawpath`` (the raw
    ``_metadata.file_path``, the scan key of :mod:`.uris`) and ``__ridx``
    (``_metadata.row_index``): the keys of file attribution
    (:func:`_rels_of`) and of deletion vectors."""
    store = LogStore(os.path.abspath(table_dir))
    ts = table_schema(meta, table_dir)
    df = scan_files(
        spark,
        ts,
        [_log_file(store, r, live[r], ts) for r in rels],
        _deleted_positions(table_dir, rels, live) if apply_dvs else [],
        keep_meta,
    )
    meta_cols = ["__rawpath", "__ridx"] if keep_meta else []
    return _declared_frame(df, meta, *meta_cols)


def _deleted_positions(table_dir: str, rels: list[str], live: dict):
    """``[(absolute path, row index)]`` deleted by the vectors ``live``
    records on ``rels``.  Only the REQUESTED files' vectors are decoded: a
    rewrite of one partition must not pay a driver-side decode of every
    live file's DV."""
    by_rel = _dv_positions_by_rel(table_dir, {r: live[r] for r in rels})
    return [
        (os.path.abspath(os.path.join(table_dir, rel)), int(p))
        for rel in rels
        for p in by_rel.get(rel, ())
    ]


def _declared_frame(df: DataFrame, meta: dict, *extra: str) -> DataFrame:
    """``df``'s logical columns cast to the DECLARED schema (partition
    values arrive as strings), plus ``extra``."""
    from pyspark.sql import functions as F

    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in _declared_schema(meta).fields
        ],
        *extra,
    )


def _rels_of(df: DataFrame, table_dir: str, live: dict):
    """Raw scan key (``__rawpath``) of every file ``df`` scans → its log
    path in ``live``; a miss is a typed :class:`BuzzPlanError`
    (:func:`~.uris.scanned_files`)."""
    from .uris import scanned_files

    return scanned_files(
        df, {os.path.abspath(os.path.join(table_dir, rel)): rel for rel in live}
    )


def _to_physical_frame(
    df: DataFrame, meta: dict, partition_by: list[str], keep: tuple = ()
):
    """(df with PHYSICAL column names, physical partition cols) for staging
    writes into a column-mapped table — identity on unmapped tables.
    Under mode=id every column is additionally stamped with its mapping
    id as ``parquet.field.id`` alias metadata, which Spark's parquet
    writer emits as footer field ids (``fieldId.write.enabled``, default
    on) — the invariant external field-id readers rely on.  ``keep``
    names columns staged as they are (``_change_type`` on change files:
    the spec stores it by that literal name)."""
    cm_mode, phys, cm_ids = _mapping_info(meta)
    if cm_mode == "none":
        return df, partition_by
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        if f.name in keep:
            cols.append(F.col(f.name))
            continue
        md = dict(f.metadata or {})
        if cm_mode == "id":
            if f.name not in cm_ids:
                raise BuzzSchemaError(
                    f"columnMapping.mode=id table lacks a mapping id for "
                    f"column {f.name!r} — cannot stage resolvable files"
                )
            md["parquet.field.id"] = cm_ids[f.name]
        cols.append(
            F.col(f.name).alias(phys.get(f.name, f.name), metadata=md)
        )
    return df.select(*cols), [phys.get(c, c) for c in partition_by]


def _key_overlap_candidates(live: dict[str, dict], ranges: dict) -> list[str]:
    """Live files whose per-column stats ranges overlap the source key ranges
    on EVERY key column — a file whose [min,max] misses the source range on
    any key column provably contains no matching row (same zone-map logic as
    sources/zonemap.py, evaluated from the stats recorded on add actions).
    Files without usable stats are always candidates (prune must be safe)."""
    out = []
    for rel, add in live.items():
        try:
            st = json.loads(add.get("stats") or "{}")
        except (TypeError, ValueError):
            st = {}
        mins, maxs = st.get("minValues", {}), st.get("maxValues", {})
        keep = True
        for col, (lo, hi) in ranges.items():
            if lo is None or col not in mins or col not in maxs:
                continue  # no stats on one side → unprunable
            try:
                if mins[col] > hi or maxs[col] < lo:
                    keep = False
                    break
            except TypeError:
                continue  # cross-type comparison → unprunable
        if keep:
            out.append(rel)
    return out


def _merge_delta_generalized(
    spark,
    table_dir: str,
    log_dir: str,
    source: DataFrame,
    on: list[str],
    clauses: list[dict],
    insert_enabled: bool,
    not_matched_condition: str | None,
    st: LogState,
    checkpoint_interval: int,
    max_commit_retries: int,
    store,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    by_source: list[dict] | None = None,
    insert_values: dict[str, str] | None = None,
) -> int | None:
    """Clause-based MERGE body (conditional / partial-column form; see
    :func:`merge_delta`).  Same scale shape as the unconditional path —
    stats-pruned candidates, one key-equi-join per stage, rewrite reads
    only touched files — with one deliberate cost difference: the
    candidate ATTRIBUTION scan reads all table columns (clause conditions
    may reference any of them), not just the keys, so a file whose rows
    match a key but fire NO clause is never rewritten.

    ``by_source`` (WHEN NOT MATCHED BY SOURCE) widens the attribution
    scan to EVERY live file — by definition the affected rows are the
    ones no source key reaches, so stats pruning cannot help; that full
    scan IS the semantics (Delta's own MERGE pays it too) — but the
    rewrite still touches only files where some clause actually FIRED
    (matched or by-source), folded into one shared attribution pass."""
    from functools import reduce

    from pyspark.sql import functions as F

    from .merge_clauses import (
        build_insert_rows,
        clause_action_column,
        clause_row_column,
        insert_filter,
    )

    by_source = by_source or []
    live, meta = st.adds, st.meta
    schema = _declared_schema(meta)
    names = [f.name for f in schema.fields]
    partition_by = list(meta.get("partitionColumns", []))

    matched = None
    bs_marked = None
    source = source.persist()
    try:
        dup = (
            source.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise BuzzBadRequestError("merge source has duplicate key rows")

        row = source.agg(
            *[F.min(k).alias(f"_lo_{k}") for k in on],
            *[F.max(k).alias(f"_hi_{k}") for k in on],
        ).first()
        _, _phys, _ = _mapping_info(meta)
        ranges = {
            _phys.get(k, k): (row[f"_lo_{k}"], row[f"_hi_{k}"]) for k in on
        }
        candidates = _key_overlap_candidates(live, ranges)

        s_side = source.select(F.struct(*names).alias("s"))
        action_col = clause_action_column(clauses)
        bs_action = clause_action_column(by_source)
        src_keys = source.select(*on)

        def _pair(left, how="inner"):
            cond = reduce(
                lambda a, b: a & b,
                [
                    left["t"].getField(k) == s_side["s"].getField(k)
                    for k in on
                ],
            )
            return left.join(s_side, on=cond, how=how)

        # by-source clauses reach rows NO source key matches — any live
        # file may hold one, so the attribution scan widens to the whole
        # snapshot (the full scan is the semantics, not an inefficiency)
        scan_rels = sorted(live) if by_source else candidates
        touched: list[str] = []
        tgt_keys = None
        if scan_rels:
            cand_df = _read_table_files(
                spark, table_dir, scan_rels, meta, live, keep_meta=True
            )
            tgt_keys = cand_df.select(*on)
            rel_of = _rels_of(cand_df, table_dir, live)
            if by_source:
                # one shared pass: matched rows consult the matched
                # clauses, unmatched rows the by-source clauses
                probe = _pair(
                    cand_df.select(F.struct(*names).alias("t"), "__rawpath"),
                    how="left",
                )
                fire = F.when(
                    F.col("s").isNotNull(), action_col
                ).otherwise(bs_action)
                hits = (
                    probe.where(fire.isNotNull())
                    .select("__rawpath")
                    .distinct()
                    .collect()
                )
                touched = sorted(rel_of[r["__rawpath"]] for r in hits)
            elif clauses:
                # attribution = which files hold a pair where SOME clause
                # fires; unconditional clauses degenerate to the key match
                probe = _pair(
                    cand_df.select(F.struct(*names).alias("t"), "__rawpath")
                )
                hits = (
                    probe.where(action_col.isNotNull())
                    .select("__rawpath")
                    .distinct()
                    .collect()
                )
                touched = sorted(rel_of[r["__rawpath"]] for r in hits)

        version = st.version + 1
        now_ms = int(time.time() * 1000)

        rewritten = None
        if touched:
            touched_df = _read_table_files(spark, table_dir, touched, meta, live)
            unmatched = touched_df.join(src_keys, on=on, how="left_anti")
            if by_source:
                bs_marked = (
                    unmatched.select(F.struct(*names).alias("t"))
                    .select(
                        F.col("t").alias("__t"),
                        bs_action.alias("__a"),
                        clause_row_column(by_source, schema.fields).alias(
                            "__r"
                        ),
                    )
                    .persist()
                )
                keep = bs_marked.where(
                    F.col("__a").isNull() | (F.col("__a") == "update")
                ).select("__r.*")
            else:
                keep = unmatched
            if clauses:
                pairs = _pair(touched_df.select(F.struct(*names).alias("t")))
                matched = pairs.select(
                    F.col("t").alias("__t"),
                    action_col.alias("__a"),
                    clause_row_column(clauses, schema.fields).alias("__r"),
                ).persist()
                survivors = matched.where(
                    F.col("__a").isNull() | (F.col("__a") == "update")
                ).select("__r.*")
                rewritten = keep.unionByName(survivors)
            else:
                # no matched clauses (by-source-only merge): matched rows
                # in touched files are UNTOUCHED — re-emit them verbatim
                # (the anti-join above excluded them from `keep`)
                rewritten = keep.unionByName(
                    touched_df.join(src_keys, on=on, how="left_semi")
                )

        inserts = None
        if insert_enabled:
            ins = (
                source.join(tgt_keys, on=on, how="left_anti")
                if tgt_keys is not None
                else source
            )
            if not_matched_condition is not None:
                ins = insert_filter(ins, names, not_matched_condition)
            if insert_values is not None:
                ins = build_insert_rows(
                    ins, names, insert_values, schema.fields,
                    generated=dict(_table_rules(meta)[2]),
                )
            inserts = ins.select(*names)

        out = rewritten
        if inserts is not None:
            out = inserts if out is None else out.unionByName(inserts)
        if out is None or (not touched and inserts is None):
            return None
        out, rules_check = _observe_table_rules(out, meta, "merge_delta")

        out_phys, parts_phys = _to_physical_frame(out, meta, partition_by)
        adds = _stage_and_promote(
            out_phys, table_dir, version, parts_phys, now_ms, tag="merge",
            meta=meta, rules_check=rules_check,
        )
        if not touched and not adds:
            return None  # insert-only merge with an empty insert set

        cdc_actions: list[dict] = []
        if _cdf_active(st):
            frames = []
            for mk in (matched, bs_marked):
                if mk is None:
                    continue
                upd = mk.where(F.col("__a") == "update")
                frames.append(
                    upd.select("__t.*").withColumn(
                        "_change_type", F.lit("update_preimage")
                    )
                )
                frames.append(
                    upd.select("__r.*").withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
                frames.append(
                    mk.where(F.col("__a") == "delete")
                    .select("__t.*")
                    .withColumn("_change_type", F.lit("delete"))
                )
            if inserts is not None:
                frames.append(
                    inserts.withColumn("_change_type", F.lit("insert"))
                )
            if frames:
                from functools import reduce as _red

                cdc_actions = _stage_change_files(
                    _red(DataFrame.unionByName, frames),
                    table_dir, version, partition_by, meta=meta,
                )

        actions: list[dict] = [
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
            for rel in touched
        ]
        actions.extend({"add": a} for a in adds)
        actions.extend(cdc_actions)
        if txn_app_id is not None:
            actions.append(
                {
                    "txn": {
                        "appId": txn_app_id,
                        "version": txn_version,
                        "lastUpdated": now_ms,
                    }
                }
            )
        id_bump = _identity_bump(meta, adds, _identity_columns(meta))
        if id_bump is not None:
            # explicit inserts under GENERATED BY DEFAULT: sync the high
            # water mark in the same commit so future allocations clear
            # the inserted values
            actions.insert(0, {"metaData": id_bump(meta)})
        return _claim_rewrite_commit(
            log_dir, st, actions, {rel: live[rel] for rel in touched},
            checkpoint_interval, max_commit_retries, store, "merge_delta",
            require_same_protocol=bool(touched),
        )
    finally:
        source.unpersist()
        if matched is not None:
            matched.unpersist()
        if bs_marked is not None:
            bs_marked.unpersist()


def merge_delta(
    spark,
    table_uri: str,
    source: DataFrame,
    on: list[str],
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
    checkpoint_interval: int = 10,
    max_commit_retries: int = 5,
    schema_mode: str = "strict",
    matched_clauses: list[dict] | None = None,
    not_matched_condition: str | None = None,
    by_source_clauses: list[dict] | None = None,
    insert_values: dict[str, str] | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    store=None,
) -> int | None:
    """MERGE INTO (upsert) with copy-on-write file rewrites — the missing
    mutation in an append/overwrite-only log, and the primitive behind
    incremental pipelines (CDC upserts, backfill corrections, dedup-store
    refresh).  ``when_matched``: ``'update'`` replaces the matched target row
    with the source row, ``'delete'`` drops it, ``None`` leaves it.
    ``when_not_matched='insert'`` appends source rows whose keys are absent.
    Whole-row semantics: the source schema must equal the table schema —
    or pass ``schema_mode='merge'`` to reconcile drift like
    :func:`write_delta` (new columns evolve in, missing nullable columns
    null-fill — note updated rows take the source row WHOLESALE, so a
    null-filled column becomes NULL there, not "unchanged"; lossless
    upcasts only).

    Returns the committed version, or ``None`` when the merge is a no-op.

    Scale shape: only files that can contain a matching key are touched —
    candidates are pruned by the per-file min/max stats on the add actions
    (no data read), then confirmed by a key-column scan (parquet column
    pruning: just the join keys) joined against the source; everything else
    is untouched metadata.  The rewrite reads exactly the touched files once.
    The source is read several times (dup-check, ranges, joins) — callers
    merge a batch, not a corpus; Delta's own MERGE makes the same assumption.

    **Conditional / partial-column form**: ``matched_clauses`` (a list of
    ``{"action": "update"|"delete", "condition": sql | None, "set":
    {col: sql_expr} | None}``) supersedes ``when_matched`` with Delta SQL
    MERGE semantics — clauses evaluate per matched (target, source) row
    pair in order, the FIRST one whose condition holds fires, and an
    ``update`` with ``set`` rewrites only the listed columns (expressions
    over ``t.<col>`` / ``s.<col>``), leaving every other column at its
    TARGET value; a pair firing no clause leaves the row unchanged (and a
    file none of whose pairs fire is never rewritten).
    ``not_matched_condition`` filters the insert clause the same way
    (``s.<col>`` or bare source names).  See
    :mod:`~.merge_clauses` for the full contract.

    **WHEN NOT MATCHED BY SOURCE**: ``by_source_clauses`` (same clause
    shape, conditions and ``set`` over ``t.<col>`` ONLY, ``update``
    requires ``set``) applies ordered first-match-wins update/delete
    clauses to TARGET rows with no source key match — the full-sync CDC
    idiom ("delete everything the snapshot no longer contains"), in the
    SAME atomic commit as the matched/insert clauses.  The attribution
    scan necessarily widens to every live file; the rewrite still
    touches only files where some clause fired.

    **INSERT column expressions**: ``insert_values`` (column → SQL
    expression over ``s.<col>`` / bare source names) builds the inserted
    row instead of taking the source row wholesale — unlisted columns
    insert NULL, except Delta generated columns, which are computed from
    their generation expression over the BUILT row.  Requires
    ``when_not_matched='insert'``.
    """
    from pyspark.sql import functions as F

    from .merge_clauses import (
        check_target_only,
        legacy_clauses,
        validate_by_source_clauses,
        validate_insert_values,
        validate_matched_clauses,
    )

    if when_matched not in ("update", "delete", None):
        raise BuzzBadRequestError(
            f"when_matched must be update|delete|None, got {when_matched!r}"
        )
    if when_not_matched not in ("insert", None):
        raise BuzzBadRequestError(
            f"when_not_matched must be insert|None, got {when_not_matched!r}"
        )
    if not_matched_condition is not None and when_not_matched != "insert":
        raise BuzzBadRequestError(
            "not_matched_condition requires when_not_matched='insert'"
        )
    if insert_values is not None and when_not_matched != "insert":
        raise BuzzBadRequestError(
            "insert_values requires when_not_matched='insert'"
        )
    if (
        (when_matched is None if matched_clauses is None else not matched_clauses)
        and when_not_matched is None
        and not by_source_clauses
    ):
        raise BuzzBadRequestError("merge with no clauses is a no-op by construction")
    on = list(on)
    if not on:
        raise BuzzBadRequestError("merge requires at least one key column")

    if (txn_app_id is None) != (txn_version is None):
        raise BuzzBadRequestError(
            "txn_app_id and txn_version must be set together"
        )
    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    st = _log_state(log_dir)
    live, meta = st.adds, st.meta
    if st.version < 0:
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    if txn_app_id is not None:
        # SetTransaction idempotence BEFORE any staging: a replayed
        # micro-batch costs a log scan, not a merge (the streaming
        # upsert sink's exactly-once contract, like write_delta's)
        if txn_version <= st.txns.get(txn_app_id, -1):
            return None
    _require_id_rewritable(meta, table_uri, "merge_delta")
    if when_matched is not None or by_source_clauses:
        # an insert-only merge emits adds only — legal on append-only
        _require_not_append_only(
            st, f"merge_delta(when_matched={when_matched!r})"
        )
    schema = _declared_schema(meta)
    names = [f.name for f in schema.fields]
    for k in on:
        if k not in names:
            raise BuzzBadRequestError(f"merge key {k!r} not a table column")
    if schema_mode not in ("strict", "merge"):
        raise BuzzBadRequestError(
            f"schema_mode must be strict|merge, got {schema_mode!r}"
        )
    # absent generated columns are COMPUTED on the source (spec write
    # rule) before the schema comparison would reject them as missing
    source = _apply_generated_columns(source, meta)
    # identity tables: the identity column must BE the match identity —
    # any other shape rewrites allocated values (updates replacing them,
    # inserts minting them); GENERATED ALWAYS additionally forbids the
    # insert clause (new rows would carry explicit values; route them
    # through write_delta, which allocates)
    merge_id_cols = _identity_columns(meta)
    if merge_id_cols:
        not_keyed = [c["name"] for c in merge_id_cols if c["name"] not in on]
        if not_keyed:
            raise BuzzBadRequestError(
                "merge_delta on an identity table requires identity "
                f"column(s) {not_keyed} among the merge keys — matched "
                "rows would otherwise overwrite allocated values"
            )
        if when_not_matched == "insert" and any(
            not c["allow_explicit"] for c in merge_id_cols
        ):
            raise BuzzBadRequestError(
                "merge_delta with an insert clause on a GENERATED ALWAYS "
                "identity table would write explicit identity values — "
                "pass when_not_matched=None and route new rows through "
                "write_delta (which allocates)"
            )
    ours = {f.name: _type_no_metadata(f.dataType) for f in source.schema.fields}
    theirs = {f.name: _type_no_metadata(f.dataType) for f in schema.fields}
    if ours != theirs and schema_mode == "merge":
        # same reconciliation as write_delta(schema_mode='merge').  NOTE
        # on upsert semantics: when_matched='update' replaces the target
        # row with the SOURCE row wholesale, so a null-filled missing
        # column becomes NULL in updated rows (full-row upsert), never
        # "unchanged".
        source, evolved = _merge_write_schema(source, schema, table_uri, store)
        if evolved:
            st = _log_state(log_dir)
            live, meta = st.adds, st.meta
            schema = _declared_schema(meta)
            names = [f.name for f in schema.fields]
        ours = {f.name: _type_no_metadata(f.dataType) for f in source.schema.fields}
        theirs = {f.name: _type_no_metadata(f.dataType) for f in schema.fields}
    if ours != theirs:
        raise BuzzSchemaError(
            f"merge source schema mismatch vs table metaData: {sorted(ours)}"
            f" vs {sorted(theirs)}"
        )
    partition_by = list(meta.get("partitionColumns", []))

    if (
        matched_clauses is not None
        or not_matched_condition is not None
        or by_source_clauses
        or insert_values is not None
    ):
        clauses = (
            validate_matched_clauses(matched_clauses, names, on)
            if matched_clauses is not None
            else legacy_clauses(when_matched)
        )
        bys = (
            validate_by_source_clauses(by_source_clauses, names, on)
            if by_source_clauses
            else []
        )
        if bys:
            check_target_only(
                source.select(F.struct(*names).alias("t")), bys, "by-source"
            )
        ivs = (
            validate_insert_values(insert_values, names)
            if insert_values is not None
            else None
        )
        return _merge_delta_generalized(
            spark, table_dir, log_dir, source, on, clauses,
            when_not_matched == "insert", not_matched_condition, st,
            checkpoint_interval, max_commit_retries, store,
            txn_app_id, txn_version, by_source=bys, insert_values=ivs,
        )

    source = source.persist()
    try:
        # Ambiguous-merge guard (Delta parity): two source rows matching one
        # target row would make the result nondeterministic.
        dup = (
            source.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise BuzzBadRequestError("merge source has duplicate key rows")

        # Source key ranges (one small agg) → stats-pruned candidate files.
        row = source.agg(
            *[F.min(k).alias(f"_lo_{k}") for k in on],
            *[F.max(k).alias(f"_hi_{k}") for k in on],
        ).first()
        # add-action stats are keyed by PHYSICAL names on mapped tables
        _, _phys, _ = _mapping_info(meta)
        ranges = {
            _phys.get(k, k): (row[f"_lo_{k}"], row[f"_hi_{k}"]) for k in on
        }
        candidates = _key_overlap_candidates(live, ranges)

        src_keys = source.select(*on)
        touched: list[str] = []
        tgt_keys = None
        if candidates:
            cand_df = _read_table_files(
                spark, table_dir, candidates, meta, live, keep_meta=True
            )
            # Key-column scan + file attribution; the join's source side is a
            # batch → broadcast by Spark's own sizing.
            hits = (
                cand_df.select(*on, "__rawpath")
                .join(src_keys, on=on, how="inner")
                .select("__rawpath")
                .distinct()
                .collect()
            )
            rel_of = _rels_of(cand_df, table_dir, live)
            touched = sorted(rel_of[r["__rawpath"]] for r in hits)
            tgt_keys = cand_df.select(*on)

        version = st.version + 1
        now_ms = int(time.time() * 1000)
        adds: list[dict] = []

        if when_matched is None:
            # Matched rows are untouched → no file needs rewriting; the
            # touched set only informed the not-matched detection.
            touched = []
        rewritten = None
        if touched:
            touched_df = _read_table_files(spark, table_dir, touched, meta, live)
            keep = touched_df.join(src_keys, on=on, how="left_anti")
            rewritten = keep
            if when_matched == "update":
                # Per MATCHED TARGET ROW: one inner join replaces each
                # matched row's values with the source row's — duplicate-key
                # target rows (legal via appends) each yield one updated row
                # (Delta MERGE parity; an anti+re-add-source would collapse
                # them to a single row, silently losing rows).
                updated = (
                    touched_df.select(*on)
                    .join(source, on=on, how="inner")
                    .select(*names)
                )
                rewritten = keep.unionByName(updated)
            # when_matched == "delete" → keep only the unmatched rows
        inserts = None
        if when_not_matched == "insert":
            inserts = (
                source.join(tgt_keys, on=on, how="left_anti")
                if tgt_keys is not None
                else source
            ).select(*names)

        out = rewritten
        if inserts is not None:
            out = inserts if out is None else out.unionByName(inserts)
        if out is None or (not touched and when_not_matched is None):
            return None  # nothing matched and nothing to insert
        out, rules_check = _observe_table_rules(out, meta, "merge_delta")

        out_phys, parts_phys = _to_physical_frame(out, meta, partition_by)
        adds = _stage_and_promote(
            out_phys, table_dir, version, parts_phys, now_ms, tag="merge",
            meta=meta, rules_check=rules_check,
        )
        if not touched and not adds:
            return None  # insert-only merge with an empty insert set

        # recorded change data (CDF): the merge KNOWS its exact pre/post
        # images — recording them spares every downstream CDF reader the
        # net per-file diff (and its read of the full rewritten files)
        cdc_actions: list[dict] = []
        if _cdf_active(st):
            frames = []
            if touched:
                matched_tgt = touched_df.join(
                    src_keys, on=on, how="left_semi"
                ).select(*names)
                if when_matched == "update":
                    frames.append(
                        matched_tgt.withColumn(
                            "_change_type", F.lit("update_preimage")
                        )
                    )
                    frames.append(
                        updated.withColumn(
                            "_change_type", F.lit("update_postimage")
                        )
                    )
                elif when_matched == "delete":
                    frames.append(
                        matched_tgt.withColumn("_change_type", F.lit("delete"))
                    )
            if inserts is not None:
                frames.append(
                    inserts.withColumn("_change_type", F.lit("insert"))
                )
            if frames:
                from functools import reduce

                cdc_actions = _stage_change_files(
                    reduce(DataFrame.unionByName, frames),
                    table_dir, version, partition_by, meta=meta,
                )

        actions: list[dict] = [
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
            for rel in touched
        ]
        actions.extend({"add": a} for a in adds)
        actions.extend(cdc_actions)
        if txn_app_id is not None:
            actions.append(
                {
                    "txn": {
                        "appId": txn_app_id,
                        "version": txn_version,
                        "lastUpdated": now_ms,
                    }
                }
            )
        id_bump = _identity_bump(meta, adds, _identity_columns(meta))
        if id_bump is not None:
            # explicit inserts under GENERATED BY DEFAULT: sync the high
            # water mark in the same commit so future allocations clear
            # the inserted values
            actions.insert(0, {"metaData": id_bump(meta)})
        return _claim_rewrite_commit(
            log_dir, st, actions, {rel: live[rel] for rel in touched},
            checkpoint_interval, max_commit_retries, store, "merge_delta",
            require_same_protocol=bool(touched),
        )
    finally:
        source.unpersist()


def _dml_scan(spark, table_dir: str, meta: dict, live: dict):
    """DELETE/UPDATE's attribution scan: ``(scan, rel_of, old_pos_df)``.

    ``scan`` is :func:`_read_table_files` of every live file, with
    ``__rawpath``/``__ridx``, minus the rows its deletion vectors delete (a predicate matching only them
    is a logical no-op); ``rel_of`` maps a row's ``__rawpath`` to its log
    path (:func:`_rels_of`).  EXISTING deletion vectors are decoded
    EXECUTOR-side (:func:`~.deletion_vectors.decode_dvs_distributed`,
    keyed by the same raw scan keys): the driver handles only the
    O(files) descriptors — after N un-compacted DV deletes the
    accumulated positions are O(N × matched rows).  ``old_pos_df`` is
    that decode, persisted (the caller unpersists it) because it feeds
    both the anti-join here and a DV-mode bitmap rebuild; None when no
    live file carries a vector."""
    from pyspark.sql.functions import broadcast

    from .deletion_vectors import decode_dvs_distributed

    scan = _read_table_files(
        spark, table_dir, sorted(live), meta, live, keep_meta=True,
        apply_dvs=False,
    )
    rel_of = _rels_of(scan, table_dir, live)
    dv_desc = {
        raw: live[rel]["deletionVector"]
        for raw, rel in rel_of.items()
        if (live[rel].get("deletionVector") or {}).get("storageType")
    }
    if not dv_desc:
        return scan, rel_of, None
    old_pos_df = decode_dvs_distributed(spark, table_dir, dv_desc).persist()
    # broadcast by the descriptors' recorded cardinalities — no decode
    # needed to size the relation
    total_card = sum(int(dv.get("cardinality") or 0) for dv in dv_desc.values())
    anti = broadcast(old_pos_df) if total_card <= 2_000_000 else old_pos_df
    scan = scan.join(anti, on=["__rawpath", "__ridx"], how="left_anti")
    return scan, rel_of, old_pos_df


def _rel_num_records(table_dir: str, rel: str, add: dict) -> int:
    """Physical row count of a data file: add-action stats when recorded,
    else the parquet footer."""
    try:
        st = json.loads(add.get("stats") or "{}")
        if "numRecords" in st:
            return int(st["numRecords"])
    except (TypeError, ValueError):
        pass
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(table_dir, rel)).num_rows


def delete_delta(
    spark,
    table_uri: str,
    predicate: str,
    checkpoint_interval: int = 10,
    mode: str = "cow",
    max_dv_rows: int = 5_000_000,
    max_commit_retries: int = 5,
    store=None,
) -> int | None:
    """DELETE FROM ``table`` WHERE ``predicate``.  Returns the committed
    version, or ``None`` when no row matched.

    ``mode="cow"`` (default): copy-on-write — only files with ≥1 match are
    rewritten WITHOUT their matching rows; a delete of a cold partition
    touches no hot file.  ``mode="dv"``: deletion vectors — no data file is
    rewritten at all; matched row indexes are unioned into each touched
    file's bitmap, one Z85-named sidecar per commit, and the table's
    protocol is upgraded to reader 3 / writer 7 with the deletionVectors
    feature on first use (what delta-spark's DELETE does when DVs are
    enabled).  DV bitmaps are built EXECUTOR-side: matched coordinates
    repartition by file and each task serializes its files' merged
    bitmaps into its own sidecar, so the driver sees only O(touched
    files) descriptor rows.  ``max_dv_rows`` is a POLICY knob, not a
    memory guard: past it, compaction (cow) beats accumulating DV lookups
    on every scan, and the typed error says so.  The write amplification
    of cow drops to zero.  Prior versions stay time-travelable in both modes (see
    :func:`vacuum_delta`)."""
    from pyspark.sql import functions as F

    if mode not in ("cow", "dv"):
        raise BuzzBadRequestError(f"delete mode must be cow|dv, got {mode!r}")
    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    st = _log_state(log_dir)
    live, meta = st.adds, st.meta
    if st.version < 0:
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    _require_id_rewritable(meta, table_uri, "delete_delta")
    _require_not_append_only(st, "delete_delta")
    if not live:
        return None
    partition_by = list(meta.get("partitionColumns", []))

    scan, rel_of, old_pos_df = _dml_scan(spark, table_dir, meta, live)
    version = st.version + 1
    now_ms = int(time.time() * 1000)

    def _stage_cdc(cond) -> list[dict]:
        """Recorded change data for this DELETE (deleted rows,
        ``_change_type='delete'``) when the table enables CDF — staged
        once, reused across claim retries like the data files."""
        if not _cdf_active(st):
            return []
        names = [f.name for f in _declared_schema(meta).fields]
        changes = (
            scan.where(cond)
            .select(*names)
            .withColumn("_change_type", F.lit("delete"))
        )
        return _stage_change_files(
            changes, table_dir, version, partition_by, meta=meta
        )

    cdc_actions: list[dict] = []
    try:
        try:
            cond = F.expr(predicate)
            if mode == "dv":
                # EXECUTOR-side DV construction (build_dvs_distributed):
                # matched coordinates are repartitioned by file and each
                # task serializes its files' merged bitmaps into its own
                # sidecar — the driver receives O(touched files)
                # descriptor rows, never the matched (file, pos) rows
                from .deletion_vectors import build_dvs_distributed

                dv_rows = build_dvs_distributed(
                    scan.where(cond).select(
                        "__rawpath",
                        F.col("__ridx").cast("long").alias("__ridx"),
                    ),
                    table_dir,
                    old_df=old_pos_df,
                )
            else:
                matched = (
                    scan.where(cond).select("__rawpath").distinct().collect()
                )
        except BuzzError:
            raise
        except Exception as exc:  # noqa: BLE001 — analyzer errors → typed
            raise BuzzBadRequestError(
                f"invalid delete predicate {predicate!r}: {exc}"
            ) from exc
        # the max_dv_rows POLICY refusal runs BEFORE any change-data
        # staging: a refused bulk delete must not pay the change scan or
        # orphan _change_data files (the sidecars it unlinks are the only
        # artifacts staged so far)
        if mode == "dv" and dv_rows:
            n_new = sum(int(r["new_rows"]) for r in dv_rows)
            if n_new > max_dv_rows:
                from .deletion_vectors import dv_relative_path

                for name in {
                    dv_relative_path({"pathOrInlineDv": r["token"]})
                    for r in dv_rows
                }:
                    try:
                        os.unlink(os.path.join(table_dir, name))
                    except OSError:
                        pass
                raise BuzzBadRequestError(
                    f"DV delete matches {n_new} rows, more than "
                    f"{max_dv_rows}; use mode='cow' (rewrite) for bulk "
                    "deletes, or raise max_dv_rows"
                )
        # stage the change record while the decode is still persisted (its
        # scan re-evaluates the already-deleted anti-join); a failure here
        # is an IO problem, not a predicate problem — no typed rewrap
        if (dv_rows if mode == "dv" else matched):
            cdc_actions = _stage_cdc(cond)
    finally:
        # unpersist AFTER the cdc staging: the change-file scan evaluates
        # scan.where(cond), which anti-joins against the persisted decode
        # — releasing it earlier would re-decode every live DV twice
        if old_pos_df is not None:
            old_pos_df.unpersist()

    if mode == "dv":
        if not dv_rows:
            return None
        desc_by_rel = {rel_of[r["__rawpath"]]: r for r in dv_rows}
        # files whose every physical row is now deleted leave the snapshot
        # entirely — a remove with no re-add, exactly like cow
        fully_gone = {
            rel
            for rel, r in desc_by_rel.items()
            if int(r["cardinality"]) >= _rel_num_records(table_dir, rel, live[rel])
        }
        with_dv = {
            rel: r for rel, r in desc_by_rel.items() if rel not in fully_gone
        }
        actions: list[dict] = []
        proto = st.protocol
        if int(proto.get("minReaderVersion", 1)) < 3 or "deletionVectors" not in (
            proto.get("writerFeatures") or []
        ):
            # carry existing capabilities into the feature lists: a mapped
            # table (legacy writer-5 or writer-7 columnMapping) upgraded
            # with a bare DV_PROTOCOL would LOSE column mapping and break
            # every reader of its physical-named files; likewise a legacy
            # CDF table (writer 4/5/6 implies the capability without
            # listing it) must keep changeDataFeed in writerFeatures or
            # conformant external writers stop emitting cdc actions while
            # delta.enableChangeDataFeed stays set
            wfeats = {"deletionVectors"} | _legacy_active_writer_features(
                meta, proto
            )
            rfeats = {"deletionVectors"} | set(
                proto.get("readerFeatures") or []
            )
            if "columnMapping" in wfeats:
                rfeats.add("columnMapping")
            actions.append({"protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(rfeats),
                "writerFeatures": sorted(wfeats),
            }})
        for rel in sorted(desc_by_rel):
            actions.append(
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            if rel in with_dv:
                r = with_dv[rel]
                actions.append(
                    {
                        "add": {
                            **live[rel],
                            "modificationTime": now_ms,
                            "dataChange": True,
                            "deletionVector": {
                                "storageType": "u",
                                "pathOrInlineDv": r["token"],
                                "offset": int(r["offset"]),
                                "sizeInBytes": int(r["size"]),
                                "cardinality": int(r["cardinality"]),
                            },
                        }
                    }
                )
        actions.extend(cdc_actions)
        # retry validation includes the old DV descriptor: the new bitmap
        # was unioned from it, so a concurrently-replaced DV must abort
        return _claim_rewrite_commit(
            log_dir, st, actions, {rel: live[rel] for rel in desc_by_rel},
            checkpoint_interval, max_commit_retries, store,
            "delete_delta(dv)", require_same_protocol=True,
        )

    if not matched:
        return None
    touched = sorted(rel_of[r["__rawpath"]] for r in matched)
    # Survivor = NOT (predicate IS TRUE): a NULL predicate result does not
    # delete the row (SQL DELETE semantics) — a bare ~cond would silently
    # drop NULL-evaluating rows from the rewrite.  Existing DVs on touched
    # files are applied by the read, so the rewrite also purges them.
    survivors = _read_table_files(spark, table_dir, touched, meta, live).where(
        ~F.coalesce(cond, F.lit(False))
    )
    survivors, rules_check = _observe_table_rules(
        survivors, meta, "delete_delta"
    )
    surv_phys, parts_phys = _to_physical_frame(survivors, meta, partition_by)
    adds = _stage_and_promote(
        surv_phys, table_dir, version, parts_phys, now_ms, tag="delete",
        meta=meta, rules_check=rules_check,
    )
    actions = [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
        }
        for rel in touched
    ]
    actions.extend({"add": a} for a in adds)
    actions.extend(cdc_actions)
    return _claim_rewrite_commit(
        log_dir, st, actions, {rel: live[rel] for rel in touched},
        checkpoint_interval, max_commit_retries, store, "delete_delta",
        require_same_protocol=True,
    )


def truncate_delta(
    table_uri: str,
    checkpoint_interval: int = 10,
    max_commit_retries: int = 5,
    store=None,
) -> int | None:
    """TRUNCATE TABLE — one METADATA-ONLY commit removing every live
    file from the snapshot (nothing scanned, nothing rewritten, O(live
    files) driver work regardless of data size; delta-spark's TRUNCATE
    is the same move).  Prior versions stay time-travelable until
    :func:`vacuum_delta` reclaims their files.  CDF tables compose
    through the changelog's net-diff fallback (a remove-only commit
    yields delete rows from the removed files' content).  Returns the
    committed version, or None when the table is already empty."""
    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    st = _log_state(log_dir)
    if st.version < 0:
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    _require_not_append_only(st, "truncate_delta")
    if not st.adds:
        return None
    now_ms = int(time.time() * 1000)
    actions = [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
        }
        for rel in sorted(st.adds)
    ]
    return _claim_rewrite_commit(
        log_dir, st, actions, dict(st.adds), checkpoint_interval,
        max_commit_retries, store, "truncate_delta",
    )


def clone_delta(
    src_uri: str,
    dst_uri: str,
    version: int | None = None,
    store=None,
) -> int:
    """SHALLOW CLONE: create a NEW Delta table at ``dst_uri`` whose
    snapshot is the source's (optionally AS OF ``version``) — METADATA
    ONLY, zero data copied: the clone's commit 0 re-ADDS every live
    source file by ABSOLUTE path (stats, partition values, and deletion
    vectors ride along; ``u``-token DV descriptors convert to absolute
    ``p`` paths so they resolve from the clone).  Delta's CLONE
    semantics: the tables then diverge independently — writes to the
    clone stage new files under ITS root and only drop references,
    never bytes, so the source is untouched; ``vacuum_delta`` on either
    side walks only its own root and can never reclaim the other's
    files.  The clone copies the source's protocol and metaData
    (schema, partitioning, configuration — constraints and column
    mapping included) under a fresh table id.

    Every scan takes a file's location and partition values from its add
    action (:func:`_read_table_files`), which is what makes the cloned
    absolute adds first-class: scans, merges, deletes, updates, and
    OPTIMIZE over
    them all work, compacting results INTO the clone.  Boundary:
    sources carrying the ``rowTracking`` writer feature refuse typed
    (cloned adds would need fresh base row ids and domain metadata —
    delta-spark's CLONE re-mints them; this writer does not).
    Metadata-only driver work, O(live files); no SparkSession needed.
    Returns the clone's committed version (always 0)."""
    from .deletion_vectors import dv_relative_path

    src_dir = _local_table_dir(src_uri)
    src_log = os.path.join(src_dir, "_delta_log")
    st = _log_state(src_log)
    if st.version < 0:
        raise BuzzBadRequestError(f"not a Delta table: {src_uri!r}")
    if version is not None and version != st.version:
        if version < 0 or version > st.version:
            raise BuzzBadRequestError(
                f"clone: no version {version} (latest: {st.version})"
            )
        st = _log_state(src_log, version)
    live, meta, proto = st.adds, st.meta, st.protocol
    if "rowTracking" in (proto.get("writerFeatures") or []):
        from ..errors import BuzzNotImplementedError

        raise BuzzNotImplementedError(
            "clone_delta of a rowTracking table: cloned adds would need "
            "freshly minted base row ids and row-tracking domain "
            "metadata — disable row tracking on the source or copy the "
            "data through write_delta"
        )
    dst_dir = _local_table_dir(dst_uri)
    dst_log = os.path.join(dst_dir, "_delta_log")
    dst = _log_state(dst_log)
    if dst.version >= 0:
        raise BuzzBadRequestError(
            f"clone destination {dst_uri!r} is already a Delta table"
        )
    os.makedirs(dst_log, exist_ok=True)
    now_ms = int(time.time() * 1000)
    new_meta = dict(meta)
    new_meta["id"] = str(uuid.uuid4())
    new_meta["createdTime"] = now_ms
    actions: list[dict] = [{"protocol": proto}, {"metaData": new_meta}]
    for rel in sorted(live):
        a = dict(live[rel])
        a["path"] = os.path.abspath(os.path.join(src_dir, rel))
        a["dataChange"] = True
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            a["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": os.path.abspath(
                    os.path.join(src_dir, dv_relative_path(dv))
                ),
            }
        actions.append({"add": a})
    return _claim_commit(dst_log, dst, actions, store)


def update_delta(
    spark,
    table_uri: str,
    set_exprs: dict[str, str],
    predicate: str | None = None,
    checkpoint_interval: int = 10,
    mode: str = "cow",
    max_dv_rows: int = 5_000_000,
    max_commit_retries: int = 5,
    store=None,
) -> int | None:
    """UPDATE ``table`` SET ``set_exprs`` WHERE ``predicate`` — the third
    DML verb (round-12).  ``mode="cow"`` (default), like Delta's own
    UPDATE: only files holding ≥1 matched row are rewritten, each with
    its matched rows transformed and everything else verbatim.
    ``mode="dv"`` is the merge-on-read form delta-spark uses on
    DV-enabled tables: NO file is rewritten — matched row positions are
    unioned into each touched file's deletion vector and the transformed
    replacements land as new files, all in one commit, so the write
    amplification is O(matched rows) instead of O(touched files)
    (``max_dv_rows`` is the same policy knob as ``delete_delta``'s; the
    protocol upgrades to the deletionVectors feature on first use).

    ``set_exprs`` maps column → Spark SQL expression over the row's BARE
    column names (``{"v": "v + 1", "tag": "upper(tag)"}``); unlisted
    columns keep their values.  Rows where the predicate is NULL or
    false keep their values (SQL UPDATE semantics); ``predicate=None``
    updates every row.  Partition columns may be updated — rewritten
    rows move to their new partition directories.  GENERATED columns not
    listed are RECOMPUTED from their expressions over the updated row
    (the spec's writer rule — their inputs may have changed); listed
    ones are validated like any supplied value.  Identity columns refuse
    in ``set`` (rewriting allocated values breaks the allocation
    contract; delete + write instead).  Table rules ride the staging
    write as one Observation pass (:func:`_observe_table_rules`); CDF
    tables record exact update pre/post images.  Returns the committed
    version, or None when no live row matches."""
    from functools import reduce as _reduce

    from pyspark.sql import functions as F

    if mode not in ("cow", "dv"):
        raise BuzzBadRequestError(f"update mode must be cow|dv, got {mode!r}")
    if not isinstance(set_exprs, dict) or not set_exprs:
        raise BuzzBadRequestError(
            "set_exprs must be a non-empty {column: sql_expr} dict"
        )
    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    st = _log_state(log_dir)
    live, meta = st.adds, st.meta
    if st.version < 0:
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    _require_id_rewritable(meta, table_uri, "update_delta")
    _require_not_append_only(st, "update_delta")
    declared = _declared_schema(meta)
    names = [f.name for f in declared.fields]
    unknown = sorted(set(set_exprs) - set(names))
    if unknown:
        raise BuzzBadRequestError(
            f"update_delta sets unknown columns {unknown}"
        )
    id_names = {c["name"] for c in _identity_columns(meta)}
    keyed = sorted(set(set_exprs) & id_names)
    if keyed:
        raise BuzzBadRequestError(
            f"update_delta sets identity column(s) {keyed} — allocated "
            "values are the writer's contract; delete + write instead"
        )
    if not live:
        return None
    partition_by = list(meta.get("partitionColumns", []))
    types = {f.name: f.dataType for f in declared.fields}
    _, _, generated = _table_rules(meta)

    cond = F.expr(predicate) if predicate is not None else F.lit(True)
    hit = cond.eqNullSafe(F.lit(True))
    scan, rel_of, old_pos_df = _dml_scan(spark, table_dir, meta, live)
    version = st.version + 1
    now_ms = int(time.time() * 1000)

    def _transform(pre_df):
        upd = pre_df
        for c, e in set_exprs.items():
            upd = upd.withColumn(c, F.expr(e).cast(types[c]))
        # recompute unlisted generated columns over the UPDATED row —
        # their inputs may be among the set columns
        for gname, gexpr in generated:
            if gname not in set_exprs:
                upd = upd.withColumn(
                    gname, F.expr(gexpr).cast(types[gname])
                )
        return upd.select(*names)

    if mode == "dv":
        from .deletion_vectors import build_dvs_distributed, dv_relative_path

        pre_full = scan.where(hit).persist()
        try:
            dv_rows = build_dvs_distributed(
                pre_full.select(
                    "__rawpath", F.col("__ridx").cast("long").alias("__ridx")
                ),
                table_dir,
                old_df=old_pos_df,
            )
            if not dv_rows:
                return None
            n_new = sum(int(r["new_rows"]) for r in dv_rows)
            if n_new > max_dv_rows:
                for name in {
                    dv_relative_path({"pathOrInlineDv": r["token"]})
                    for r in dv_rows
                }:
                    try:
                        os.unlink(os.path.join(table_dir, name))
                    except OSError:
                        pass
                raise BuzzBadRequestError(
                    f"DV update matches {n_new} rows, more than "
                    f"{max_dv_rows}; use mode='cow' (rewrite) for bulk "
                    "updates, or raise max_dv_rows"
                )
            upd = _transform(pre_full)
            out, rules_check = _observe_table_rules(
                upd, meta, "update_delta"
            )
            out_phys, parts_phys = _to_physical_frame(
                out, meta, partition_by
            )
            adds = _stage_and_promote(
                out_phys, table_dir, version, parts_phys, now_ms,
                tag="update", meta=meta, rules_check=rules_check,
            )
            cdc_actions = []
            if _cdf_active(st):
                frames = [
                    pre_full.select(*names).withColumn(
                        "_change_type", F.lit("update_preimage")
                    ),
                    upd.withColumn(
                        "_change_type", F.lit("update_postimage")
                    ),
                ]
                cdc_actions = _stage_change_files(
                    _reduce(DataFrame.unionByName, frames),
                    table_dir, version, partition_by, meta=meta,
                )
        finally:
            pre_full.unpersist()
            if old_pos_df is not None:
                old_pos_df.unpersist()
        desc_by_rel = {rel_of[r["__rawpath"]]: r for r in dv_rows}
        # files whose every physical row is now updated-away leave the
        # snapshot with a plain remove (their content lives on in the
        # replacement files)
        fully_gone = {
            rel
            for rel, r in desc_by_rel.items()
            if int(r["cardinality"])
            >= _rel_num_records(table_dir, rel, live[rel])
        }
        actions: list[dict] = []
        proto = st.protocol
        if int(proto.get("minReaderVersion", 1)) < 3 or (
            "deletionVectors" not in (proto.get("writerFeatures") or [])
        ):
            wfeats = {"deletionVectors"} | _legacy_active_writer_features(
                meta, proto
            )
            rfeats = {"deletionVectors"} | set(
                proto.get("readerFeatures") or []
            )
            if "columnMapping" in wfeats:
                rfeats.add("columnMapping")
            actions.append({"protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(rfeats),
                "writerFeatures": sorted(wfeats),
            }})
        for rel in sorted(desc_by_rel):
            actions.append(
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            if rel not in fully_gone:
                r = desc_by_rel[rel]
                actions.append(
                    {
                        "add": {
                            **live[rel],
                            "modificationTime": now_ms,
                            "dataChange": True,
                            "deletionVector": {
                                "storageType": "u",
                                "pathOrInlineDv": r["token"],
                                "offset": int(r["offset"]),
                                "sizeInBytes": int(r["size"]),
                                "cardinality": int(r["cardinality"]),
                            },
                        }
                    }
                )
        actions.extend({"add": a} for a in adds)
        actions.extend(cdc_actions)
        return _claim_rewrite_commit(
            log_dir, st, actions, {rel: live[rel] for rel in desc_by_rel},
            checkpoint_interval, max_commit_retries, store,
            "update_delta(dv)", require_same_protocol=True,
        )

    hits = scan.where(hit).select("__rawpath").distinct().collect()
    if old_pos_df is not None:
        old_pos_df.unpersist()
    if not hits:
        return None
    touched = sorted(rel_of[r["__rawpath"]] for r in hits)

    rows = _read_table_files(spark, table_dir, touched, meta, live).persist()
    try:
        pre = rows.where(hit)
        upd = _transform(pre)
        out = rows.where(~hit).unionByName(upd)
        out, rules_check = _observe_table_rules(out, meta, "update_delta")
        out_phys, parts_phys = _to_physical_frame(out, meta, partition_by)
        adds = _stage_and_promote(
            out_phys, table_dir, version, parts_phys, now_ms, tag="update",
            meta=meta, rules_check=rules_check,
        )
        cdc_actions = []
        if _cdf_active(st):
            frames = [
                pre.select(*names).withColumn(
                    "_change_type", F.lit("update_preimage")
                ),
                upd.withColumn("_change_type", F.lit("update_postimage")),
            ]
            cdc_actions = _stage_change_files(
                _reduce(DataFrame.unionByName, frames),
                table_dir, version, partition_by, meta=meta,
            )
    finally:
        rows.unpersist()
    actions = [
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
        }
        for rel in touched
    ]
    actions.extend({"add": a} for a in adds)
    actions.extend(cdc_actions)
    return _claim_rewrite_commit(
        log_dir, st, actions, {rel: live[rel] for rel in touched},
        checkpoint_interval, max_commit_retries, store, "update_delta",
        require_same_protocol=True,
    )


def restore_delta(
    spark,
    table_uri: str,
    version: int,
    checkpoint_interval: int = 10,
    max_commit_retries: int = 5,
    store=None,
) -> int | None:
    """RESTORE TABLE ... TO VERSION AS OF ``version`` (Delta's restore):
    one commit that removes every file live NOW but not at the target
    version, re-ADDS (verbatim, deletion vectors included) every file
    live then but not now, and — when the target version's ``metaData``
    differs from the current one — re-commits the target's metaData too
    (Delta's RESTORE restores schema/configuration, not just files; the
    re-added files were written under that metadata) — the snapshot
    content becomes exactly the target version's while history stays
    linear (the restore is itself a
    new commit; time travel to the interim versions keeps working until
    vacuum reclaims their files).  Returns the committed version, or None
    when the current state already equals the target.  Files of the
    target version must still exist — inside the vacuum retention window,
    the same availability contract as time travel itself."""
    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    st = _log_state(log_dir)
    live, meta = st.adds, st.meta
    if st.version < 0:
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    if version > st.version or version < 0:
        raise BuzzBadRequestError(
            f"restore: no version {version} (latest: {st.version})"
        )
    target = _log_state(log_dir, upto=version)
    target_live, target_meta = target.adds, target.meta

    def _key(entry: dict):
        # identity = path + deletion-vector descriptor: a DV change is a
        # content change even when the path is unchanged
        return (entry["path"], json.dumps(
            entry.get("deletionVector") or {}, sort_keys=True
        ))

    cur_keys = {_key(a): p for p, a in live.items()}
    tgt_keys = {_key(a): p for p, a in target_live.items()}
    to_remove = [live[p] for k, p in cur_keys.items() if k not in tgt_keys]
    to_add = [target_live[p] for k, p in tgt_keys.items() if k not in cur_keys]
    # Delta's RESTORE also restores the metaData action: a restore to a
    # pre-schema-evolution (or pre-configuration-change) version must not
    # leave the evolved schema/column-mapping config in place over files
    # written under the old metadata.  Compare the full action minus the
    # volatile createdTime stamp.
    def _meta_key(m: dict | None):
        m = dict(m or {})
        m.pop("createdTime", None)
        return json.dumps(m, sort_keys=True)

    restore_meta = _meta_key(target_meta) != _meta_key(meta)
    if not to_remove and not to_add and not restore_meta:
        return None  # already at the target content
    if to_remove:
        _require_not_append_only(st, "restore_delta")
    from .deletion_vectors import dv_relative_path

    def _needed_paths(a: dict):
        yield a["path"]
        dv = a.get("deletionVector") or {}
        st = dv.get("storageType")
        if st == "u":  # relative sidecar — vacuum may have reclaimed it
            yield dv_relative_path(dv)
        elif st == "p":
            yield dv["pathOrInlineDv"]

    missing = [
        p
        for a in to_add
        for p in _needed_paths(a)
        if not os.path.exists(
            p if os.path.isabs(p) else os.path.join(table_dir, p)
        )
    ]
    if missing:
        raise BuzzExecutionError(
            f"restore: {len(missing)} file(s) of version {version} were "
            f"vacuumed (first: {missing[0]!r}) — the target version is no "
            "longer restorable"
        )
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if restore_meta:
        actions.append({"metaData": target_meta})
    actions.extend(
        {
            "remove": {
                "path": a["path"],
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
        }
        for a in sorted(to_remove, key=lambda a: a["path"])
    )
    actions.extend(
        {"add": {**a, "modificationTime": now_ms, "dataChange": True}}
        for a in sorted(to_add, key=lambda a: a["path"])
    )
    # a restore's basis is the ENTIRE current live set — not just the
    # files it touches: a concurrent APPEND surviving the restore would
    # leave the table ≠ the target version's content, so the retry aborts
    # on ANY live-set change (require_exact_live)
    return _claim_rewrite_commit(
        log_dir, st, actions, dict(live), checkpoint_interval,
        max_commit_retries, store, "restore_delta", require_exact_live=True,
        require_same_protocol=bool(to_remove),
    )


def _pv_serialize(v, name: str, path: str) -> str:
    """One footer-stats value → Delta ``partitionValues`` string, the
    spec's serialization (dates ISO-8601, timestamps
    ``yyyy-MM-dd HH:mm:ss[.ffffff]``, booleans lowercase)."""
    import datetime

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        raise BuzzBadRequestError(
            f"binary partition column {name!r} in {path!r} cannot be "
            "serialized to a partitionValues string"
        )
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (f".{v.microsecond:06d}" if v.microsecond else "")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _footer_partition_values(
    ap: str, part_fields, orig: str
) -> dict[str, str | None]:
    """Partition values of a PHYSICALLY-partition-columned file, derived
    from its parquet footer statistics — the partition-pure rule
    :func:`add_files_iceberg` uses (``_derive_partition_tuples``,
    iceberg_writer.py): for every partition column the file must be
    single-valued (min == max with zero nulls, or all-null → a NULL
    partition value); anything else spans tuples and refuses typed, as
    does a file with no usable stats (purity would be a guess) or zero
    rows (no tuple to derive).  Footer-only: no data is read."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(ap)
    if md.num_rows == 0:
        raise BuzzBadRequestError(
            f"file {orig!r} is empty — an empty file has no partition "
            "tuple to derive; drop it from the registration"
        )
    col_idx = {
        md.row_group(0).column(i).path_in_schema: i
        for i in range(md.row_group(0).num_columns)
    }
    out: dict[str, str | None] = {}
    for f in part_fields:
        i = col_idx.get(f.name)
        if i is None:
            raise BuzzBadRequestError(
                f"file {orig!r} carries neither a hive directory segment "
                f"nor a physical column for partition column {f.name!r} — "
                "cannot derive its partition value"
            )
        nulls = 0
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or st.null_count is None:
                raise BuzzBadRequestError(
                    f"file {orig!r} has no usable footer statistics for "
                    f"partition column {f.name!r} — partition purity "
                    "cannot be verified"
                )
            nulls += st.null_count
            if st.null_count < md.row_group(rg).num_rows:
                if not st.has_min_max:
                    raise BuzzBadRequestError(
                        f"file {orig!r} has no usable footer statistics "
                        f"for partition column {f.name!r} — partition "
                        "purity cannot be verified"
                    )
                mins.append(st.min)
                maxs.append(st.max)
        if nulls == md.num_rows:
            out[f.name] = None
        elif nulls == 0 and mins and min(mins) == max(maxs):
            out[f.name] = _pv_serialize(min(mins), f.name, orig)
        else:
            raise BuzzBadRequestError(
                f"file {orig!r} spans more than one value of partition "
                f"column {f.name!r} — add_files requires partition-pure "
                "files (one partition tuple per file)"
            )
    return out


def _register_file_checks(
    ap: str,
    orig: str,
    need_pv: bool,
    file_schema,
    part_fields,
    cm_ids: dict | None,
    data_fields,
    phys: dict,
) -> tuple[dict, str]:
    """Per-file registration work — strict footer verification (by name,
    or by field id on mode=id tables), footer-stats partition derivation
    when the hive segments didn't supply the values, and the add-action
    stats JSON.  ONE footer read path shared by the driver loop (small
    registrations) and the distributed form
    (:func:`_register_files_distributed`)."""
    from .schema_check import verify_file_schema

    rename = None
    if cm_ids is not None:
        to_logical = _verify_file_field_ids(ap, data_fields, cm_ids, orig)
        rename = {
            fname: phys.get(lname, lname)
            for fname, lname in to_logical.items()
        }
    else:
        verify_file_schema(file_schema, ap, "parquet")
    pv = _footer_partition_values(ap, part_fields, orig) if need_pv else {}
    return pv, _file_stats_json(ap, rename=rename)


def _register_files_distributed(
    spark,
    jobs: list[tuple[str, str, bool]],
    file_schema,
    part_fields,
    cm_ids: dict | None,
    data_fields,
    phys: dict,
) -> dict[str, tuple[dict, str]]:
    """The distributed twin of the per-file registration loop: one
    ``mapInPandas`` task row per file, each executor reading ONLY that
    file's footer (verify + partition derivation + stats) — so a
    100k-file onboarding costs a task sweep, not a driver loop of 100k
    footer reads (same posture as ``schema_check.verify_files``).  Typed
    errors surface with their original class and message; the FIRST
    failing file aborts the registration (driver-loop parity)."""
    import pandas as pd

    from .. import errors as _errs

    def gen(batches):
        for b in batches:
            out = []
            for orig, ap, need_pv in zip(b["orig"], b["ap"], b["need_pv"]):
                try:
                    pv, stats = _register_file_checks(
                        ap, orig, bool(need_pv), file_schema, part_fields,
                        cm_ids, data_fields, phys,
                    )
                    out.append((ap, json.dumps(pv), stats, None, None))
                except Exception as exc:  # noqa: BLE001 — re-typed driver-side
                    out.append(
                        (ap, None, None, type(exc).__name__, str(exc))
                    )
            yield pd.DataFrame(
                out, columns=["ap", "pv", "stats", "err_cls", "err_msg"]
            )

    rows = (
        spark.createDataFrame(
            [(o, a, n) for o, a, n in jobs],
            "orig string, ap string, need_pv boolean",
        )
        .repartition(min(len(jobs), 256))
        .mapInPandas(
            gen,
            schema="ap string, pv string, stats string, "
                   "err_cls string, err_msg string",
        )
        .collect()
    )
    by_ap = {r["ap"]: r for r in sorted(rows, key=lambda r: r["ap"])}
    for r in by_ap.values():
        if r["err_cls"] is not None:
            cls = getattr(_errs, r["err_cls"], None) or BuzzSchemaError
            raise cls(r["err_msg"])
    return {
        ap: (json.loads(r["pv"]), r["stats"]) for ap, r in by_ap.items()
    }


def _enforce_registered_files(
    spark, table_dir: str, reg: list[tuple[str, dict]], meta: dict
) -> None:
    """Run :func:`_enforce_table_rules` over the files an
    ``add_files_delta`` call is about to register — ONE aggregate job
    reading every file through the one Delta file scan, the partition
    values ``reg`` derived for each file (keyed by PHYSICAL names, the
    log's convention) attached and cast like any rewrite read's, so
    constraints over them evaluate too.  Registration is the one writer
    path where rows reach the table without passing through a staging
    write; skipping this check would let a CHECK-constrained table
    onboard violating rows."""
    checks, invariants, generated = _table_rules(meta)
    if not (checks or invariants or generated):
        return
    ts = table_schema(meta, table_dir)
    store = LogStore(os.path.abspath(table_dir))
    files = [_log_file(store, ap, {"partitionValues": pv}, ts) for ap, pv in reg]
    _enforce_table_rules(
        _declared_frame(scan_files(spark, ts, files), meta),
        meta,
        "add_files_delta",
    )


def _verify_file_field_ids(ap: str, data_fields, cm_ids: dict, orig: str):
    """mode=id footer verification for one external file: every declared
    data column must be present BY MAPPING ID (``PARQUET:field_id``
    footer metadata — physical names are per-file under the spec), with
    a compatible type.  Returns {file column name → logical name} so the
    recorded stats can be re-keyed."""
    import pyarrow.parquet as pq

    from .schema_check import _normalize, arrow_to_spark_field

    footer = pq.read_schema(ap)
    by_id: dict[int, object] = {}
    for f in footer:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            by_id[int(fid)] = f
    rename: dict[str, str] = {}
    for df_field in data_fields:
        fid = cm_ids[df_field.name]
        actual = by_id.get(fid)
        if actual is None:
            raise BuzzSchemaError(
                f"file {orig!r} carries no column with footer field id "
                f"{fid} (column {df_field.name!r}) — mode=id external "
                "files must stamp delta.columnMapping.id as "
                "PARQUET:field_id"
            )
        name, spark_type, nullable = arrow_to_spark_field(actual)
        if _normalize(spark_type) != _normalize(df_field.dataType):
            raise BuzzSchemaError(
                f"column id {fid} ({df_field.name!r}) in {orig!r} has "
                f"type {spark_type.simpleString()} but the table "
                f"declares {df_field.dataType.simpleString()}"
            )
        if nullable and not df_field.nullable:
            raise BuzzSchemaError(
                f"column id {fid} ({df_field.name!r}) in {orig!r} is "
                "nullable but the table declares it non-null"
            )
        rename[name] = df_field.name
    return rename


def add_files_delta(
    spark,
    table_uri: str,
    paths: list[str],
    checkpoint_interval: int = 10,
    max_commit_retries: int = 5,
    store=None,
) -> int | None:
    """Register EXISTING parquet files into a Delta table as ONE commit of
    add actions — no data copied or rewritten (the CONVERT-TO-DELTA /
    onboarding move, :func:`add_files_iceberg`'s Delta twin).

    Every file's footer must match the declared schema (the read path's
    strict ``verify_file_schema``).  Placement, matching how the rest of
    the engine reads files:

    - UNPARTITIONED tables accept files anywhere — in-table files
      register by relative path, external ones by absolute path (the
      spec allows it; ``LogStore.spark_path`` passes absolutes through).
    - PARTITIONED tables take partition values from the in-table hive
      directory segments (``<table>/<col>=<value>/...``, url-decoded,
      Spark's null directory as null — :func:`_hive_values`) when
      present, and otherwise derive them from FOOTER STATISTICS with the
      partition-pure rule :func:`add_files_iceberg` already applies
      (min == max, no nulls; all-null → NULL value; anything else
      refuses typed): the file must then physically CONTAIN the
      partition columns.  That lifts the in-table-hive-layout
      requirement for external onboarding; every read attaches the
      committed ``partitionValues`` (:func:`_read_table_files`), so
      pruning and rewrites keep working.

    Tables declaring CHECK constraints, column invariants, or generated
    columns validate the registered rows FIRST — one aggregate job over
    the files (:func:`_enforce_registered_files`); a violating file
    aborts the whole registration with nothing committed
    (enforce-or-refuse, same contract as every staged write).
    Unconstrained tables keep the zero-data-read fast path.

    Footer stats are recorded on each add (``_file_stats_json``), so
    data skipping and merge candidate pruning work immediately.

    COLUMN-MAPPED tables register too (round-12 lift of the round-11
    refusal): under ``mode=name`` the files must carry the table's
    PHYSICAL column names (hive segments use physical names as well);
    under ``mode=id`` columns resolve by ``PARQUET:field_id`` footer
    metadata against ``delta.columnMapping.id`` — per-file physical
    names are free, exactly the spec's read contract — with recorded
    stats re-keyed to the table's physical names.  mode=id tables with
    nested or partitioned schemas refuse typed (nested external ids are
    unverifiable without a full schema walk this writer does not do;
    partition directory/stat keys under per-file names are ambiguous).

    Registering a path the snapshot already references refuses typed
    (same-path re-adds are idempotent in replay, but a user doing it is
    almost certainly confused).  Concurrent appends commute through the
    claim loop.  Returns the committed version, or None for an empty
    list."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
    )

    from ..errors import BuzzNotImplementedError

    paths = sorted(dict.fromkeys(paths or []))
    if not paths:
        return None
    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    st = _log_state(log_dir)
    live, meta = st.adds, st.meta
    if st.version < 0:
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    cm_mode, phys, cm_ids = _mapping_info(meta)
    declared = _declared_schema(meta)
    part_cols = list(meta.get("partitionColumns") or [])
    phys_parts = [phys.get(c, c) for c in part_cols]
    data_fields = [f for f in declared.fields if f.name not in part_cols]
    if cm_mode == "id":
        if part_cols:
            raise BuzzNotImplementedError(
                "add_files_delta on a PARTITIONED columnMapping.mode=id "
                "table: partition directory segments and stats keys are "
                "ambiguous under per-file physical names — write through "
                "write_delta instead"
            )
        nested = [
            f.name
            for f in declared.fields
            if isinstance(f.dataType, (StructType, ArrayType, MapType))
        ]
        if nested:
            raise BuzzNotImplementedError(
                f"add_files_delta on a mode=id table with nested columns "
                f"{nested}: external nested field ids cannot be verified "
                "without a full schema walk — write through write_delta "
                "instead"
            )
        missing_ids = [f.name for f in data_fields if f.name not in cm_ids]
        if missing_ids:
            raise BuzzSchemaError(
                f"mode=id table lacks delta.columnMapping.id for columns "
                f"{missing_ids} — external files cannot be resolved"
            )
    # the file-namespace schema the footers must match (physical names
    # under mode=name; mode=id verifies by field id instead)
    file_schema = StructType(
        [
            StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
            for f in data_fields
        ]
    )
    # partition derivation operates in the file namespace too: hive
    # segments and physically-present columns both use physical names
    part_fields = [
        StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
        for f in declared.fields
        if f.name in part_cols
    ]
    abs_root = os.path.abspath(table_dir)
    now_ms = int(time.time() * 1000)
    jobs: list[tuple[str, str, str, dict | None]] = []
    for p in paths:
        ap = os.path.abspath(p.removeprefix("file://"))
        inside = ap.startswith(abs_root + os.sep)
        rel = (
            os.path.relpath(ap, abs_root).replace(os.sep, "/")
            if inside
            else ap
        )
        if rel in live:
            raise BuzzBadRequestError(
                f"file {p!r} is already referenced by the current "
                "snapshot"
            )
        hive_pv: dict | None = None
        if part_cols:
            segs = _hive_values(rel) if inside else {}
            if all(c in segs for c in phys_parts):
                hive_pv = {c: segs[c] for c in phys_parts}
        jobs.append((p, ap, rel, hive_pv))
    # per-file footer work (verify + partition derivation + stats): a
    # driver loop up to the schema-check threshold, ONE distributed task
    # sweep past it — a 100k-file onboarding never loops footers on the
    # driver
    from .schema_check import DISTRIBUTE_THRESHOLD

    cm_ids_arg = cm_ids if cm_mode == "id" else None
    if len(jobs) > DISTRIBUTE_THRESHOLD:
        res = _register_files_distributed(
            spark,
            [
                (p, ap, hv is None and bool(part_cols))
                for p, ap, _, hv in jobs
            ],
            file_schema, part_fields, cm_ids_arg, data_fields, phys,
        )
    else:
        res = {
            ap: _register_file_checks(
                ap, p, hv is None and bool(part_cols), file_schema,
                part_fields, cm_ids_arg, data_fields, phys,
            )
            for p, ap, _, hv in jobs
        }
    actions: list[dict] = []
    reg: list[tuple[str, dict]] = []
    for p, ap, rel, hive_pv in jobs:
        derived_pv, stats = res[ap]
        pv = hive_pv if hive_pv is not None else derived_pv
        reg.append((ap, pv))
        actions.append(
            {
                "add": {
                    "path": rel,
                    "size": os.path.getsize(ap),
                    "partitionValues": pv,
                    "modificationTime": now_ms,
                    "dataChange": True,
                    "stats": stats,
                }
            }
        )
    _enforce_registered_files(spark, table_dir, reg, meta)
    id_bump = _identity_bump(
        meta, [a["add"] for a in actions], _identity_columns(meta)
    )
    if id_bump is not None:
        # registered files may carry identity values past the recorded
        # high water mark — sync it in the same commit so future
        # allocations clear them (registration is onboarding, not an
        # explicit insert; allowExplicitInsert does not gate it)
        actions.insert(0, {"metaData": id_bump(meta)})
    return _claim_rewrite_commit(
        log_dir, st, actions, {}, checkpoint_interval, max_commit_retries,
        store, "add_files_delta",
    )


def cleanup_delta_log(
    table_uri: str,
    retention_hours: float = 720.0,
    dry_run: bool = False,
) -> list[str]:
    """Delta metadata cleanup (``delta.logRetentionDuration``'s job, which
    :func:`vacuum_delta` deliberately does NOT do): delete JSON commits
    and SUPERSEDED checkpoint files strictly below the newest resolvable
    checkpoint version, once older than ``retention_hours`` (Delta's
    default interval is 30 days).  The newest checkpoint and everything
    at/after its version always survive — snapshot reads and time travel
    at/above it keep working, and so do the change readers
    (:func:`~.delta_catalog.read_delta_changes`,
    :func:`~.delta_catalog.read_delta_changelog`) for a cursor at/above
    it: they replay the checkpoint plus the commits after it.  Windows
    reaching below the cleanup refuse with the typed missing-commit error
    (re-bootstrap from a full snapshot, the documented contract).  V2
    checkpoints' ``_sidecars`` files survive while ANY surviving manifest
    references them.  Returns the removed (log-relative) names — or would-remove
    under ``dry_run``."""
    from .delta_catalog import (
        _parquet_actions,
        _read_actions,
        _resolve_checkpoint,
    )
    from .logstore import LogStore

    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    store = LogStore(table_dir)
    names = store.list_names("_delta_log")
    cp_stems = sorted(
        {
            int(n.split(".", 1)[0])
            for n in names
            if ".checkpoint." in n and n.split(".", 1)[0].isdigit()
        }
    )
    newest = None
    for v in reversed(cp_stems):
        if _resolve_checkpoint(store, v, 0) is not None:
            newest = v
            break
    if newest is None:
        return []  # no resolvable checkpoint: every commit is load-bearing
    cutoff = time.time() - retention_hours * 3600.0

    def expired(name: str) -> bool:
        try:
            return os.path.getmtime(os.path.join(log_dir, name)) < cutoff
        except OSError:
            return False

    doomed: list[str] = []
    survivors_v2: list[str] = []
    for n in sorted(names):
        stem = n.split(".", 1)[0]
        if not stem.isdigit():
            continue
        v = int(stem)
        is_commit = n == f"{stem}.json"
        is_checkpoint = ".checkpoint." in n
        if not (is_commit or is_checkpoint):
            continue
        if v < newest and expired(n):
            doomed.append(n)
        elif is_checkpoint and n.endswith((".parquet", ".json")) and (
            len(n.split(".")) == 4  # N.checkpoint.<uuid>.<ext> (V2 form)
        ):
            survivors_v2.append(n)
    # sidecars: keep anything a SURVIVING v2 manifest references
    referenced: set[str] = set()
    for n in survivors_v2:
        rel = f"_delta_log/{n}"
        try:
            actions = (
                _read_actions(store, rel)
                if n.endswith(".json")
                else _parquet_actions(store, rel)
            )
        except Exception:
            continue  # unreadable manifest: keep its sidecars via no-op
        referenced.update(
            str(a["sidecar"]["path"])
            for a in actions
            if a.get("sidecar")
        )
    sc_dir = os.path.join(log_dir, "_sidecars")
    if os.path.isdir(sc_dir):
        for n in sorted(os.listdir(sc_dir)):
            full = os.path.join(sc_dir, n)
            if (
                n not in referenced
                and os.path.isfile(full)
                and os.path.getmtime(full) < cutoff
            ):
                doomed.append(f"_sidecars/{n}")
    if not dry_run:
        for n in doomed:
            os.remove(os.path.join(log_dir, n))
    return doomed


def vacuum_delta(
    table_uri: str,
    retention_hours: float = 168.0,
    dry_run: bool = False,
) -> list[str]:
    """Garbage-collect data files no longer referenced by the CURRENT snapshot
    and older than ``retention_hours`` (Delta VACUUM; default 7 days, Delta's
    own default).  Returns the (relative) paths removed — or would-remove
    under ``dry_run``.

    Time travel to versions whose files were vacuumed stops working; that is
    the documented Delta trade (retention bounds the travel horizon).  The
    walk touches only file metadata — O(files) driver work, no data reads."""
    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    st = _log_state(log_dir)
    live = st.adds
    if st.version < 0:
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    cutoff = time.time() - retention_hours * 3600.0
    # deletion-vector sidecars referenced by the CURRENT snapshot are as
    # load-bearing as the data files themselves (removing one resurrects
    # deleted rows); anything else ages out like an unreferenced parquet
    from .deletion_vectors import dv_relative_path

    live_sidecars: set[str] = set()
    for add in live.values():
        dv = add.get("deletionVector") or {}
        if dv.get("storageType") == "u":
            live_sidecars.add(dv_relative_path(dv))
        elif dv.get("storageType") == "p":
            ap = os.path.abspath(dv["pathOrInlineDv"])
            if ap.startswith(os.path.abspath(table_dir) + os.sep):
                live_sidecars.add(
                    os.path.relpath(ap, table_dir).replace(os.sep, "/")
                )
    doomed: list[str] = []
    for pattern in ("*.parquet", "deletion_vector_*.bin"):
        for fpath in glob(os.path.join(table_dir, "**", pattern), recursive=True):
            rel = os.path.relpath(fpath, table_dir).replace(os.sep, "/")
            if rel.startswith("_delta_log/") or rel in live or rel in live_sidecars:
                continue
            if os.path.getmtime(fpath) <= cutoff:
                doomed.append(rel)
    if not dry_run:
        for rel in doomed:
            os.remove(os.path.join(table_dir, rel))
    return sorted(doomed)


def set_delta_properties(
    table_uri: str,
    set_conf: dict[str, str] | None = None,
    unset: list[str] | None = None,
    max_commit_retries: int = 5,
    spark=None,
    store=None,
) -> int:
    """Metadata-only table-configuration commit (Delta's ALTER TABLE SET
    TBLPROPERTIES) — how ``delta.enableChangeDataFeed`` gets enabled on an
    EXISTING table (write_delta applies configuration at create only).
    Enabling CDF on a table whose protocol predates it also commits the
    legacy writer-4 protocol upgrade (the version that introduced CDF) in
    the same transaction, so external writers see the requirement.

    Setting ``delta.constraints.<name>`` keys is ALTER TABLE ADD
    CONSTRAINT: existing table data is VALIDATED against the new
    expression first (pass ``spark``; refused otherwise on a non-empty
    table — committing an unvalidated constraint would leave readers a
    table that lies about its own contract), and the protocol gains the
    capability (writer-7 ``checkConstraints`` feature, or legacy 3 on a
    pre-3 legacy table) in the same transaction.

    ``delta.columnMapping.*`` keys are refused — column mapping upgrades
    carry schema rewrites that belong to :func:`evolve_delta`.  Returns
    the committed version."""
    set_conf = {str(k): str(v) for k, v in (set_conf or {}).items()}
    unset = list(unset or [])
    if not set_conf and not unset:
        raise BuzzBadRequestError("set_delta_properties: nothing to do")
    guarded = [
        k
        for k in list(set_conf) + unset
        if k.startswith("delta.columnMapping")
    ]
    if guarded:
        raise BuzzBadRequestError(
            f"configuration {guarded} changes column mapping — use "
            "evolve_delta (it performs the coupled schema/protocol "
            "upgrade)"
        )
    if set_conf.get("delta.enableRowTracking", "").lower() == "true":
        from ..errors import BuzzNotImplementedError

        raise BuzzNotImplementedError(
            "delta.enableRowTracking enables at CREATE only — turning it "
            "on for an existing table requires backfilling baseRowId "
            "onto every live file, which this writer does not do"
        )
    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    st = _log_state(log_dir)
    _live, meta = st.adds, st.meta
    if st.version < 0:
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    new_checks = {
        k: v
        for k, v in set_conf.items()
        if k.startswith("delta.constraints.")
        and (meta.get("configuration") or {}).get(k) != v
    }
    if new_checks and _live:
        if spark is None:
            raise BuzzBadRequestError(
                "adding CHECK constraint(s) "
                f"{sorted(new_checks)} validates existing table data — "
                "pass spark=<SparkSession> to set_delta_properties"
            )
        _enforce_table_rules(
            _read_table_files(spark, table_dir, sorted(_live), meta, _live),
            {"schemaString": meta["schemaString"], "configuration": new_checks},
            "set_delta_properties(add constraint)",
        )

    def _actions(st_x: LogState) -> list[dict]:
        conf = dict(st_x.meta.get("configuration") or {})
        conf.update(set_conf)
        for k in unset:
            conf.pop(k, None)
        new_meta = dict(st_x.meta)
        new_meta["configuration"] = conf
        out: list[dict] = []
        proto = st_x.protocol
        wv = int(proto.get("minWriterVersion", 2))
        if set_conf.get("delta.enableChangeDataFeed", "").lower() == "true":
            has = wv in (4, 5, 6) or (
                wv >= 7
                and "changeDataFeed" in (proto.get("writerFeatures") or [])
            )
            if not has:
                if wv >= 7:
                    proto = {
                        **proto,
                        "writerFeatures": sorted(
                            set(proto.get("writerFeatures") or [])
                            | {"changeDataFeed"}
                        ),
                    }
                else:
                    # legacy 4 = CDF (+ generated columns, unused here) —
                    # the narrowest spec version that carries the feature
                    proto = {
                        "minReaderVersion": int(
                            proto.get("minReaderVersion", 1)
                        ),
                        "minWriterVersion": 4,
                    }
                out = [{"protocol": proto}]
                wv = int(proto.get("minWriterVersion", 2))
        if (
            set_conf.get("delta.enableInCommitTimestamps", "").lower()
            == "true"
            and not (
                wv >= 7
                and "inCommitTimestamp"
                in (proto.get("writerFeatures") or [])
            )
        ):
            # ICT is feature-only (no legacy version): any protocol
            # upgrades to the v7 feature form, enumerating the active
            # legacy capabilities so none deactivate
            proto = {
                "minReaderVersion": int(proto.get("minReaderVersion", 1)),
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    _legacy_active_writer_features(st_x.meta, proto)
                    | {"inCommitTimestamp"}
                ),
                **(
                    {"readerFeatures": proto["readerFeatures"]}
                    if proto.get("readerFeatures") is not None
                    else {}
                ),
            }
            out = [{"protocol": proto}]
            wv = 7
        if any(k.startswith("delta.constraints.") for k in set_conf):
            has = 3 <= wv <= 6 or (
                wv >= 7
                and "checkConstraints" in (proto.get("writerFeatures") or [])
            )
            if not has:
                if wv >= 7:
                    proto = {
                        **proto,
                        "writerFeatures": sorted(
                            set(proto.get("writerFeatures") or [])
                            | {"checkConstraints"}
                        ),
                    }
                else:
                    # legacy 3 = CHECK constraints — the narrowest spec
                    # version that carries the capability
                    proto = {
                        "minReaderVersion": int(
                            proto.get("minReaderVersion", 1)
                        ),
                        "minWriterVersion": 3,
                    }
                out = [{"protocol": proto}]
                wv = int(proto.get("minWriterVersion", 2))
        if (
            set_conf.get("delta.appendOnly", "").lower() == "true"
            and wv >= 7
            and "appendOnly" not in (proto.get("writerFeatures") or [])
        ):
            # legacy versions activate appendOnly from the property alone;
            # a v7 table needs the FEATURE listed or external writers
            # treat the property as inactive
            proto = {
                **proto,
                "writerFeatures": sorted(
                    set(proto.get("writerFeatures") or []) | {"appendOnly"}
                ),
            }
            out = [{"protocol": proto}]
        out.append({"metaData": new_meta})
        return out

    return commit_with_retry(
        lambda st_a: _claim_commit(log_dir, st_a, _actions(st_a), store),
        lambda: _log_state(log_dir),
        st,
        max_commit_retries,
    )


# --- schema evolution (metadata-only commits) -----------------------------------

# Spark schemaString type names evolve_delta accepts for added columns
_DELTA_ADDABLE = {
    "boolean", "byte", "short", "integer", "long", "float", "double",
    "date", "timestamp", "timestamp_ntz", "string", "binary",
}


_DELTA_PROMOTABLE = {"integer": "long", "float": "double"}


def _check_delta_promotion(cur, new, name: str) -> None:
    """Typed refusal unless cur→new is a supported widening promotion
    (the Iceberg-parity subset of Delta's typeWidening feature:
    integer→long, float→double, decimal precision growth at fixed
    scale)."""
    if isinstance(cur, str) and _DELTA_PROMOTABLE.get(cur) == new:
        return
    import re as _re

    mc = _re.fullmatch(r"decimal\((\d+),(\d+)\)", str(cur))
    mn = _re.fullmatch(r"decimal\((\d+),(\d+)\)", str(new))
    if mc and mn and mc.group(2) == mn.group(2) and int(mn.group(1)) > int(
        mc.group(1)
    ):
        return
    raise BuzzBadRequestError(
        f"promote: {name!r} {cur!r} → {new!r} is not a supported widening "
        "(integer→long, float→double, or decimal(p,s)→decimal(p+k,s))"
    )


def evolve_delta(
    table_uri: str,
    add_columns: dict[str, str] | None = None,
    rename_columns: dict[str, str] | None = None,
    drop_columns: list[str] | None = None,
    promote_columns: dict[str, str] | None = None,
    store=None,
) -> int:
    """Metadata-only Delta schema evolution: ADD COLUMN (nullable; existing
    files read it as NULL) and RENAME COLUMN.

    A rename needs stable physical identities, so the first rename on an
    unmapped table UPGRADES it to ``delta.columnMapping.mode=name`` in the
    same commit (protocol 2/5; every existing column gets
    ``physicalName`` = its current name and a mapping id, so all existing
    data files keep resolving without a rewrite — Delta's own
    ALTER TABLE RENAME does exactly this).  ``mode=name`` rather than
    ``mode=id`` because existing files carry NO parquet field ids: an
    id-resolved read would fall back to name matching and misread
    renamed columns, while physical-name reads stay exact.  Tables
    already in mode name/id evolve in place (added columns get a fresh
    ``col-<uuid>`` physical name and the next mapping id).

    After the upgrade, appends keep working (:func:`write_delta` writes
    physical names + field ids) and merge/delete/optimize rewrites are
    mapping-aware for BOTH modes (mode=name reads/writes physical names;
    mode=id additionally resolves reads by footer field id and re-stamps
    ``parquet.field.id`` on staged files); only NESTED-typed id-mode
    tables refuse rewrites (:func:`_require_id_rewritable`).

    ``promote_columns`` applies TYPE-WIDENING promotions (Delta's
    typeWidening feature, the Iceberg-parity subset: integer→long,
    float→double, decimal(p,s)→decimal(p+k,s)) — metadata-only: the
    declared schema carries the widened type, readers pass it to the
    parquet scan and old files' narrower values cast up (verified
    empirically on this Spark).  The commit upgrades the protocol to
    reader 3 / writer 7 with the ``typeWidening`` feature (carrying
    existing features) and records the spec's ``delta.typeChanges``
    field-metadata history.  Returns the committed version."""
    add_columns = dict(add_columns or {})
    rename_columns = dict(rename_columns or {})
    drop_columns = list(drop_columns or [])
    promote_columns = dict(promote_columns or {})
    if not (add_columns or rename_columns or drop_columns or promote_columns):
        raise BuzzBadRequestError(
            "evolve_delta: nothing to do (no add/rename/drop/promote "
            "columns)"
        )
    if len(set(rename_columns.values())) != len(rename_columns):
        raise BuzzBadRequestError(
            "rename: two columns target the same new name — a committed "
            "schema with duplicate names would corrupt the table"
        )
    table_dir = _local_table_dir(table_uri)
    log_dir = os.path.join(table_dir, "_delta_log")
    st = _log_state(log_dir)
    meta = st.meta
    if st.version < 0 or not meta:
        raise BuzzBadRequestError(f"not a Delta table: {table_uri!r}")
    version = st.version + 1

    schema = json.loads(meta["schemaString"])
    fields = [dict(f) for f in schema["fields"]]
    names = {f["name"] for f in fields}
    config = dict(meta.get("configuration") or {})
    mode = config.get("delta.columnMapping.mode", "none") or "none"

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
    for name, t in add_columns.items():
        if name in names and name not in rename_columns:
            raise BuzzBadRequestError(f"add: column {name!r} already exists")
        if t not in _DELTA_ADDABLE and not isinstance(t, dict):
            raise BuzzBadRequestError(
                f"add: spark type {t!r} not supported "
                f"(one of {sorted(_DELTA_ADDABLE)})"
            )

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
        if name in (meta.get("partitionColumns") or []):
            raise BuzzBadRequestError(
                f"drop: column {name!r} is a partition column"
            )
        if len(fields) - len(drop_columns) < 1:
            raise BuzzBadRequestError("drop: cannot drop every column")

    by_name = {f["name"]: f for f in fields}
    for name, newtype in promote_columns.items():
        if name not in by_name:
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
        if name in (meta.get("partitionColumns") or []):
            raise BuzzBadRequestError(
                f"promote: column {name!r} is a partition column — its "
                "directory values were written with the narrow type"
            )
        _check_delta_promotion(by_name[name]["type"], newtype, name)

    actions: list[dict] = []
    if promote_columns:
        for name, newtype in promote_columns.items():
            f = by_name[name]
            md = dict(f.get("metadata") or {})
            md["delta.typeChanges"] = list(md.get("delta.typeChanges") or []) + [
                {
                    "fromType": f["type"],
                    "toType": newtype,
                    "tableVersion": version,
                }
            ]
            f["metadata"] = md
            f["type"] = newtype
        config["delta.enableTypeWidening"] = "true"

    upgrading_mapping = (rename_columns or drop_columns) and mode == "none"
    if upgrading_mapping:
        # upgrade: physicalName = current name, so existing data files and
        # the log's partitionValues keys keep resolving with zero rewrites
        for i, f in enumerate(fields, start=1):
            md = dict(f.get("metadata") or {})
            md.setdefault("delta.columnMapping.id", i)
            md.setdefault("delta.columnMapping.physicalName", f["name"])
            f["metadata"] = md
        config["delta.columnMapping.mode"] = "name"
        config["delta.columnMapping.maxColumnId"] = str(len(fields))
        mode = "name"

    # protocol: emitted ONCE, merging every capability this commit needs
    # with every capability the table already has.  typeWidening is
    # reader-affecting (old readers would silently misread narrow physical
    # values) so it forces reader 3 / writer 7; a lone mapping upgrade
    # keeps Delta's legacy 2/5 form.
    proto = st.protocol
    widening = bool(promote_columns) and "typeWidening" not in (
        proto.get("readerFeatures") or []
    )
    if widening:
        # the NEW configuration (this commit may flip mapping on) decides
        # which legacy capabilities the minted v7 protocol must enumerate
        wfeats = {"typeWidening"} | _legacy_active_writer_features(
            {"configuration": config}, proto
        )
        rfeats = {"typeWidening"} | set(proto.get("readerFeatures") or [])
        if mode in ("name", "id") or int(proto.get("minWriterVersion", 2)) == 5:
            rfeats.add("columnMapping")
            wfeats.add("columnMapping")
        actions.append({"protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rfeats),
            "writerFeatures": sorted(wfeats),
        }})
    elif upgrading_mapping and int(proto.get("minWriterVersion", 2)) <= 6 and (
        int(proto.get("minWriterVersion", 2)) <= 4
        or int(proto.get("minReaderVersion", 1)) < 2
    ):
        # legacy versions are CUMULATIVE: rv2/wv>=5 carries column mapping
        # plus everything the old version had active (CDF, constraints) —
        # leaving a wv<=4 table un-upgraded, or a wv5/6 table at READER 1,
        # would let reader-1 engines resolve renamed logical names
        # directly against old physical columns (silent nulls)
        actions.append(
            {"protocol": {
                "minReaderVersion": 2,
                "minWriterVersion": max(
                    5, int(proto.get("minWriterVersion", 2))
                ),
            }}
        )
    elif upgrading_mapping and int(proto.get("minWriterVersion", 2)) == 7:
        rfeats = {"columnMapping"} | set(proto.get("readerFeatures") or [])
        wfeats = {"columnMapping"} | set(proto.get("writerFeatures") or [])
        actions.append({"protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rfeats),
            "writerFeatures": sorted(wfeats),
        }})

    fields = [f for f in fields if f["name"] not in set(drop_columns)]
    for f in fields:
        if f["name"] in rename_columns:
            f["name"] = rename_columns[f["name"]]
    for name, t in add_columns.items():
        md: dict = {}
        if mode != "none":
            next_id = int(config.get("delta.columnMapping.maxColumnId", 0)) + 1
            md = {
                "delta.columnMapping.id": next_id,
                "delta.columnMapping.physicalName": f"col-{uuid.uuid4().hex}",
            }
            config["delta.columnMapping.maxColumnId"] = str(next_id)
        fields.append(
            {"name": name, "type": t, "nullable": True, "metadata": md}
        )

    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps({**schema, "fields": fields})
    if config:
        new_meta["configuration"] = config
    new_meta["partitionColumns"] = [
        rename_columns.get(c, c) for c in meta.get("partitionColumns", [])
    ]
    actions.append({"metaData": new_meta})
    return _claim_commit(log_dir, st, actions, store)
