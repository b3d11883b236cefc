"""The Buzz engine front-end: BuzzQuery JSON → result DataFrame.

Replaces the reference's entire distributed runtime (fuse planner/scheduler,
hbee map workers, hcomb streaming reducer — code/src/services/*) with Spark's
own execution model: Catalyst plans the stages, executors are the hbees, the
shuffle is the Flight data plane, and the driver-side action is the fuse's
collect (SURVEY.md §3 "Spark mapping of the whole lifecycle").

What survives as real code is the *front-end contract*:
- step-shape validation (strict mode = exactly [HBee, HComb], query_planner.rs:66-71);
- catalog registration + partition_filter pruning before the scan;
- step-graph validation — a reduce step must read the map step's output by
  name, not a catalog (query_planner.rs:96-109);
- empty-prune short-circuit → empty result, not an error (fuse_service.rs:80-83).

Each query plans in its own session, cloned from the engine's session at the
top of ``run`` (the reference gives every plan a fresh DataFusion context,
query_planner.rs:47-51).  Catalog frames and each step's output are temp
views of that clone only, so two queries, even on two threads, never share
a table namespace, and the caller's own temp views are neither read nor
overwritten.  Step N's result is registered under ``step.name`` for step
N+1 (the reference's HBee→Flight→HComb hand-off collapses into DataFrame
lineage).  Because the chain stays one lazy plan, Catalyst optimizes
*across* steps: a reduce-side
filter pushes down into the map scan, map-side partial aggregation happens
automatically, and the user's manual COUNT→SUM split still produces a single
two-phase hash aggregation.
"""

from __future__ import annotations

from typing import Protocol
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException

from .errors import BuzzBadRequestError, BuzzError, BuzzPlanError
from .models import BuzzCatalog, BuzzCatalogType, BuzzQuery, BuzzStep, BuzzStepType
from .plans import referenced_tables
from .sources import DeltaCatalog, IcebergCatalog, ParquetDirCatalog, StaticCatalog


def _meta_suffix(uri: str, fmt: str):
    """``uri$files``-style metadata-table suffix split (Iceberg's
    ``SELECT * FROM t$files`` surface, engine-side)."""
    from .sources.metadata_tables import split_metadata_suffix

    return split_metadata_suffix(uri, fmt)


def _meta_catalog(name: str, fmt: str, base_uri: str, table: str):
    from .sources.metadata_tables import MetadataTableCatalog

    return MetadataTableCatalog(name, fmt, base_uri, table)


def _local_static_only(sources) -> bool:
    """Every source is a static catalog whose files resolve to local paths."""
    return all(
        isinstance(src, StaticCatalog)
        and all(
            urlparse(src.resolve_key(f.key)).scheme in ("", "file")
            for f in src.files
        )
        for src in sources
    )


def _execution_root_cause(exc: Exception) -> str:
    """Reduce a Py4J/Spark failure to its root-cause line, the way the
    reference forwards only the failing hbee's reason (not the whole server
    stack) in the FAIL action."""
    text = str(exc)
    # A JVM stack reports the deepest failure in its last "Caused by:" block.
    causes = [seg for seg in text.split("Caused by: ") if seg.strip()]
    tail = causes[-1] if causes else text
    first_line = tail.strip().splitlines()[0] if tail.strip() else text
    return f"query execution failed: {first_line}"


def _plan_step(
    session: SparkSession, step: BuzzStep, frames: dict[str, DataFrame]
) -> DataFrame:
    """Register ``frames`` under their table names, plan the step's SQL, and
    register the result under the step's name for the steps after it.  The
    frames were built on ``session``, so their views land there."""
    for name, df in frames.items():
        df.createOrReplaceTempView(name)
    try:
        out = session.sql(step.sql)
    except AnalysisException as exc:
        raise BuzzPlanError(f"step {step.name!r} failed to plan: {exc}") from exc
    out.createOrReplaceTempView(step.name)
    return out


class CatalogSource(Protocol):
    name: str

    def to_dataframe(
        self,
        spark: SparkSession,
        partition_filter: str | None = None,
        stats_filter: str | None = None,
    ) -> DataFrame: ...


class BuzzEngine:
    """Session-scoped engine: register catalogs, then ``run`` queries.

    ``strict=True`` enforces reference behavior exactly (2 steps, single
    source per map step — README.md:118-119); the default lifts those limits
    (N steps, joins) as SURVEY.md §7 recommends.
    """

    def __init__(self, spark: SparkSession, strict: bool = False):
        self.spark = spark
        self.strict = strict
        self._sources: dict[str, CatalogSource] = {}
        self._static_registry: dict[str, StaticCatalog] = {}

    # -- catalog management -------------------------------------------------

    def register_source(self, source: CatalogSource) -> None:
        self._sources[source.name.lower()] = source

    def register_static(self, catalog: StaticCatalog) -> None:
        """Make a static catalog available by name for BuzzCatalog{type: Static}
        lookups (the reference resolves Static uris against a compiled-in
        registry, example_catalog.rs / fuse_service.rs:40-59)."""
        self._static_registry[catalog.name.lower()] = catalog

    def _resolve_catalog(self, spec: BuzzCatalog) -> CatalogSource:
        if spec.type is BuzzCatalogType.STATIC:
            cat = self._static_registry.get(spec.uri.lower()) or self._static_registry.get(
                spec.name.lower()
            )
            if cat is None:
                raise BuzzBadRequestError(
                    f"Catalog not found: {spec.uri}"  # parity: fuse_service.rs:46-50
                )
            # re-key under the QUERY's catalog name, keeping every other
            # field (bucket/region/scheme/format/strategy) — field-by-field
            # copying silently dropped bucketed-catalog settings
            from dataclasses import replace

            return replace(cat, name=spec.name)
        if spec.type is BuzzCatalogType.DELTA_LAKE:
            base, meta_tbl = _meta_suffix(spec.uri, "delta")
            if meta_tbl:
                return _meta_catalog(spec.name, "delta", base, meta_tbl)
            return DeltaCatalog(name=spec.name, table_uri=spec.uri)
        if spec.type is BuzzCatalogType.ICEBERG:
            base, meta_tbl = _meta_suffix(spec.uri, "iceberg")
            if meta_tbl:
                return _meta_catalog(spec.name, "iceberg", base, meta_tbl)
            return IcebergCatalog(name=spec.name, table_uri=spec.uri)
        return ParquetDirCatalog(name=spec.name, path=spec.uri)

    # -- execution ----------------------------------------------------------

    def run(self, query: BuzzQuery) -> DataFrame:
        """Plan the query and return the (lazy) result DataFrame.

        Planning happens in a session cloned from the engine's: the clone
        starts with the engine session's confs, temp views and functions,
        and every view the query registers stays in the clone, so the
        engine's session is left exactly as it was.  The result is bound to
        that clone: a conf set on the engine's session after ``run``
        returns does not reach it.

        When every source is a static catalog of local files, the clone
        alone sets ``parallelPartitionDiscovery.threshold`` above any file
        count, so the scans list those files on the driver instead of in a
        Spark listing job (faster at every size measured, see CHANGES.md).
        Object-store listing was not measured, so other catalogs keep
        Spark's parallel listing."""
        if self.strict:
            query.validate_strict()
        elif not query.steps:
            raise BuzzBadRequestError("query must contain at least one step")

        sources: dict[str, CatalogSource] = dict(self._sources)
        for spec in query.catalogs:
            sources[spec.name.lower()] = self._resolve_catalog(spec)

        session = SparkSession(
            self.spark.sparkContext, self.spark._jsparkSession.cloneSession()
        )
        if _local_static_only(sources.values()):
            session.conf.set(
                "spark.sql.sources.parallelPartitionDiscovery.threshold", 2**31 - 1
            )
        if query.capacity and query.capacity.zones > 1:
            zoned = self._run_zoned(query, sources, session)
            if zoned is not None:
                return zoned

        step_views: set[str] = set()
        for i, step in enumerate(query.steps):
            refs = referenced_tables(session, step.sql)
            self._validate_step(i, step, refs, sources, step_views)
            frames = {
                ref: sources[ref].to_dataframe(
                    session, step.partition_filter, step.stats_filter
                )
                for ref in refs
                if ref not in step_views and ref in sources
            }
            result = _plan_step(session, step, frames)
            step_views.add(step.name.lower())
        return result

    def run_json(self, query_json: str) -> DataFrame:
        return self.run(BuzzQuery.from_json(query_json))

    def _run_zoned(
        self,
        query: BuzzQuery,
        sources: dict[str, CatalogSource],
        session: SparkSession,
    ):
        """Multi-zone execution (reference: query_planner.rs:111-132 +
        fuse_service.rs:130-135): hbee splits (catalog files) are distributed
        round-robin across ``min(zones, nb_files)`` zones, each zone's HComb
        runs the reduce SQL over ONLY that zone's hbee outputs, and the
        client-visible result is the comb-by-comb concatenation of the zone
        results.

        Supported for the reference's own distributable shape — 2 steps, one
        static-catalog source (the reference's split() likewise refuses
        anything but a single catalog leaf, query_planner.rs:144-169).  Other
        shapes return None and run single-zone: Spark's shuffle parallelism
        subsumes zoning there.  In Spark each zone is one branch of one lazy
        plan over a disjoint file subset, so the union costs no extra scan."""
        if len(query.steps) != 2:
            return None
        s0, s1 = query.steps
        if s0.stats_filter is not None:
            # zone-map pruning + the zoned file split interact per-file;
            # single-zone execution applies both correctly — fall back
            return None
        if s0.step_type is not BuzzStepType.HBEE:
            return None
        if s1.step_type is not BuzzStepType.HCOMB:
            return None
        refs0 = referenced_tables(session, s0.sql)
        if len(refs0) != 1:
            return None
        (ref,) = tuple(refs0)
        src = sources.get(ref)
        if not isinstance(src, StaticCatalog):
            return None
        refs1 = referenced_tables(session, s1.sql)
        # Same validation (and error parity) as the single-zone path.
        self._validate_step(0, s0, refs0, sources, set())
        self._validate_step(1, s1, refs1, sources, {s0.name.lower()})
        # Zoned semantics requirement: the reduce step may read ONLY the map
        # step's output (the reference's hcomb reads hbee results, never
        # sources).  A reduce referencing a catalog table would resolve it
        # per-zone to that zone's FILE SUBSET — cross-zone matches silently
        # lost — or not resolve at all.  Fall back to single-zone execution,
        # which registers every source and is always semantically correct.
        if any(r != s0.name.lower() for r in refs1):
            return None

        files = src.pruned_files(session, s0.partition_filter)
        used = min(query.capacity.zones, len(files))
        if used <= 1:
            return None  # 0 files → canonical empty path; 1 file → single zone
        from dataclasses import replace

        results: list[DataFrame] = []
        for z in range(used):
            # files[z::used] == {i : i % used == z} — the reference's
            # round-robin assignment (query_planner.rs:126-132).
            zcat = replace(src, files=files[z::used])
            zdf = zcat.to_dataframe(session, None)  # already pruned
            _plan_step(session, s0, {ref: zdf})
            results.append(_plan_step(session, s1, {}))
        merged = results[0]
        for r in results[1:]:
            merged = merged.unionByName(r)
        return merged

    def execute(self, df: DataFrame) -> list:
        """Collect with reference FAIL-action parity: any runtime task failure
        aborts the query and surfaces as a typed :class:`BuzzExecutionError`
        carrying the failing task's root cause — the reference forwards the
        failing hbee's reason and fails the whole query the same way
        (services/hcomb/flight_service.rs:147-160, FAIL action).

        Plans stay lazy everywhere else in the engine; this is the sanctioned
        action boundary for callers who want Buzz-typed runtime errors instead
        of raw Py4J stacks."""
        from .errors import BuzzExecutionError

        try:
            return df.collect()
        except BuzzError:
            raise
        except Exception as exc:  # Py4JJavaError and friends
            raise BuzzExecutionError(_execution_root_cause(exc)) from exc

    def run_collect(self, query: BuzzQuery) -> list:
        return self.execute(self.run(query))

    def _validate_step(
        self,
        index: int,
        step: BuzzStep,
        refs: set[str],
        sources: dict[str, CatalogSource],
        step_views: set[str],
    ) -> None:
        unknown = [
            r for r in refs if r not in sources and r not in step_views
        ]
        if unknown:
            # parity: DataFusion's "Table or CTE ... not found" at plan time
            # (query_planner.rs tests 'table not found' case).
            raise BuzzPlanError(
                f"step {step.name!r} references unknown table(s): {sorted(unknown)}"
            )
        if step.step_type is BuzzStepType.HCOMB:
            catalog_refs = [r for r in refs if r not in step_views]
            if self.strict and catalog_refs:
                # parity: query_planner.rs:104-109 — the reduce step must read
                # a previous step's output, never a catalog directly.
                raise BuzzPlanError(
                    f"HComb step {step.name!r} must read a previous step's "
                    f"output, but reads catalog table(s) {sorted(catalog_refs)}"
                )
            if not self.strict and not (refs & step_views):
                # generalized rule: a reduce step still has to consume at
                # least one previous step's output (it may additionally join
                # catalog tables — a lifted restriction, SURVEY.md §2.B joins).
                raise BuzzPlanError(
                    f"HComb step {step.name!r} must read at least one previous "
                    f"step's output"
                )
            if step.partition_filter:
                raise BuzzPlanError(
                    f"HComb step {step.name!r} cannot have a partition_filter "
                    f"(filters apply to catalog scans at the HBee stage)"
                )
            if step.stats_filter:
                raise BuzzPlanError(
                    f"HComb step {step.name!r} cannot have a stats_filter "
                    f"(filters apply to catalog scans at the HBee stage)"
                )
        if self.strict and step.step_type is BuzzStepType.HBEE and len(refs) > 1:
            # parity: "Operations with more than one inputs are not supported"
            # (query_planner.rs:149-153, services/utils.rs:12-15).
            raise BuzzPlanError(
                "Operations with more than one inputs are not supported"
            )
