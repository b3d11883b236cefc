"""Static catalog: a declared schema + explicit file list + string partition values.

Reference: code/src/datasource/catalog/static_catalog.rs (CatalogFile list,
``split()`` = one worker table per file) and example_catalog.rs (the hard-coded
NYC-taxi catalogs).  In the rebuild, "split" is Spark's own file-split→task
mapping; what remains is pruning (manifest filter), strict schema verification,
and attaching partition values as string columns.

Scale design:
- Pruning happens *before* the read, on the manifest — the scan never lists or
  opens pruned files (the reference's catalog-level pruning, catalog/mod.rs:43-99).
  The manifest is an Arrow-backed ``LocalRelation``, so the filter runs on the
  driver with no Spark job.
- Partition values are attached by :func:`.manifest.attach_partitions`, the
  one attach path every file-list scan shares (Delta DV, changelog and
  rewrite scans too): per-tuple literal *unions* up to ``union_max_groups``
  tuples, above that ONE scan broadcast-left-joined to the manifest on its
  raw ``_metadata.file_path``.  The manifest is keyed by the scan's own
  listed files, so no row decodes a path; plan size stays O(1) no matter how
  many partitions survive pruning, and a ``stats_filter`` still reaches the
  file source.  ``attach_strategy`` forces either side.
- A declared schema is passed to every read: no footer-sniffing job at plan
  time, and column pruning/pushdown still apply.

The reference's static catalog hides partition columns from the map SQL
(static_catalog.rs:99-104 passes the data schema); this rebuild exposes them as
first-class string columns — a documented superset (SURVEY.md §1.3).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from ..errors import BuzzPlanError
from .manifest import (
    UNION_MAX_GROUPS,
    CatalogFile,
    attach_partitions,
    prune_manifest,
)
from .schema_check import verify_files


@dataclass
class StaticCatalog:
    """reference: static_catalog.rs:40-55 ``new(schema, region, bucket,
    partition_cols, files)``.

    The reference is S3-native: every table description carries a region and a
    bucket, and file entries are bare object keys (``SizedFile{key,length}``,
    models/mod.rs:13-16; region-scoped GETs, clients/s3.rs:19-55).  The rebuild
    keeps that contract: when ``bucket`` is set, each ``CatalogFile.key`` is a
    relative object key resolved to ``{scheme}://{bucket}/{key}`` at read time
    (``scheme='file'`` + a local directory as the bucket gives a faithful
    filesystem mock for tests).  ``region`` is applied as the per-bucket
    Hadoop-S3A region conf so multi-region catalogs coexist in one session.
    When ``bucket`` is None, keys are plain paths/URIs used as-is."""

    name: str
    schema: StructType
    files: list[CatalogFile]
    partition_cols: list[str] = field(default_factory=list)
    region: str | None = None
    bucket: str | None = None
    scheme: str = "s3a"
    verify_schemas: bool = False
    verify_max_files: int | None = 16
    # data file format: Spark reads both natively with a declared schema —
    # the scan sites below route through _scan so every strategy (plain /
    # union / join) supports both
    fmt: str = "parquet"  # "parquet" | "orc"
    # partition-attach strategy (manifest.attach_partitions): "auto"
    # switches from per-tuple unions to a single scan + broadcast manifest
    # join above union_max_groups distinct tuples
    attach_strategy: str = "auto"  # "auto" | "union" | "join"
    union_max_groups: int = UNION_MAX_GROUPS

    def _scan(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        """One declared-schema scan of ``paths`` in the catalog's format."""
        if self.fmt not in ("parquet", "orc"):
            raise BuzzPlanError(
                f"unsupported catalog file format {self.fmt!r} "
                "(parquet and orc are implemented)"
            )
        reader = spark.read.schema(self.schema)
        if self.fmt == "parquet":
            return reader.parquet(*paths)
        # DataFrameReader.orc is NOT varargs like .parquet — its second
        # positional is mergeSchema, so orc(p1, p2) silently drops/garbles
        # paths; it takes one path-or-list argument
        return reader.orc(paths)

    def resolve_key(self, key: str) -> str:
        """Object key → readable URI (identity for bucket-less catalogs)."""
        if self.bucket is None:
            return key
        return f"{self.scheme}://{self.bucket.rstrip('/')}/{key.lstrip('/')}"

    def _apply_s3_conf(self, spark: SparkSession) -> None:
        # Per-bucket region (fs.s3a.bucket.{bucket}.endpoint.region) mirrors
        # the reference's region-scoped S3 clients (clients/s3.rs:19-26): two
        # catalogs in different regions never fight over a global conf.
        if self.region and self.bucket and self.scheme in ("s3a", "s3"):
            spark.sparkContext._jsc.hadoopConfiguration().set(
                f"fs.s3a.bucket.{self.bucket}.endpoint.region", self.region
            )

    def full_schema(self) -> StructType:
        """Data schema + partition columns as non-null strings
        (reference: catalog_schema, catalog/mod.rs:128-137)."""
        return StructType(
            list(self.schema.fields)
            + [StructField(c, StringType(), nullable=False) for c in self.partition_cols]
        )

    def pruned_files(
        self, spark: SparkSession, partition_filter: str | None
    ) -> list[CatalogFile]:
        return prune_manifest(
            spark, self.files, self.partition_cols, partition_filter, self.name
        )

    def to_dataframe(
        self,
        spark: SparkSession,
        partition_filter: str | None = None,
        stats_filter: str | None = None,
    ) -> DataFrame:
        """``stats_filter`` is a ROW predicate (any Spark SQL) applied to
        the scan — and additionally used to skip whole files whose parquet
        footer min/max provably exclude it (zone-map pruning on
        non-partition columns — ``partition_filter``'s sibling; pairs with
        :func:`~.writer.write_zordered` layouts).  One footer read per
        candidate file, conservative everywhere: ORC catalogs, columns
        without stats, and predicate terms outside the simple-conjunction
        subset prune nothing, and the full predicate always applies to
        the scan, so results are exact regardless."""
        files = self.pruned_files(spark, partition_filter)
        if stats_filter is not None and files and self.fmt == "parquet":
            from .zonemap import (
                prune_catalog_by_stats,
                stats_conjuncts_from_sql,
            )

            conjs = stats_conjuncts_from_sql(stats_filter)
            if conjs:
                files = prune_catalog_by_stats(
                    replace(self, files=files), conjs, spark=spark
                ).files
        out = self._frame_for(spark, files)
        if stats_filter is not None:
            try:
                out = out.where(stats_filter)
            except AnalysisException as exc:
                raise BuzzPlanError(
                    f"invalid stats_filter for catalog {self.name!r}: "
                    f"{exc.getMessage() if hasattr(exc, 'getMessage') else exc}"
                ) from exc
        return out

    def _frame_for(
        self, spark: SparkSession, files: list[CatalogFile]
    ) -> DataFrame:
        if not files:
            # Empty split set → empty result with the full schema, not an error
            # (reference: query_planner.rs:85-90, fuse_service.rs:80-83).  An
            # empty LocalRelation: PropagateEmptyRelation folds the query, so
            # executing it launches no job.
            schema = self.full_schema()
            return spark.createDataFrame(
                to_arrow_schema(schema).empty_table(), schema=schema
            )
        self._apply_s3_conf(spark)
        # keys resolve to full URIs first, so the join half matches the
        # scanned paths of bucketed (relative-key) catalogs too
        resolved = [replace(f, key=self.resolve_key(f.key)) for f in files]
        if self.verify_schemas:
            # verify_max_files=16 (the default) is a SAMPLE — only the first
            # 16 footers are checked; None = full check, distributed over
            # executors above schema_check.DISTRIBUTE_THRESHOLD files.
            verify_files(
                self.schema,
                [f.key for f in resolved],
                self.verify_max_files,
                spark=spark,
                fmt=self.fmt,
            )
        return attach_partitions(
            spark,
            resolved,
            self.partition_cols,
            lambda paths: self._scan(spark, paths),
            self.attach_strategy,
            self.union_max_groups,
        )
