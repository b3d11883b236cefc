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
- Partition values are attached one of two ways, chosen automatically:
  *union* (few distinct partition tuples): one scan per tuple with literal
  columns — no join, no shuffle, mirrors a hive-partitioned directory plan;
  *join* (many tuples): ONE scan of all surviving files, then a broadcast hash
  join of ``input_file_name()`` against the (tiny) manifest — plan size stays
  O(1) no matter how many partitions survive pruning.
- A declared schema is passed to every read: no footer-sniffing job at plan
  time, and column pruning/pushdown still apply.

The reference's static catalog hides partition columns from the map SQL
(static_catalog.rs:99-104 passes the data schema); this rebuild exposes them as
first-class string columns — a documented superset (SURVEY.md §1.3).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from ..errors import BuzzPlanError
from .manifest import CatalogFile, manifest_df, prune_manifest
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
    # partition-attach strategy: "auto" switches from per-tuple unions to a
    # single scan + broadcast manifest join above this many distinct tuples
    attach_strategy: str = "auto"  # "auto" | "union" | "join"
    union_max_groups: int = 32

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
            from dataclasses import replace

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
        if self.verify_schemas:
            # verify_max_files=16 (the default) is a SAMPLE — only the first
            # 16 footers are checked; None = full check, distributed over
            # executors above schema_check.DISTRIBUTE_THRESHOLD files.
            verify_files(
                self.schema,
                [self.resolve_key(f.key) for f in files],
                self.verify_max_files,
                spark=spark,
                fmt=self.fmt,
            )

        if not self.partition_cols:
            return self._scan(spark, [self.resolve_key(f.key) for f in files])

        # Group files by partition tuple.  A None VALUE is a legitimate null
        # partition (Delta); only an ABSENT column is a malformed catalog.
        groups: dict[tuple[str | None, ...], list[str]] = {}
        for f in files:
            missing = [c for c in self.partition_cols if not f.has_partition(c)]
            if missing:
                raise BuzzPlanError(
                    f"file {f.key!r} lacks values for partition columns "
                    f"{missing}"
                )
            values = tuple(f.partition_value(c) for c in self.partition_cols)
            groups.setdefault(values, []).append(self.resolve_key(f.key))

        strategy = self.attach_strategy
        if strategy == "auto":
            strategy = "union" if len(groups) <= self.union_max_groups else "join"

        if strategy == "union":
            # One scan per distinct tuple with literal partition columns
            # (nulls sort first in the deterministic group order).
            def _group_key(item):
                values, _ = item
                return tuple((v is not None, v or "") for v in values)

            scans = []
            for values, paths in sorted(groups.items(), key=_group_key):
                df = self._scan(spark, paths)
                for col, value in zip(self.partition_cols, values):
                    df = df.withColumn(col, F.lit(value).cast(StringType()))
                scans.append(df)
            return reduce(DataFrame.unionByName, scans)

        # "join": one scan of everything + broadcast manifest lookup by file
        # path.  input_file_name() returns the file URI; normalize both sides
        # to scheme-less absolute paths before joining.  Catalog keys must be
        # individual parquet FILES for this strategy (the reference's SizedFile
        # contract, models/mod.rs:13-16) — a directory key would not equal any
        # input_file_name().  The union strategy tolerates directory keys.
        from pyspark.sql.functions import broadcast

        from .uris import normalized_path_col, strip_scheme

        scan = self._scan(spark, [self.resolve_key(f.key) for f in files])
        # Manifest keys resolve to full URIs before normalization so the join
        # key equals input_file_name() for bucketed (relative-key) catalogs.
        # Both sides normalize via sources.uris — the scan side additionally
        # url-decodes (input_file_name() is percent-encoded, raw keys are
        # not), exactly like the deletion-vector joins.
        resolved = [
            CatalogFile(key=self.resolve_key(f.key), length=f.length, partitions=f.partitions)
            for f in files
        ]
        manifest = manifest_df(spark, resolved, self.partition_cols).select(
            strip_scheme(F.col("key")).alias("__path"),
            F.lit(True).alias("__matched"),
            *self.partition_cols,
        )
        joined = (
            scan.withColumn("__path", normalized_path_col(F.input_file_name()))
            .join(broadcast(manifest), on="__path", how="left")
        )
        # A join miss must fail LOUDLY when the partition value is read, not
        # silently yield NULLs a filter then drops to zero rows.  Wrapping
        # the partition columns keeps the check inside the plan: if a query
        # never touches them, Catalyst prunes check and join both — which is
        # exactly when a miss is harmless.
        out = joined
        for c in self.partition_cols:
            out = out.withColumn(
                c,
                F.when(F.col("__matched").isNotNull(), F.col(c)).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "catalog join-attach matched no manifest key"
                                " for scanned file "
                            ),
                            F.col("__path"),
                        )
                    ).cast(StringType())
                ),
            )
        return out.drop("__path", "__matched")
