"""The catalog *manifest*: a small relational table of the catalog's files.

Reference semantics (code/src/datasource/catalog/mod.rs:123-137): the file list
is materialized as an in-memory table with schema
``(key Utf8, length UInt64, <partition col> Utf8 ...)`` and the user's
``partition_filter`` runs as plain SQL over it; surviving rows become the scan
set.  Partition values are always strings (README.md:113).

Scale note: the manifest is metadata (one row per file).  At 100 TB / ~128 MiB
files that is ~800k rows.  It is built as a ``pyarrow.Table``, which
``createDataFrame`` turns into a ``LocalRelation`` (below
``spark.sql.execution.arrow.localRelationThreshold``; above it Spark itself
falls back to an RDD).  Catalyst folds a filter over a ``LocalRelation`` at
optimization time, so pruning runs on the driver and launches no Spark job.
That beat an RDD-backed manifest at every size measured, up to 800k rows
(CHANGES.md), so there is one path.  Only the surviving *path list* is
collected, which is exactly what any Spark file index collects.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.utils import AnalysisException

from ..errors import BuzzPlanError


@dataclass(frozen=True)
class CatalogFile:
    """One file entry (reference: static_catalog.rs:13-20 ``CatalogFile`` and
    models/mod.rs:13-16 ``SizedFile``).

    A partition VALUE may be ``None`` (Delta serializes a null partition
    value as JSON null) — distinct from the column being ABSENT from the
    tuple, which is a malformed catalog (``has_partition`` tells them
    apart)."""

    key: str
    length: int
    partitions: tuple[tuple[str, str | None], ...] = field(default_factory=tuple)

    def partition_value(self, col: str) -> str | None:
        for k, v in self.partitions:
            if k == col:
                return v
        return None

    def has_partition(self, col: str) -> bool:
        return any(k == col for k, _ in self.partitions)


def manifest_schema(partition_cols: list[str]) -> StructType:
    """reference: catalog/mod.rs:128-137 (``key``, ``length``, partition cols
    as Utf8; UInt64 length narrowed to LongType — file sizes << 2^63).
    Partition fields are nullable: a Delta null partition value must surface
    as SQL NULL (so ``col IS NULL`` filters prune correctly), never as the
    string 'None'."""
    fields = [
        StructField("key", StringType(), nullable=False),
        StructField("length", LongType(), nullable=False),
    ]
    fields += [StructField(c, StringType(), nullable=True) for c in partition_cols]
    return StructType(fields)


def manifest_df(
    spark: SparkSession, files: list[CatalogFile], partition_cols: list[str]
) -> DataFrame:
    """The manifest as an Arrow-backed ``LocalRelation`` (see the scale
    note); a ``None`` partition value stays SQL NULL."""
    for f in files:
        missing = [c for c in partition_cols if not f.has_partition(c)]
        if missing:
            raise BuzzPlanError(
                f"catalog file {f.key!r} is missing partition values for {missing}"
            )
    schema = manifest_schema(partition_cols)
    columns = [[f.key for f in files], [int(f.length) for f in files]]
    columns += [[f.partition_value(c) for f in files] for c in partition_cols]
    table = pa.Table.from_arrays(columns, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


def prune_manifest(
    spark: SparkSession,
    files: list[CatalogFile],
    partition_cols: list[str],
    partition_filter: str | None,
    table_name: str = "catalog",
) -> list[CatalogFile]:
    """Evaluate ``partition_filter`` over the manifest and return surviving
    files (reference: catalog/mod.rs:43-99 ``filter_catalog`` — the filter is
    arbitrary SQL over the file-list table; a filter naming a non-partition
    column is a plan error, matching DataFusion's unresolved-column failure).

    An empty survivor set is a valid result, not an error
    (reference: query_planner.rs:85-90, fuse_service.rs:80-83)."""
    if not partition_filter:
        return list(files)
    # The reference runs `SELECT * FROM catalog WHERE <filter>`; filters may
    # qualify columns with the *catalog* table name (examples/query.json uses
    # "nyc_taxi.pickup_date<='2009/06'"), so the manifest is aliased to that
    # name verbatim; a name that is not an identifier is qualified in
    # backticks.  Only `key` is collected: one path per surviving file.
    try:
        survivors = (
            manifest_df(spark, files, partition_cols)
            .alias(table_name)
            .where(partition_filter)
            .select("key")
            .collect()
        )
    except AnalysisException as exc:
        raise BuzzPlanError(
            f"invalid partition_filter {partition_filter!r} for table "
            f"{table_name!r}: {exc}"
        ) from exc
    surviving_keys = {r["key"] for r in survivors}
    return [f for f in files if f.key in surviving_keys]
