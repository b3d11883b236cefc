"""The catalog *manifest*: a small relational table of the catalog's files.

Reference semantics (code/src/datasource/catalog/mod.rs:123-137): the file list
is materialized as an in-memory table with schema
``(key Utf8, length UInt64, <partition col> Utf8 ...)`` and the user's
``partition_filter`` runs as plain SQL over it; surviving rows become the scan
set.  Partition values are always strings (README.md:113), and they belong to
a file, not to a row: :func:`attach_partitions` is the one place a file's
partition tuple reaches its scanned rows, for the static and Delta catalogs
and the Delta rewrite scans alike.

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

from collections.abc import Callable
from dataclasses import dataclass, field, replace
from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.utils import AnalysisException

from ..errors import BuzzPlanError
from .uris import MISS, scanned_files

# attach_partitions' default bound: above this many distinct partition
# tuples a scan attaches values by manifest join instead of per-tuple unions.
# The measured crossover (CHANGES.md): one scan plus the join already wins at
# three tuples, on 1.4k-row files and on 4M rows alike.
UNION_MAX_GROUPS = 2

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


def partition_values(
    f: CatalogFile, partition_cols: list[str]
) -> tuple[str | None, ...]:
    """``f``'s partition tuple in ``partition_cols`` order.  A ``None`` VALUE
    is a legitimate null partition (Delta); an ABSENT column is a malformed
    catalog and a plan error."""
    missing = [c for c in partition_cols if not f.has_partition(c)]
    if missing:
        raise BuzzPlanError(
            f"catalog file {f.key!r} is missing partition values for {missing}"
        )
    return tuple(f.partition_value(c) for c in partition_cols)


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
    schema = manifest_schema(partition_cols)
    values = [partition_values(f, partition_cols) for f in files]
    columns = [[f.key for f in files], [int(f.length) for f in files]]
    columns += [[v[i] for v in values] for i in range(len(partition_cols))]
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


def attach_partitions(
    spark: SparkSession,
    files: list[CatalogFile],
    partition_cols: list[str],
    scan: Callable[[list[str]], DataFrame],
    strategy: str = "auto",
    max_groups: int | None = None,
) -> DataFrame:
    """Rows of ``files`` with their partition values as string columns.

    ``scan(keys)`` reads the data files at ``keys``.  A partition value
    belongs to a file, not to a row (reference: catalog/mod.rs:123-137), so
    attaching it is one choice, made here for every file-list scan:

    - *union* (at most ``max_groups`` distinct tuples, default
      :data:`UNION_MAX_GROUPS`): one scan per tuple with literal columns —
      no join, no shuffle, the plan of a hive-partitioned directory;
    - *join* (more tuples): ONE scan of every file, keyed by its raw
      ``_metadata.file_path``, then :func:`join_partitions` — plan size
      stays O(1) however many tuples there are.

    ``strategy`` ``"union"``/``"join"`` forces one side.  The result has
    the scan's own columns plus the partition columns on both sides: a
    ``__rawpath`` the scan already selects is the join key and is kept;
    otherwise the key is selected here and dropped again."""
    groups: dict[tuple[str | None, ...], list[str]] = {}
    for f in files:
        groups.setdefault(partition_values(f, partition_cols), []).append(f.key)
    if strategy == "auto":
        bound = UNION_MAX_GROUPS if max_groups is None else max_groups
        strategy = "union" if len(groups) <= bound else "join"
    if strategy == "union":
        scans = []
        # nulls first: a deterministic union order
        for values in sorted(
            groups, key=lambda t: tuple((v is not None, v or "") for v in t)
        ):
            df = scan(groups[values])
            for c, v in zip(partition_cols, values):
                df = df.withColumn(c, F.lit(v).cast(StringType()))
            scans.append(df)
        return reduce(DataFrame.unionByName, scans)
    # Keys must be individual FILES here (the reference's SizedFile
    # contract, models/mod.rs:13-16): a directory key names no scanned file.
    # The union strategy tolerates them.
    scanned = scan([f.key for f in files])
    if "__rawpath" in scanned.columns:
        return join_partitions(spark, scanned, files, partition_cols)
    # _metadata resolves only on a scan relation: select it on the scan
    keyed = scanned.select("*", F.col("_metadata.file_path").alias("__rawpath"))
    return join_partitions(spark, keyed, files, partition_cols).drop("__rawpath")


def join_partitions(
    spark: SparkSession,
    keyed: DataFrame,
    files: list[CatalogFile],
    partition_cols: list[str],
) -> DataFrame:
    """The join half of :func:`attach_partitions`: ``keyed`` carries
    ``__rawpath``, its raw ``_metadata.file_path`` column, selected on each
    scan, and gains the partition columns of ``files`` by a broadcast left
    join on it.  ``__rawpath`` stays for the caller to drop.

    The join key needs no per-row work.  The manifest is keyed by the
    raw scan key of each file ``keyed`` scans, matched to its
    ``CatalogFile`` on the driver (:func:`~.uris.scanned_files`).  The key
    is deterministic, so filters above the join still reach the file
    source.

    Two guards: a scanned file with no catalog entry is a
    :class:`BuzzPlanError` here, at plan time; and a row whose
    ``__rawpath`` still matches no manifest key fails LOUDLY when its
    partition value is read, never as silent NULLs a filter then drops to
    zero rows.  That check lives inside the plan: a query that never reads
    the partition columns lets Catalyst prune check and join both — which
    is exactly when a miss is harmless."""
    if not partition_cols:
        return keyed
    entries = [
        replace(f, key=raw)
        for raw, f in scanned_files(keyed, {f.key: f for f in files}).items()
    ]
    manifest = F.broadcast(manifest_df(spark, entries, partition_cols))
    miss = F.raise_error(F.concat(F.lit(MISS), keyed["__rawpath"])).cast(
        StringType()
    )
    # `length` is never NULL in the manifest: NULL after the join = no match
    matched = manifest["length"].isNotNull()
    return keyed.join(
        manifest, keyed["__rawpath"] == manifest["key"], "left"
    ).select(
        keyed["*"],
        *[
            F.when(matched, manifest[c]).otherwise(miss).alias(c)
            for c in partition_cols
        ],
    )
