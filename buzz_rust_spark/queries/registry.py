"""Query registry: every implemented operator surface gets a named entry with
a Spark implementation and (when SQL-expressible) a DuckDB oracle.

This is the contract the driver checks (__spark_entry__.py): per-query
row-count + schema + order-insensitive value-hash versus the oracle at
sf=0.01.  Column names are aliased identically on both sides; double-typed
aggregates are rounded identically on both sides (floating summation order
differs between engines, so raw sums would hash-mismatch in the last ulp).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..functions.cache import release_operator_caches

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    headline: bool = False  # included in bench.py
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str,
    oracle: str | None,
    headline: bool = False,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Queries run strictly sequentially in the correctness driver and
            # bench; releasing the PREVIOUS query's operator caches here
            # bounds a long-lived session's cache footprint to one query's
            # working set (see functions/cache.py).  Scoped to THIS session:
            # a library caller's persists on another SparkSession must not
            # be released by registry activity (review r5).
            release_operator_caches(spark)
            return fn(spark, sf_dir)

        scoped.__name__ = fn.__name__
        scoped.__doc__ = fn.__doc__
        _REGISTRY[name] = QueryDef(
            name=name,
            fn=scoped,
            oracle=oracle,
            headline=headline,
            # explicit description wins even when fn has no docstring (the
            # old ternary's precedence discarded it), and a whitespace-only
            # docstring must not IndexError at registration
            description=description
            or next(iter((fn.__doc__ or "").strip().splitlines()), ""),
            tags=tags,
        )
        return fn

    return deco


def all_queries() -> dict[str, QueryDef]:
    # Import side-effect modules exactly once.
    from . import pipeline, sql_surface, streaming_queries  # noqa: F401

    return dict(_REGISTRY)


# Session-scoped parquet SCHEMA memo (weak keys: dies with the session).
# `spark.read.parquet(path)` infers the schema from the file footer on EVERY
# call — measured 100-250 ms of driver time per call on this host, and the
# bench queries make ~25 load() calls per pass over a fixed set of tables.
# Passing the schema explicitly skips the inference entirely (guide §1.2:
# driver-side fixed costs dominate small-scale latency; at cluster scale a
# real catalog serves schemas for exactly this reason — path-based access
# re-inferring per query is the anti-pattern).  Only METADATA is memoized —
# never data, never results; every action still scans the parquet inputs.
# INVARIANT (ADVICE r12): the memo keys on path alone, so dataset files must
# be immutable for the session's lifetime — regenerating a table IN PLACE
# with a different schema mid-session would silently name-match against the
# stale StructType.  The bench/correctness datasets are generated once and
# never rewritten; a caller that rewrites files must use a fresh session.
import weakref

_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, object]]" = (
    weakref.WeakKeyDictionary()
)


def row_count(sf_dir: str, table: str) -> int:
    """Row count from the parquet FOOTER — metadata only, no Spark job, no
    data read (the same class of information the schema memo uses; a real
    catalog serves table row counts the same way).  Used by queries that
    need a corpus size only to pick a parallelism/blocking factor (e.g.
    d05's block count): the result of those operators is independent of the
    factor, so this never influences query output — it replaces a
    per-call ``df.count()`` sizing job (ADVICE r12 / VERDICT r12 #5).  A
    table stored as a directory of parquet files sums its files' footers."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):
        import pyarrow.dataset as ds

        return sum(
            frag.metadata.num_rows
            for frag in ds.dataset(path, format="parquet").get_fragments()
        )
    return pq.ParquetFile(path).metadata.num_rows


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    path = f"{sf_dir}/{table}.parquet"
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    schema = memo.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        memo[path] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if table == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS): Spark 4 reads it
        # natively as TIMESTAMP_NTZ (micros truncation).  If the hosting
        # session still sets the legacy spark.sql.legacy.parquet.nanosAsLong
        # conf, ts arrives as raw int64 nanos — convert for type parity.
        # `div` keeps the arithmetic integral (ns exceed double's 2^53).
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    return df
