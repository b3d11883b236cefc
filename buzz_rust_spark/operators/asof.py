"""As-of (point-in-time) join — a custom operator Spark has no built-in for.

For every left row, attach the most recent right row with
``right_ts <= left_ts`` (direction="backward"; "forward" gives the earliest
right row with ``right_ts >= left_ts``), optionally within equality groups
(``by``) and a maximum time distance (``tolerance``).

Implementation (SURVEY.md extension path (a) — composition of existing ops,
no Python): tag and union both sides, then one window pass per group carries
the latest right payload forward (``last(ignorenulls)`` over an unbounded
preceding frame).  Cost: ONE shuffle on the group key + a sort within
partitions — no range-join row explosion, no pandas.  This is the shape that
survives 100 TB: the window state is one row (the carried payload), and AQE
skew handling applies to the group-key shuffle like any other.

Oracle: DuckDB's native ``ASOF JOIN`` (tests + queries/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..errors import BuzzBadRequestError
from ..functions.timeutil import epoch_seconds


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    by: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    right_prefix: str = "right_",
) -> DataFrame:
    """Left as-of join: every left row, plus the matched right row's columns
    (prefixed, null when no match).  Matches take the *latest* right row at or
    before the left timestamp (backward) — ties on the timestamp match; among
    equal right timestamps the largest remaining sort key wins
    deterministically."""
    if direction not in ("backward", "forward"):
        raise BuzzBadRequestError(
            f"asof direction must be 'backward' or 'forward', got {direction!r}"
        )
    by = by or []
    for c in by:
        if c not in left.columns or c not in right.columns:
            raise BuzzBadRequestError(f"asof 'by' column {c!r} missing from input")
    for c, df, side in ((left_ts, left, "left"), (right_ts, right, "right")):
        if c not in df.columns:
            raise BuzzBadRequestError(
                f"asof timestamp column {c!r} missing from {side} input"
            )
    lt, rt = left.schema[left_ts].dataType, right.schema[right_ts].dataType
    # The tolerance's epoch_seconds dispatches on each side's own timestamp
    # type, derived locally (no mid-plan .schema analysis).  unionByName
    # widens mixed types (INT/LONG, DATE/TIMESTAMP, NTZ/LTZ), so with a
    # tolerance the distance would be computed on the pre-widening type:
    # wrong distances instead of an error (ADVICE r12).  Without a tolerance
    # only the ordering uses the widened column, which is sound.
    if tolerance_seconds is not None and lt != rt:
        raise BuzzBadRequestError(
            f"asof timestamp types must match when a tolerance is set: "
            f"{left_ts!r} is {lt.simpleString()}, {right_ts!r} is "
            f"{rt.simpleString()} — cast one side explicitly"
        )

    left_cols = left.columns
    # right_ts is exported separately as f"{right_prefix}{right_ts}"
    right_cols = [c for c in right.columns if c not in by and c != right_ts]

    rpayload = F.struct(
        F.col(right_ts).alias("__ts"), *[F.col(c) for c in right_cols]
    )
    from pyspark.sql.types import StructField, StructType

    _right_schema = right.schema
    _rval_type = StructType(
        [StructField("__ts", _right_schema[right_ts].dataType, True)]
        + [StructField(c, _right_schema[c].dataType, True) for c in right_cols]
    )
    # A null-timestamp right row can never legitimately be "at or before"
    # anything; left in, it sorts NULLS FIRST under the backward ordering and
    # becomes a universal earliest match.  Drop such rows up front.
    tagged_right = right.where(F.col(right_ts).isNotNull()).select(
        *[F.col(c) for c in by],
        F.col(right_ts).alias("__event_ts"),
        F.lit(1).alias("__is_right"),
        rpayload.alias("__rval"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in left_cols],
    )
    tagged_left = left.select(
        *[F.col(c) for c in by],
        F.col(left_ts).alias("__event_ts"),
        F.lit(0).alias("__is_right"),
        # the payload struct type is derived from right.schema (already
        # fetched) instead of tagged_right.schema: a mid-plan .schema access
        # forces a full JVM analysis of the tagged plan that the final action
        # does not reuse — ~100 ms of driver latency per asof call for a
        # type we can compute locally (round-12 profile; guide §1.2)
        F.lit(None).cast(_rval_type).alias("__rval"),
        *[F.col(c).alias(f"__l_{c}") for c in left_cols],
    )
    unioned = tagged_right.unionByName(tagged_left)

    # __rval as the FINAL sort key makes ties among equal right timestamps
    # deterministic (struct comparison; the last-sorted payload wins) — the
    # determinism the docstring promises, previously left to shuffle order.
    if direction == "backward":
        # right rows sort before left rows at equal timestamps → a right row
        # AT the left timestamp is eligible.
        order = [
            F.col("__event_ts").asc(),
            F.col("__is_right").desc(),
            F.col("__rval").asc(),
        ]
    else:
        # __rval ascending in BOTH directions: within an equal-ts tie group
        # the largest payload sorts last, and last() therefore picks it.
        order = [
            F.col("__event_ts").desc(),
            F.col("__is_right").desc(),
            F.col("__rval").asc(),
        ]
    w = (
        Window.partitionBy(*[F.col(c) for c in by])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "__match", F.last("__rval", ignorenulls=True).over(w)
    ).where(F.col("__is_right") == 0)
    # A null-timestamp LEFT row has no defined as-of position (under the
    # forward/DESC ordering it would sort last and soak up a carried match):
    # its match is null by definition.
    carried = carried.withColumn(
        "__match",
        F.when(F.col("__event_ts").isNotNull(), F.col("__match")),
    )

    if tolerance_seconds is not None:
        # Type-aware epoch extraction: ts columns read from TIMESTAMP(NANOS)
        # parquet are TIMESTAMP_NTZ in Spark 4, which cannot cast to double.
        # Derived locally — sound because the lt == rt guard above rejects
        # inputs unionByName would widen; avoids another mid-plan .schema
        # analysis, same rationale as _rval_type.
        distance = F.abs(
            epoch_seconds(F.col("__event_ts"), lt)
            - epoch_seconds(F.col("__match.__ts"), rt)
        )
        carried = carried.withColumn(
            "__match",
            F.when(distance <= tolerance_seconds, F.col("__match")),
        )

    out_cols = [F.col(f"__l_{c}").alias(c) for c in left_cols]
    out_cols.append(F.col("__match.__ts").alias(f"{right_prefix}{right_ts}"))
    out_cols += [
        F.col(f"__match.{c}").alias(f"{right_prefix}{c}") for c in right_cols
    ]
    return carried.select(*out_cols)
