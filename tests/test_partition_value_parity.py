"""Delta rewrites take partition values from the log, whatever they hold.

Every Delta scan — the snapshot reader, the change feed and the writer's
rewrite reads (DELETE, UPDATE, MERGE, OPTIMIZE) — attaches each file's
partition values from its add action, never from the directory it sits
in.  This table is hive-laid-out with values Spark escapes in directory
names (``%``, ``:``, ``=``, ``/``), a space it does not escape, a ``date``
partition column and null partition values, so a value that does not
survive a rewrite byte for byte shows up as a wrong row or a wrong type.

Kept outside the ``test_delta*`` modules (all ``slow``) so the default
suite runs it."""

from __future__ import annotations

import datetime as dt
import json
from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from buzz_rust_spark.sources.delta_catalog import (
    DeltaCatalog,
    read_delta_changelog,
    replay_log,
)
from buzz_rust_spark.sources.delta_writer import (
    delete_delta,
    merge_delta,
    optimize_delta,
    update_delta,
    write_delta,
)
from buzz_rust_spark.sources.logstore import LogStore

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("v", StringType()),
        StructField("p", StringType()),
        StructField("d", DateType()),
    ]
)
P_VALUES = ["a b", "50%", "x:y", "k=v", "s/t", None]
D1, D2 = dt.date(2024, 1, 2), dt.date(2023, 12, 31)


def _rows(ids, tag):
    out = []
    for i in ids:
        p = P_VALUES[i % len(P_VALUES)]
        d = None if i % 7 == 3 else (D1 if i % 2 else D2)
        out.append((i, f"{tag}{i}", p, d))
    return out


def _typed(df, *extra):
    """``df``'s table columns at their declared types, plus ``extra``: the
    data columns must already carry them, the partition columns arrive
    as strings."""
    types = {f.name: f.dataType for f in df.schema.fields}
    assert types["id"] == LongType() and types["v"] == StringType()
    assert types["p"] == StringType() and types["d"] == StringType()
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in SCHEMA],
        *extra,
    )


def _snapshot(spark, root):
    rows = _typed(DeltaCatalog("t", root).to_dataframe(spark)).collect()
    return Counter(tuple(r) for r in rows)


def _check(spark, root, before, model, version_before):
    """The snapshot equals ``model``; the change feed since
    ``version_before`` turns ``before`` into it; the log keeps the
    declared schema and logs every partition value as written."""
    assert _snapshot(spark, root) == model
    feed = read_delta_changelog(spark, root, from_version=version_before)
    changes = {"insert": Counter(), "delete": Counter()}
    for r in _typed(feed, "_change_type").collect():
        changes[r["_change_type"]][tuple(r)[:4]] += 1
    assert before + changes["insert"] - changes["delete"] == model
    assert not changes["delete"] - before  # deletes are rows that existed
    st = replay_log(LogStore(root))
    assert StructType.fromJson(json.loads(st.meta["schemaString"])) == SCHEMA
    logged = {
        (a["partitionValues"]["p"], a["partitionValues"]["d"])
        for a in st.adds.values()
    }
    assert logged == {
        (p, None if d is None else d.isoformat()) for _, _, p, d in model
    }
    return st.version


def test_rewrites_keep_logged_partition_values(spark, tmp_path):
    root = str(tmp_path / "t")
    # two appends: every partition holds two files, so OPTIMIZE compacts
    for ids, tag in ((range(0, 12), "a"), (range(12, 24), "b")):
        write_delta(
            spark.createDataFrame(_rows(ids, tag), SCHEMA),
            root,
            partition_by=["p", "d"],
        )
    model = Counter(_rows(range(0, 12), "a") + _rows(range(12, 24), "b"))
    version = _check(spark, root, Counter(), model, -1)

    before = Counter(model)
    assert delete_delta(spark, root, "id IN (2, 9)") is not None
    model = Counter({r: n for r, n in model.items() if r[0] not in (2, 9)})
    version = _check(spark, root, before, model, version)

    before = Counter(model)
    assert update_delta(spark, root, {"v": "'u'"}, "id % 5 = 0") is not None
    model = Counter(
        {((i, "u", p, d) if i % 5 == 0 else (i, v, p, d)): n
         for (i, v, p, d), n in model.items()}
    )
    version = _check(spark, root, before, model, version)

    before = Counter(model)
    source = _rows([1, 30], "m")
    assert (
        merge_delta(spark, root, spark.createDataFrame(source, SCHEMA), ["id"])
        is not None
    )
    model = Counter({r: n for r, n in model.items() if r[0] != 1})
    model.update(source)
    version = _check(spark, root, before, model, version)

    before = Counter(model)
    assert optimize_delta(spark, root) is not None
    _check(spark, root, before, model, version)
