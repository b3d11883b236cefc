"""End-to-end + planner-shaped tests for the BuzzEngine front-end.

Mirrors the reference's planner unit tests (query_planner.rs:186-373) and the
catalog filtering tests (catalog/mod.rs:151-178) over the driver testdata and
a MockSplittableTable-shaped fixture (FIXTURES.md F1/F2).
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from buzz_rust_spark import (
    BuzzEngine,
    BuzzBadRequestError,
    BuzzPlanError,
    BuzzQuery,
    CatalogFile,
    StaticCatalog,
)


def lineitem_catalog(sf_dir: str) -> StaticCatalog:
    path = os.path.join(sf_dir, "lineitem.parquet")
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    footer = pq.read_schema(path)
    schema = StructType(
        [
            StructField(f.name, from_arrow_type(f.type, prefer_timestamp_ntz=True), True)
            for f in footer
        ]
    )
    return StaticCatalog(
        name="lineitem",
        schema=schema,
        files=[CatalogFile(key=path, length=os.path.getsize(path))],
        verify_schemas=True,
    )


CANONICAL_QUERY = {
    "steps": [
        {
            "sql": (
                "SELECT l_returnflag, COUNT(l_returnflag) AS cnt, "
                "SUM(l_extendedprice) AS price_sum "
                "FROM lineitem GROUP BY l_returnflag"
            ),
            "name": "lineitem_map",
            "step_type": "HBee",
        },
        {
            "sql": (
                "SELECT l_returnflag, SUM(cnt) AS cnt, SUM(price_sum) AS price_sum "
                "FROM lineitem_map GROUP BY l_returnflag"
            ),
            "name": "lineitem_reduce",
            "step_type": "HComb",
        },
    ],
    "capacity": {"zones": 1},
    "catalogs": [],
}


def test_two_step_query_matches_single_step(spark, sf_dir):
    """The reference's manual map/reduce split must equal the direct group-by
    (SURVEY.md §4 'manual two-phase aggregation')."""
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(lineitem_catalog(sf_dir))
    result = engine.run(BuzzQuery.from_dict(CANONICAL_QUERY))
    rows = {r["l_returnflag"]: (r["cnt"], r["price_sum"]) for r in result.collect()}

    direct = (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .groupBy("l_returnflag")
        .agg({"l_returnflag": "count", "l_extendedprice": "sum"})
        .collect()
    )
    expect = {
        r["l_returnflag"]: (r["count(l_returnflag)"], r["sum(l_extendedprice)"])
        for r in direct
    }
    assert rows.keys() == expect.keys()
    for k in rows:
        assert rows[k][0] == expect[k][0]
        assert rows[k][1] == pytest.approx(expect[k][1], rel=1e-9)


def mock_split_catalog(spark, tmp_path, n_files=5):
    """FIXTURES.md F1: N files, partition values part_value_001..N.
    Keys are single parquet FILES (the reference's SizedFile contract)."""
    import glob as globmod
    import shutil

    files = []
    for i in range(1, n_files + 1):
        path = str(tmp_path / f"file_{i}.parquet")
        tmpdir = path + ".tmpdir"
        spark.createDataFrame(
            [(i * 10 + j,) for j in range(3)],
            schema=StructType([StructField("data_col", LongType())]),
        ).coalesce(1).write.mode("overwrite").parquet(tmpdir)
        shutil.move(globmod.glob(tmpdir + "/part-*.parquet")[0], path)
        shutil.rmtree(tmpdir)
        files.append(
            CatalogFile(
                key=path,
                length=1,
                partitions=(("part_key_1", f"part_value_{i:03d}"),),
            )
        )
    return StaticCatalog(
        name="mock_split",
        schema=StructType([StructField("data_col", LongType())]),
        files=files,
        partition_cols=["part_key_1"],
    )


def run_two_step(spark, catalog, partition_filter=None):
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(catalog)
    q = {
        "steps": [
            {
                "sql": "SELECT data_col FROM mock_split",
                "name": "map_step",
                "step_type": "HBee",
                "partition_filter": partition_filter,
            },
            {
                "sql": "SELECT COUNT(data_col) AS n FROM map_step",
                "name": "reduce_step",
                "step_type": "HComb",
            },
        ],
        "capacity": {"zones": 1},
        "catalogs": [],
    }
    return engine.run(BuzzQuery.from_dict(q))


def test_partition_filter_prunes(spark, tmp_path):
    cat = mock_split_catalog(spark, tmp_path)
    assert run_two_step(spark, cat).collect()[0]["n"] == 15  # no filter → 5 files
    assert (
        run_two_step(spark, cat, "part_key_1='part_value_002'").collect()[0]["n"] == 3
    )
    assert (
        run_two_step(
            spark,
            cat,
            "part_key_1>='part_value_001' AND part_key_1<='part_value_003'",
        ).collect()[0]["n"]
        == 9
    )


def test_empty_prune_is_empty_result_not_error(spark, tmp_path):
    """reference: fuse_service.rs:80-83 / query_planner.rs:278-308."""
    cat = mock_split_catalog(spark, tmp_path)
    out = run_two_step(spark, cat, "part_key_1='no_such_value'")
    assert out.collect()[0]["n"] == 0


def test_partition_filter_on_unknown_column_errors(spark, tmp_path):
    cat = mock_split_catalog(spark, tmp_path)
    with pytest.raises(BuzzPlanError):
        run_two_step(spark, cat, "not_a_column='x'")


def test_parquet_dir_partition_filter_unknown_column_typed(spark, sf_dir):
    """ParquetDir catalogs must match the Static/Delta typed-error taxonomy:
    a partition_filter naming a nonexistent column is a BuzzPlanError, not a
    raw AnalysisException leaking through run_json (r5 verify-drive find)."""
    import json

    engine = BuzzEngine(spark)
    q = {
        "steps": [
            {
                "sql": "SELECT COUNT(*) AS n FROM lineitem",
                "name": "m",
                "step_type": "HBee",
                "partition_filter": "no_such_col = 'x'",
            },
            {
                "sql": "SELECT SUM(n) AS n FROM m",
                "name": "r",
                "step_type": "HComb",
            },
        ],
        "capacity": {"zones": 1},
        "catalogs": [
            {
                "name": "lineitem",
                "type": "ParquetDir",
                "uri": f"{sf_dir}/lineitem.parquet",
            }
        ],
    }
    with pytest.raises(BuzzPlanError, match="partition_filter"):
        engine.run_json(json.dumps(q))


def test_strict_requires_two_steps(spark, sf_dir):
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(lineitem_catalog(sf_dir))
    q = BuzzQuery.from_dict(
        {
            "steps": [CANONICAL_QUERY["steps"][0]],
            "capacity": {"zones": 1},
            "catalogs": [],
        }
    )
    with pytest.raises(BuzzBadRequestError):
        engine.run(q)


def test_hcomb_reading_catalog_rejected(spark, sf_dir):
    """reference: query_planner.rs:104-109 + test 345-373."""
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(lineitem_catalog(sf_dir))
    q = BuzzQuery.from_dict(
        {
            "steps": [
                CANONICAL_QUERY["steps"][0],
                {
                    "sql": "SELECT COUNT(*) AS n FROM lineitem",
                    "name": "bad_reduce",
                    "step_type": "HComb",
                },
            ],
            "capacity": {"zones": 1},
            "catalogs": [],
        }
    )
    with pytest.raises(BuzzPlanError):
        engine.run(q)


def test_unknown_table_rejected(spark):
    engine = BuzzEngine(spark)
    q = BuzzQuery.from_dict(
        {
            "steps": [
                {
                    "sql": "SELECT * FROM no_such_table",
                    "name": "s1",
                    "step_type": "HBee",
                }
            ],
            "capacity": {"zones": 1},
            "catalogs": [],
        }
    )
    with pytest.raises(BuzzPlanError):
        engine.run(q)


def test_multi_step_generalization(spark, sf_dir):
    """Non-strict mode: N chained steps (SURVEY.md §7 order-after-slice #4)."""
    engine = BuzzEngine(spark)
    engine.register_source(lineitem_catalog(sf_dir))
    q = BuzzQuery.from_dict(
        {
            "steps": [
                {
                    "sql": "SELECT l_returnflag, l_extendedprice FROM lineitem",
                    "name": "s1",
                    "step_type": "HBee",
                },
                {
                    "sql": (
                        "SELECT l_returnflag, SUM(l_extendedprice) AS s FROM s1 "
                        "GROUP BY l_returnflag"
                    ),
                    "name": "s2",
                    "step_type": "HComb",
                },
                {
                    "sql": "SELECT COUNT(*) AS n FROM s2",
                    "name": "s3",
                    "step_type": "HComb",
                },
            ],
            "capacity": {"zones": 1},
            "catalogs": [],
        }
    )
    assert engine.run(q).collect()[0]["n"] == 3


def test_partition_attach_join_strategy_matches_union(spark, tmp_path):
    """The broadcast-manifest join path must produce the same rows as the
    per-tuple union path (it is the plan-size-bounded variant for catalogs
    with many partitions)."""
    from buzz_rust_spark import StaticCatalog

    base = mock_split_catalog(spark, tmp_path, n_files=5)
    union_cat = StaticCatalog(
        name="m1", schema=base.schema, files=base.files,
        partition_cols=base.partition_cols, attach_strategy="union",
    )
    join_cat = StaticCatalog(
        name="m2", schema=base.schema, files=base.files,
        partition_cols=base.partition_cols, attach_strategy="join",
    )
    u = {tuple(r) for r in union_cat.to_dataframe(spark).collect()}
    j = {tuple(r) for r in join_cat.to_dataframe(spark).collect()}
    assert u == j and len(u) == 15
    # pruning works identically through the join path
    ju = {
        tuple(r)
        for r in join_cat.to_dataframe(
            spark, partition_filter="part_key_1='part_value_002'"
        ).collect()
    }
    assert len(ju) == 3 and all(row[1] == "part_value_002" for row in ju)

    # Both branches agree on a null partition value (matched by IS NULL,
    # never by = 'None'), on keys with a space, a literal '%41', '+', '#',
    # '?' and non-ASCII characters, on a `file`-bucket catalog (relative
    # keys) and on an ORC catalog.
    import glob as globmod
    import shutil

    odd = tmp_path / "odd dir %41"
    odd.mkdir()
    parts = {"a b%41 0": None, "a+b#c?d 1": "2021", "é ü%41+ 2": "2022"}
    for fmt in ("parquet", "orc"):
        for i, name in enumerate(parts):
            out = str(odd / f"{name}.tmpdir")
            spark.createDataFrame(
                [(10 * i + j,) for j in range(i + 1)], base.schema
            ).coalesce(1).write.format(fmt).save(out)
            shutil.move(globmod.glob(out + "/part-*")[0], str(odd / f"{name}.{fmt}"))
            shutil.rmtree(out)
        for bucket in (None, str(odd)):
            files = [
                CatalogFile(
                    key=f"{name}.{fmt}" if bucket else str(odd / f"{name}.{fmt}"),
                    length=1,
                    partitions=(("p", value),),
                )
                for name, value in parts.items()
            ]
            for strategy in ("union", "join"):
                cat = StaticCatalog(
                    name="odd", schema=base.schema, files=files,
                    partition_cols=["p"], bucket=bucket, scheme="file",
                    fmt=fmt, attach_strategy=strategy,
                )
                got = sorted(
                    (r.data_col, r.p) for r in cat.to_dataframe(spark).collect()
                )
                assert got == [
                    (0, None), (10, "2021"), (11, "2021"),
                    (20, "2022"), (21, "2022"), (22, "2022"),
                ], (fmt, bucket, strategy)
                df = cat.to_dataframe(spark)
                assert [r.data_col for r in df.where("p IS NULL").collect()] == [0]
                assert df.where("p = 'None'").count() == 0


def test_join_partitions_raises_for_scanned_file_missing_from_manifest(
    spark, tmp_path
):
    """The join half's two loud-miss guards.  A scanned file absent from
    the manifest is a plan error; a row whose key still matches no manifest
    entry fails the query when its partition value is read, instead of
    yielding NULL partition values."""
    from pyspark.sql import functions as F

    from buzz_rust_spark.sources.manifest import join_partitions

    cat = mock_split_catalog(spark, tmp_path, n_files=2)

    keyed = spark.read.schema(cat.schema).parquet(
        *[f.key for f in cat.files]
    ).select("*", F.col("_metadata.file_path").alias("__rawpath"))

    with pytest.raises(
        BuzzPlanError,
        match="catalog join-attach matched no manifest key for scanned file "
        ".*file_2.parquet",
    ):
        join_partitions(spark, keyed, cat.files[:1], cat.partition_cols)
    # every scanned file is listed, but file_2's rows carry a key no
    # manifest entry has: the in-plan guard
    stray = keyed.withColumn(
        "__rawpath",
        F.when(
            F.col("__rawpath").endswith("file_2.parquet"),
            F.lit("file:/elsewhere/file_2.parquet"),
        ).otherwise(F.col("__rawpath")),
    )
    out = join_partitions(spark, stray, cat.files, cat.partition_cols)
    with pytest.raises(
        Exception,
        match="catalog join-attach matched no manifest key for scanned file "
        ".*file_2.parquet",
    ):
        out.collect()
    # a query that never reads the partition values is unaffected
    assert out.select("data_col").count() == 6


def test_input_files_is_one_round_trip(spark, tmp_path, monkeypatch):
    """Listing a scan's files costs as many py4j calls at 400 files as at
    40: the Java array is joined JVM-side instead of fetched one element
    per call, and the listing equals ``inputFiles()``, odd names included.
    Only this thread's calls count, with the cyclic collector paused: a
    collection would release earlier tests' Java objects, one call each."""
    import gc
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from buzz_rust_spark.sources.uris import input_files

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    calls = []

    def counting(*args, **kwargs):
        calls[-1] += threading.get_ident() == me
        return send(*args, **kwargs)

    for n in (40, 400):
        d = tmp_path / f"n{n}"
        d.mkdir()
        for i in range(n):
            pq.write_table(pa.table({"x": [i]}), str(d / f"f {i}%41+é.parquet"))
        df = spark.read.schema("x long").parquet(str(d))
        calls.append(0)
        gc.collect()
        gc.disable()
        monkeypatch.setattr(client, "send_command", counting)
        try:
            listed = input_files(df)
        finally:
            monkeypatch.undo()
            gc.enable()
        assert len(listed) == n
        assert sorted(listed) == sorted(df.inputFiles())
    assert calls[0] == calls[1], calls


def test_file_identity_misses_are_typed_plan_errors(spark, tmp_path):
    """A raw scan key looked up with no catalog entry, and a deletion
    vector whose file the scan does not list, are ``BuzzPlanError``s naming
    the file, never a ``KeyError`` or silently resurrected rows; a vector
    on a scanned file with an odd name drops exactly its row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from buzz_rust_spark.sources.deletion_vectors import filter_deleted_rows
    from buzz_rust_spark.sources.uris import ScanKeys

    keys = ScanKeys({"file:/t/a.parquet": "a.parquet"})
    assert keys["file:/t/a.parquet"] == "a.parquet"
    with pytest.raises(BuzzPlanError, match="scanned file file:/t/b%20c"):
        keys["file:/t/b%20c.parquet"]

    path = str(tmp_path / "d %41+é" / "f 1.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.table({"x": [1, 2, 3]}), path)
    scan = spark.read.parquet(path).select(
        "*",
        F.col("_metadata.file_path").alias("__rawpath"),
        F.col("_metadata.row_index").alias("__ridx"),
    )
    kept = filter_deleted_rows(scan, [(path, 1)], spark)
    assert sorted(r.x for r in kept.collect()) == [1, 3]
    other = str(tmp_path / "other.parquet")
    with pytest.raises(BuzzPlanError, match="other.parquet"):
        filter_deleted_rows(scan, [(other, 0)], spark)


def test_join_attach_keeps_stats_filter_pushdown(spark, tmp_path):
    """The join-attach key is the raw ``_metadata.file_path``, a
    deterministic column, so a ``stats_filter`` over a join-attached frame
    still reaches the Parquet scan as a pushed filter, as on a union."""
    base = mock_split_catalog(spark, tmp_path, n_files=5)
    for strategy in ("union", "join"):
        cat = StaticCatalog(
            name="m", schema=base.schema, files=base.files,
            partition_cols=base.partition_cols, attach_strategy=strategy,
        )
        df = cat.to_dataframe(spark, stats_filter="data_col >= 31")
        plan = df._jdf.queryExecution().executedPlan().toString()
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert pushed and all("data_col" in p for p in pushed), (strategy, plan)
        assert sorted(r.data_col for r in df.collect()) == [
            31, 32, 40, 41, 42, 50, 51, 52
        ]


def test_partition_attach_auto_switches_above_the_bound(spark, tmp_path):
    """``attach_partitions`` unions literal-column scans up to
    ``UNION_MAX_GROUPS`` distinct tuples and joins one scan to the manifest
    above it; both sides give the same rows."""
    from buzz_rust_spark.sources.manifest import UNION_MAX_GROUPS

    base = mock_split_catalog(spark, tmp_path, n_files=UNION_MAX_GROUPS + 1)
    for n, joined in ((UNION_MAX_GROUPS, False), (UNION_MAX_GROUPS + 1, True)):
        cat = StaticCatalog(
            name="m", schema=base.schema, files=base.files[:n],
            partition_cols=base.partition_cols,
        )
        df = cat.to_dataframe(spark)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert bool(re.search(r"\bJoin\b", plan)) == joined, (n, plan)
        assert sorted((r.data_col, r.part_key_1) for r in df.collect()) == [
            (10 * i + j, f"part_value_{i:03d}")
            for i in range(1, n + 1)
            for j in range(3)
        ]


def test_runtime_task_failure_surfaces_typed_error(spark, tmp_path):
    """FAIL-action parity (flight_service.rs:147-160): a mid-query task
    failure — a corrupt file in the manifest, undetectable at plan time —
    aborts the query as a typed BuzzExecutionError carrying the root cause,
    not a raw Py4J stack."""
    from buzz_rust_spark import BuzzExecutionError

    cat = mock_split_catalog(spark, tmp_path, n_files=3)
    corrupt = str(tmp_path / "file_2.parquet")
    with open(corrupt, "wb") as fh:
        fh.write(b"PAR1 this is not a real parquet footer")

    engine = BuzzEngine(spark, strict=True)
    engine.register_source(cat)
    q = BuzzQuery.from_dict(
        {
            "steps": [
                {
                    "sql": "SELECT data_col FROM mock_split",
                    "name": "m",
                    "step_type": "HBee",
                },
                {
                    "sql": "SELECT COUNT(data_col) AS n FROM m",
                    "name": "r",
                    "step_type": "HComb",
                },
            ],
            "capacity": {"zones": 1},
            "catalogs": [],
        }
    )
    df = engine.run(q)  # planning succeeds: no footer sniffing at plan time
    with pytest.raises(BuzzExecutionError) as info:
        engine.execute(df)
    msg = str(info.value)
    assert "query execution failed" in msg
    # root cause, not the whole server stack: a single line naming the failure
    assert len(msg.splitlines()) == 1

    # healthy manifests still collect fine through the same action boundary
    healthy = mock_split_catalog(spark, tmp_path / "ok", n_files=2)
    engine2 = BuzzEngine(spark, strict=True)
    engine2.register_source(healthy)
    assert engine2.run_collect(q)[0]["n"] == 6


def zones_query(
    zones,
    hcomb_sql="SELECT COUNT(data_col) AS n FROM map_step",
    partition_filter=None,
):
    return BuzzQuery.from_dict(
        {
            "steps": [
                {
                    "sql": "SELECT data_col FROM mock_split",
                    "name": "map_step",
                    "step_type": "HBee",
                    "partition_filter": partition_filter,
                },
                {"sql": hcomb_sql, "name": "reduce_step", "step_type": "HComb"},
            ],
            "capacity": {"zones": zones},
            "catalogs": [],
        }
    )


def test_multi_zone_comb_by_comb_results(spark, tmp_path):
    """reference: query_planner.rs:111-132 round-robins hbee splits across
    min(zones, nb_hbee) hcombs and fuse_service.rs:130-135 emits results comb
    by comb — one reduce output per zone, concatenated."""
    cat = mock_split_catalog(spark, tmp_path, n_files=5)
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(cat)

    single = engine.run(zones_query(1)).collect()
    assert [r["n"] for r in single] == [15]

    two = engine.run(zones_query(2)).collect()
    # round-robin over 5 files: zone0 = files {0,2,4} (9 rows), zone1 = {1,3} (6)
    assert sorted(r["n"] for r in two) == [6, 9]
    assert sum(r["n"] for r in two) == 15

    # more zones than hbee splits → one zone per split (used_hcomb =
    # min(nb_hcomb, nb_hbee), query_planner.rs:112)
    many = engine.run(zones_query(99)).collect()
    assert sorted(r["n"] for r in many) == [3, 3, 3, 3, 3]


def test_multi_zone_partition_filter_prunes_before_split(spark, tmp_path):
    cat = mock_split_catalog(spark, tmp_path, n_files=5)
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(cat)
    q = BuzzQuery.from_dict(
        {
            "steps": [
                {
                    "sql": "SELECT data_col FROM mock_split",
                    "name": "map_step",
                    "step_type": "HBee",
                    "partition_filter": "part_key_1>='part_value_004'",
                },
                {
                    "sql": "SELECT COUNT(data_col) AS n FROM map_step",
                    "name": "reduce_step",
                    "step_type": "HComb",
                },
            ],
            "capacity": {"zones": 2},
            "catalogs": [],
        }
    )
    out = engine.run(q).collect()
    assert sorted(r["n"] for r in out) == [3, 3]


def test_multi_zone_group_by_is_per_zone(spark, tmp_path):
    """Zone semantics are the reference's, not a global shuffle: a group key
    spanning zones appears once per zone (the reference client sees exactly
    the per-comb batches)."""
    cat = mock_split_catalog(spark, tmp_path, n_files=4)
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(cat)
    q = zones_query(
        2, "SELECT COUNT(*) AS n, SUM(data_col) AS s FROM map_step GROUP BY 'all'"
    )
    out = engine.run(q).collect()
    assert len(out) == 2  # one output row per zone
    assert sum(r["n"] for r in out) == 12


def test_reference_example_queries_parse_verbatim():
    """The reference's shipped example query JSONs (code/examples/*.json)
    must parse unchanged through the BuzzQuery front-end — the user-facing
    artifact a migrating user would bring along (models/query.rs:3-41
    field-for-field)."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from buzz_rust_spark.models import BuzzCatalogType, BuzzQuery

    examples = "/root/reference/code/examples"
    if not _os.path.isdir(examples):
        _pytest.skip("reference checkout not present")
    expected = {
        "query.json": BuzzCatalogType.STATIC,
        "query-delta-taxi.json": BuzzCatalogType.DELTA_LAKE,
        "query-static-sample.json": BuzzCatalogType.STATIC,
    }
    for fname, cat_type in expected.items():
        with open(_os.path.join(examples, fname)) as fh:
            q = BuzzQuery.from_json(fh.read())
        assert [s.step_type.value for s in q.steps] == ["HBee", "HComb"]
        assert q.steps[0].partition_filter  # every example prunes partitions
        assert q.catalogs[0].type is cat_type
        assert q.capacity.zones == 1
    # steps.json is the bare hbee-test step list (not a full BuzzQuery);
    # its steps parse through the same step model
    from buzz_rust_spark.models import BuzzStep

    with open(_os.path.join(examples, "steps.json")) as fh:
        steps = [BuzzStep.from_dict(s) for s in _json.load(fh)]
    assert steps and steps[0].step_type.value == "HBee"


def test_malformed_capacity_is_bad_request():
    import pytest as _pytest

    from buzz_rust_spark.errors import BuzzBadRequestError
    from buzz_rust_spark.models import BuzzQuery

    step = {"name": "s0", "step_type": "HBee", "sql": "SELECT 1"}
    with _pytest.raises(BuzzBadRequestError, match="capacity"):
        BuzzQuery.from_dict({"steps": [step], "capacity": "big"})
    with _pytest.raises(BuzzBadRequestError, match="capacity"):
        BuzzQuery.from_dict({"steps": [step], "capacity": {"zones": "two"}})


def test_zoned_falls_back_when_reduce_reads_catalog_tables(spark, tmp_path):
    """Review fix: a reduce step referencing a catalog table under zones>1
    must fall back to single-zone execution (per-zone resolution would see
    only that zone's file subset) — and produce the single-zone result."""
    from buzz_rust_spark import BuzzEngine, BuzzQuery
    from buzz_rust_spark.queries.registry import load
    from buzz_rust_spark.sources.writer import catalog_from_written, write_parquet

    events = load(spark, "/root/testdata/sf0.001", "events").limit(200)
    path = str(tmp_path / "ev")
    # several files so zones>1 is actually viable
    write_parquet(events.repartition(4), path)
    cat = catalog_from_written("ev", path, events.schema)
    eng = BuzzEngine(spark)
    eng.register_source(cat)
    q = {
        "steps": [
            {"name": "s0", "step_type": "HBee",
             "sql": "SELECT user_id, COUNT(*) AS n FROM ev GROUP BY user_id"},
            # reduce ALSO reads 'ev' — correct only in single-zone execution
            {"name": "s1", "step_type": "HComb",
             "sql": "SELECT COUNT(*) AS users, (SELECT COUNT(*) FROM ev) AS raw "
                    "FROM s0"},
        ],
        "capacity": {"zones": 3},
    }
    rows = eng.run(BuzzQuery.from_dict(q)).collect()
    assert len(rows) == 1 and rows[0]["raw"] == 200


def test_stats_filter_on_query_json(spark, sf_dir):
    """stats_filter in the query JSON: applied to the catalog scan as a
    row predicate (result ≡ the same predicate in the step SQL), refused
    on HComb steps, and an unknown column surfaces as the typed plan
    error — on both the Static and ParquetDir catalog types."""
    import json

    engine = BuzzEngine(spark)
    engine.register_source(lineitem_catalog(sf_dir))

    def q(**step0_extra):
        return {
            "steps": [
                {
                    "sql": (
                        "SELECT l_returnflag, COUNT(*) AS n, "
                        "SUM(l_quantity) AS qty FROM lineitem "
                        "GROUP BY l_returnflag"
                    ),
                    "name": "m",
                    "step_type": "HBee",
                    **step0_extra,
                },
                {
                    "sql": (
                        "SELECT l_returnflag, SUM(n) AS n, SUM(qty) AS qty "
                        "FROM m GROUP BY l_returnflag ORDER BY l_returnflag"
                    ),
                    "name": "r",
                    "step_type": "HComb",
                },
            ],
        }

    expect = [
        (r.l_returnflag, r.n, r.qty)
        for r in engine.run_json(json.dumps({
            "steps": [
                {
                    "sql": (
                        "SELECT l_returnflag, COUNT(*) AS n, "
                        "SUM(l_quantity) AS qty FROM lineitem "
                        "WHERE l_quantity < 10 GROUP BY l_returnflag "
                        "ORDER BY l_returnflag"
                    ),
                    "name": "m",
                    "step_type": "HBee",
                },
            ],
        })).collect()
    ]
    got = [
        (r.l_returnflag, r.n, r.qty)
        for r in engine.run_json(
            json.dumps(q(stats_filter="l_quantity < 10"))
        ).collect()
    ]
    assert got == expect and len(got) == 3

    # ParquetDir catalog type takes the same surface
    pd_query = q(stats_filter="l_quantity < 10")
    pd_query["catalogs"] = [{
        "name": "lineitem", "type": "ParquetDir",
        "uri": os.path.join(sf_dir, "lineitem.parquet"),
    }]
    got_pd = [
        (r.l_returnflag, r.n, r.qty)
        for r in engine.run_json(json.dumps(pd_query)).collect()
    ]
    assert got_pd == expect

    # HComb steps cannot carry it
    bad = q()
    bad["steps"][1]["stats_filter"] = "n > 0"
    with pytest.raises(BuzzPlanError, match="stats_filter"):
        engine.run_json(json.dumps(bad))

    # unknown column → typed plan error, not a raw AnalysisException
    with pytest.raises(BuzzPlanError, match="stats_filter"):
        engine.run_json(json.dumps(q(stats_filter="no_such_col < 10")))


COUNT_SUM = "SELECT COUNT(data_col) AS n, SUM(data_col) AS s FROM map_step"


def _duckdb_keys(files, partition_cols, partition_filter, table="cat"):
    """DuckDB's answer: the filter over a manifest table named ``table``."""
    import duckdb

    con = duckdb.connect()
    cols = "".join(f', "{c}" VARCHAR' for c in partition_cols)
    con.execute(f'CREATE TABLE "{table}" (key VARCHAR, length BIGINT{cols})')
    marks = ", ".join("?" * (2 + len(partition_cols)))
    con.executemany(
        f'INSERT INTO "{table}" VALUES ({marks})',
        [
            (f.key, f.length, *[f.partition_value(c) for c in partition_cols])
            for f in files
        ],
    )
    return {
        k for (k,) in con.execute(
            f'SELECT key FROM "{table}" WHERE {partition_filter}'
        ).fetchall()
    }


def _duckdb_count_sum(cat, partition_filter):
    """DuckDB over the same files: the filter runs on a manifest table named
    like the catalog, then the surviving files are read directly."""
    import duckdb

    keys = _duckdb_keys(cat.files, ["part_key_1"], partition_filter, cat.name)
    if not keys:
        return (0, None)
    paths = ", ".join(f"'{k}'" for k in sorted(keys))
    return duckdb.connect().execute(
        f"SELECT COUNT(data_col), SUM(data_col) FROM read_parquet([{paths}])"
    ).fetchone()


def test_concurrent_queries_on_one_session_are_isolated(spark, tmp_path):
    """Eight threads query the same catalog name with different partition
    filters at once; each query plans in its own session, so every answer
    equals DuckDB's over the same files (no thread sees another's views)."""
    import threading

    cat = mock_split_catalog(spark, tmp_path, n_files=8)
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(cat)
    filters = ["part_key_1 = 'no_such_value'"] + [
        f"part_key_1 <= 'part_value_{t:03d}'" for t in range(1, 8)
    ]
    expected = [_duckdb_count_sum(cat, f) for f in filters]
    assert expected[0] == (0, None) and len(set(expected)) == len(filters)

    barrier = threading.Barrier(len(filters))
    got: dict[int, list] = {t: [] for t in range(len(filters))}
    errors: list[BaseException] = []

    def worker(t):
        try:
            barrier.wait()
            for _ in range(4):
                # odd threads take the zoned path: one row per zone
                rows = engine.execute(
                    engine.run(zones_query(1 + t % 2, COUNT_SUM, filters[t]))
                )
                sums = [r["s"] for r in rows if r["s"] is not None]
                got[t].append((sum(r["n"] for r in rows), sum(sums) if sums else None))
        except BaseException as exc:  # surfaced in the main thread below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(len(filters))]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    for t, want in enumerate(expected):
        assert got[t] == [want] * 4, (filters[t], got[t], want)


def test_user_temp_view_with_catalog_name_survives_run(spark, tmp_path):
    """A caller's temp view named like a catalog is neither read nor
    replaced nor dropped by a query: the query's views live in its own
    session."""
    cat = mock_split_catalog(spark, tmp_path, n_files=3)
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(cat)
    spark.range(2).createOrReplaceTempView("mock_split")
    try:
        rows = engine.execute(
            engine.run(zones_query(1, COUNT_SUM, "part_key_1 <= 'part_value_002'"))
        )
        assert [(r["n"], r["s"]) for r in rows] == [(6, 10 + 11 + 12 + 20 + 21 + 22)]
        assert spark.table("mock_split").columns == ["id"]
        assert spark.table("mock_split").count() == 2
    finally:
        spark.catalog.dropTempView("mock_split")


def test_failed_plan_leaves_session_tables_unchanged(spark, tmp_path):
    """A query that fails to plan at its second step leaves no view behind
    in the engine's session."""
    cat = mock_split_catalog(spark, tmp_path, n_files=3)
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(cat)
    before = sorted(t.name for t in spark.catalog.listTables())
    bad = zones_query(1, "SELECT COUNT(no_such_col) AS n FROM map_step")
    with pytest.raises(BuzzPlanError, match="reduce_step"):
        engine.run(bad)
    assert sorted(t.name for t in spark.catalog.listTables()) == before


# -- manifest parity: the Arrow-backed LocalRelation manifest ---------------


def valued_catalog(spark, tmp_path, values, name="mock_split"):
    """``mock_split_catalog`` with one file per entry of ``values``, file i
    carrying ``values[i]`` as its ``part_key_1`` (None is a null value)."""
    from dataclasses import replace

    cat = mock_split_catalog(spark, tmp_path, n_files=len(values))
    files = [
        replace(f, partitions=(("part_key_1", v),)) for f, v in zip(cat.files, values)
    ]
    return replace(cat, name=name, files=files)


def _count_for(files, keep):
    """Python oracle for ``run_two_step``: 3 rows in each kept file."""
    return 3 * sum(1 for f in files if keep(f.partition_value("part_key_1")))


def test_manifest_null_partition_value_is_sql_null(spark, tmp_path):
    cat = valued_catalog(spark, tmp_path, ["a", None, "b", "None"])
    for pf, keep in [
        ("part_key_1 IS NULL", lambda v: v is None),
        ("part_key_1 = 'None'", lambda v: v == "None"),
        ("part_key_1 IS NOT NULL", lambda v: v is not None),
        ("part_key_1 <> 'a'", lambda v: v is not None and v != "a"),
    ]:
        got = {f.key for f in cat.pruned_files(spark, pf)}
        assert got == _duckdb_keys(cat.files, ["part_key_1"], pf, cat.name), pf
        assert run_two_step(spark, cat, pf).collect()[0]["n"] == _count_for(
            cat.files, keep
        ), pf
    null_key = cat.files[1].key
    assert {f.key for f in cat.pruned_files(spark, "part_key_1 IS NULL")} == {null_key}
    assert null_key not in {
        f.key for f in cat.pruned_files(spark, "part_key_1 = 'None'")
    }


def test_manifest_value_with_single_quote(spark, tmp_path):
    cat = valued_catalog(spark, tmp_path, ["o'brien", "obrien", "o''brien"])
    for pf in ["part_key_1 = \"o'brien\"", "part_key_1 = 'o\\'brien'"]:
        got = {f.key for f in cat.pruned_files(spark, pf)}
        assert got == {cat.files[0].key}, pf
        assert run_two_step(spark, cat, pf).collect()[0]["n"] == 3, pf
    # a LIKE pattern is spelled the same in both dialects
    assert {f.key for f in cat.pruned_files(spark, "part_key_1 LIKE 'o_brien'")} == (
        _duckdb_keys(cat.files, ["part_key_1"], "part_key_1 LIKE 'o_brien'")
    )


def test_manifest_filter_qualified_by_catalog_name_with_dash(spark, tmp_path):
    cat = valued_catalog(
        spark, tmp_path, ["2020-01", "2020-02", "2021-01"], name="nyc-taxi"
    )
    pf = "`nyc-taxi`.part_key_1 LIKE '2020-%'"
    got = {f.key for f in cat.pruned_files(spark, pf)}
    assert got == {f.key for f in cat.files if f.partition_value("part_key_1") < "2021"}
    assert got == _duckdb_keys(
        cat.files, ["part_key_1"], "\"nyc-taxi\".part_key_1 LIKE '2020-%'", "nyc-taxi"
    )
    rows = cat.to_dataframe(spark, pf).collect()
    assert sorted(r["data_col"] for r in rows) == [10, 11, 12, 20, 21, 22]


@pytest.mark.parametrize(
    "partition_filter",
    ["data_col = 1", "part_key_1 = = 'x'", "part_key_1 = 'unterminated"],
    ids=["non_partition_column", "syntax_error", "unterminated_literal"],
)
def test_manifest_bad_filter_is_plan_error(spark, tmp_path, partition_filter):
    cat = valued_catalog(spark, tmp_path, ["a", "b"])
    with pytest.raises(BuzzPlanError, match="partition_filter"):
        cat.pruned_files(spark, partition_filter)


def test_manifest_empty_prune_has_full_schema_and_no_rows(spark, tmp_path):
    cat = valued_catalog(spark, tmp_path, ["a", "b"])
    pf = "part_key_1 = 'no_such_value'"
    out = cat.to_dataframe(spark, pf)
    assert out.select("*").schema == cat.full_schema()
    assert out.collect() == []
    assert _duckdb_keys(cat.files, ["part_key_1"], pf) == set()


def test_manifest_10k_rows_prune_like_python(spark):
    from buzz_rust_spark.sources.manifest import prune_manifest

    files = [
        CatalogFile(
            key=f"/data/f{i:05d}.parquet",
            length=i,
            partitions=(
                ("year", str(2000 + i % 25)),
                ("month", None if i % 97 == 0 else f"{1 + i % 12:02d}"),
            ),
        )
        for i in range(10_000)
    ]
    pf = "(year = '2010' AND month IN ('01', '05')) OR month IS NULL OR year > '2023'"

    def keep(f):
        y, m = f.partition_value("year"), f.partition_value("month")
        return (y == "2010" and m in ("01", "05")) or m is None or y > "2023"

    got = [f.key for f in prune_manifest(spark, files, ["year", "month"], pf, "cat")]
    want = [f.key for f in files if keep(f)]
    assert 0 < len(want) < len(files)
    assert got == want
    assert set(got) == _duckdb_keys(files, ["year", "month"], pf)


# -- planning launches no Spark job -----------------------------------------


def _jobs_launched(spark, fn):
    """Run ``fn`` under a job group of its own; return its result and the
    number of Spark jobs it launched (read through ``statusTracker``)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_planning_launches_no_spark_job(spark, tmp_path):
    cat = mock_split_catalog(spark, tmp_path, n_files=40)
    assert len(cat.files) > cat.union_max_groups  # no filter → join attach
    engine = BuzzEngine(spark, strict=True)
    engine.register_source(cat)
    grouped = (
        "SELECT data_col % 2 AS odd, COUNT(data_col) AS n FROM map_step GROUP BY 1"
    )

    def plan(pf, hcomb=COUNT_SUM):
        return _jobs_launched(spark, lambda: engine.run(zones_query(1, hcomb, pf)))

    filtered, jobs = plan("part_key_1 <= 'part_value_005'")
    assert jobs == 0
    full, jobs = plan(None)
    assert jobs == 0
    empty, jobs = plan("part_key_1 = 'no_such_value'", grouped)
    assert jobs == 0

    rows, jobs = _jobs_launched(spark, lambda: engine.execute(empty))
    assert rows == [] and jobs == 0
    # the counter does see jobs: executing a non-empty query launches some
    rows, jobs = _jobs_launched(spark, lambda: engine.execute(filtered))
    want = sum(10 * i + j for i in range(1, 6) for j in range(3))
    assert [(r["n"], r["s"]) for r in rows] == [(15, want)]
    assert jobs >= 1
    assert engine.execute(full)[0]["n"] == 3 * 40

    before = sorted(t.name for t in spark.catalog.listTables())
    cat.to_dataframe(spark, "part_key_1 = 'part_value_001'")
    assert sorted(t.name for t in spark.catalog.listTables()) == before


def test_driver_listing_only_for_local_static_catalogs(spark, tmp_path):
    from dataclasses import replace

    from buzz_rust_spark.engine import _local_static_only
    from buzz_rust_spark.sources import ParquetDirCatalog

    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    cat = mock_split_catalog(spark, tmp_path, n_files=2)
    assert _local_static_only([cat])
    rel = [replace(f, key=os.path.basename(f.key)) for f in cat.files]
    assert _local_static_only(
        [replace(cat, files=rel, bucket=str(tmp_path), scheme="file")]
    )
    # object-store and directory catalogs keep Spark's parallel listing
    assert not _local_static_only([replace(cat, bucket="bucket")])
    assert not _local_static_only(
        [cat, ParquetDirCatalog(name="d", path=str(tmp_path))]
    )

    engine = BuzzEngine(spark, strict=True)
    engine.register_source(cat)
    default = spark.conf.get(threshold)
    out = engine.run(zones_query(1, COUNT_SUM, None))
    assert out.sparkSession.conf.get(threshold) == str(2**31 - 1)
    assert spark.conf.get(threshold) == default
