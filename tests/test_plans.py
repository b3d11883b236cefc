"""Physical-plan regression gate: the headline queries must keep their
scale-critical plan shapes (no cartesian products, no accidental nested-loop
joins, no Python eval nodes outside the documented pandas-UDF operators)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from explain_audit import (  # noqa: E402
    BNLJ_OK,
    PANDAS_UDF_OK,
    SMJ_OK,
    audit,
    formatted_plan,
)

from buzz_rust_spark.queries import all_queries  # noqa: E402


def headline_names():
    return [n for n, q in sorted(all_queries().items()) if q.headline]


@pytest.mark.parametrize("name", headline_names())
def test_headline_plan_shape(spark, sf_dir, name):
    q = all_queries()[name]
    plan = formatted_plan(q.fn(spark, sf_dir))
    warnings = audit(name, plan)
    assert not warnings, f"{name}: {warnings}\n{plan[:2000]}"
    # pushdown sanity: parquet scans must not read every column unless the
    # query genuinely needs them (ReadSchema appears for every scan)
    assert "Scan parquet" in plan or name.startswith("m0")


def cheap_nonheadline_names():
    """The SQL-surface and text/event queries whose plan builds are pure
    (no sampling/fitting/checkpointing during construction) — the dedup/ANN
    operators that execute work while building are covered by the headline
    gate and tools/explain_audit.py."""
    heavy_prefixes = ("d0", "s0", "m0", "p0")
    return [
        n
        for n, q in sorted(all_queries().items())
        if not q.headline and not n.startswith(heavy_prefixes)
    ]


@pytest.mark.parametrize("name", cheap_nonheadline_names())
def test_sql_surface_plan_shape(spark, sf_dir, name):
    """Every oracle'd SQL-surface query keeps a scale-safe plan: no cartesian
    products, no unintended nested-loop joins, no Python nodes outside the
    documented pandas-UDF entries, and a SortMergeJoin-free shape (all dims
    broadcast at these sizes)."""
    q = all_queries()[name]
    plan = formatted_plan(q.fn(spark, sf_dir))
    warnings = audit(name, plan)
    assert not warnings, f"{name}: {warnings}\n{plan[:2000]}"
    if name.startswith("q") and name not in SMJ_OK:
        assert "SortMergeJoin" not in plan, f"{name}: missed broadcast\n{plan[:2000]}"


def test_corpus_prep_plan_shapes(spark, sf_dir):
    """New corpus-prep operators keep scale-safe shapes: the PII scrub and
    hash sampling are pure narrow plans (no Exchange at all), and the
    contamination join broadcasts the benchmark side (never shuffles the
    corpus by n-gram)."""
    from buzz_rust_spark.operators.sampling import hash_split, stratified_sample
    from buzz_rust_spark.operators.text import contamination_flags, redact_pii
    from buzz_rust_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents")

    for name, df in [
        ("redact_pii", redact_pii(docs)),
        ("hash_split", hash_split(docs, {"train": 9, "val": 1}, key_cols=["doc_id"])),
        (
            "stratified_sample",
            stratified_sample(
                docs.withColumn("lang", F.lit("en")), "lang", {"en": 0.5}
            ),
        ),
    ]:
        plan = formatted_plan(df)
        assert "Exchange" not in plan, f"{name} must stay narrow:\n{plan[:1500]}"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = formatted_plan(
        contamination_flags(docs, docs.limit(5).select("doc_id", "text"), n=5)
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_packing_mixing_pq_plan_shapes(spark, sf_dir):
    """Round-2 training-pipeline additions keep scale-safe shapes: packing
    shuffles exactly once (on the hash-partitioned packing group), corpus
    mixing stays a narrow union of pushable hash filters, and PQ search never
    shuffles the corpus — only the per-batch top-k survivors reach the rank
    exchange."""
    from buzz_rust_spark.operators.packing import pack_sequences
    from buzz_rust_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )
    from buzz_rust_spark.operators.sampling import mix_corpora
    from buzz_rust_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")

    import re

    def n_exchanges(plan: str) -> int:
        # formatted plans repeat node names in the detail section; count tree
        # detail headers only
        return len(re.findall(r"\(\d+\) Exchange", plan))

    # packing: exactly one Exchange (the groupBy on the content-derived group)
    plan = formatted_plan(pack_sequences(docs, 500, tokens_col="n_chars"))
    assert n_exchanges(plan) == 1, plan[:1500]
    assert "hashpartitioning(_grp" in plan, plan[:1500]

    # mixing: pure narrow plan — hash filters + union, no Exchange anywhere
    mixed = mix_corpora(
        {"a": docs, "b": docs},
        weights={"a": 3.0, "b": 1.0},
        token_budget=10_000,
        tokens_col="n_chars",
        key_cols=["doc_id"],
    )
    plan = formatted_plan(mixed)
    assert "Exchange" not in plan, plan[:1500]
    assert "Union" in plan

    emb = load(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, dim=64, m=8, k=16, sample_size=256)
    codes = pq_encode(emb, books)
    plan = formatted_plan(pq_topk(codes, emb.limit(3), books, k=5))
    # the only exchange is the final rank shuffle over shortlist rows
    assert n_exchanges(plan) <= 2, plan[:2000]
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_simhash_pairs_single_python_kernel(spark, sf_dir):
    """z01's plan must contain exactly ONE ArrowEvalPython subtree (the
    SimHash pandas-UDF kernel) with its output persisted, and generate pairs
    from posting-list buckets — not a two-sided self-join that re-runs the
    Python kernel once per side (r4 VERDICT #3)."""
    import re

    from buzz_rust_spark.functions.cache import release_operator_caches
    from buzz_rust_spark.operators.dedup import simhash_pairs
    from buzz_rust_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plan = formatted_plan(simhash_pairs(docs))
    kernels = re.findall(r"\(\d+\) ArrowEvalPython", plan)
    assert len(kernels) == 1, f"expected 1 Python kernel, got {len(kernels)}:\n{plan[:2000]}"
    # the kernel's output is cached — every reader goes through the persist
    assert "InMemoryTableScan" in plan, plan[:2000]
    # posting-list shape: no join between two Python-fed sides
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    release_operator_caches()


@pytest.mark.parametrize(
    "sql, expected",
    [
        pytest.param(
            "WITH a AS (SELECT 1), b AS (SELECT 2) SELECT * FROM a JOIN b JOIN ev",
            {"ev"},
            id="multi_cte",
        ),
        pytest.param(
            "SELECT extract(year FROM ts) FROM events WHERE note = 'from backup'",
            {"events"},
            id="literal_and_extract_from",
        ),
        pytest.param(
            "SELECT * FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer)",
            {"orders", "customer"},
            id="in_subquery",
        ),
        pytest.param(
            "SELECT * FROM orders o WHERE EXISTS "
            "(SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)",
            {"orders", "lineitem"},
            id="exists_subquery",
        ),
        pytest.param(
            "WITH m AS (SELECT * FROM lineitem) SELECT COUNT(*) FROM m",
            {"lineitem"},
            id="cte_reads_catalog",
        ),
        pytest.param("SELECT * FROM Cat.DB.Tbl", {"cat.db.tbl"}, id="multipart_name"),
        pytest.param("SELEC * FRM lineitem", None, id="syntax_error"),
    ],
)
def test_multi_cte_and_literal_from_not_reported(spark, sql, expected):
    """Tables come from the parsed plan: CTE names are statement-local, a
    FROM inside a literal or EXTRACT is no table, subqueries and CTE bodies
    count, multi-part names are dotted, and a syntax error is a plan error."""
    from buzz_rust_spark.errors import BuzzPlanError
    from buzz_rust_spark.plans.analysis import referenced_tables

    if expected is None:
        with pytest.raises(BuzzPlanError, match="invalid SQL"):
            referenced_tables(spark, sql)
    else:
        assert referenced_tables(spark, sql) == expected
