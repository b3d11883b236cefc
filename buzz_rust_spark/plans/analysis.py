"""Logical-plan introspection: which tables does a SQL statement read?

Reference parity: ``find_table_name`` walks the plan to its leaf TableScan
(code/src/services/utils.rs:8-45) and the planner validates that the reduce
step reads exactly the map step's output by name (query_planner.rs:96-109).
Here the walk runs on Spark's *parsed* (unresolved) plan, so validation can
happen before any view is registered.  The plan crosses the JVM gateway once,
as the JSON of ``parsePlan(sql).toJSON()``, and is walked in Python: every
``UnresolvedRelation`` is a table read, including those inside subquery
expressions and CTE bodies, and the names a ``WITH`` clause defines
(``UnresolvedWith.cteRelations``) are statement-local, not tables.
"""

from __future__ import annotations

import json

from pyspark.errors import ParseException
from pyspark.sql import SparkSession

from ..errors import BuzzPlanError


def _walk(node, relations: set[str], ctes: set[str]) -> None:
    if isinstance(node, list):
        for item in node:
            _walk(item, relations, ctes)
        return
    if not isinstance(node, dict):
        return
    cls = node.get("class", "")
    if cls.endswith(".UnresolvedRelation"):
        # multipartIdentifier is rendered as "[cat, db, tbl]"
        parts = node["multipartIdentifier"].strip("[]").split(", ")
        relations.add(".".join(parts).lower())
    elif cls.endswith(".UnresolvedWith"):
        ctes.update(rel["_1"].lower() for rel in node["cteRelations"])
    for value in node.values():
        _walk(value, relations, ctes)


def referenced_tables(spark: SparkSession, sql: str) -> set[str]:
    """Return the set of (lower-cased, dotted) table names the statement
    reads.  CTE names defined in the statement itself are excluded.  A
    statement Spark's parser rejects raises :class:`BuzzPlanError`."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        plan = parser.parsePlan(sql).toJSON()
    except ParseException as exc:
        raise BuzzPlanError(f"invalid SQL: {exc}") from exc
    relations: set[str] = set()
    ctes: set[str] = set()
    _walk(json.loads(plan), relations, ctes)
    return relations - ctes
