"""File identity for joins of rows back to their catalog entries.

Several plans join rows back to the catalog entry of the file they came
from: partition attach (``manifest.join_partitions``), deletion-vector
anti-joins, MERGE/DELETE/UPDATE file attribution, Iceberg position- and
equality-delete joins.  Each keys on ONE per-row column: the raw
``_metadata.file_path`` of the bare scan (``__rawpath``), which needs no
per-row work and is deterministic, so filters above the join still reach
the file source.

The other side of each join is built on the driver from the scan's own
listing (:func:`scanned_files`): every listed file is put in
``_metadata.file_path`` form (:func:`scan_path`) and matched to its catalog
key by :func:`listed_key` against :func:`normalized_key`.  A listed URI is
percent-encoded (``file:/a%20b`` for ``/a b``; a ``+`` stays literal); a
catalog key is a raw path or URI, so catalog keys are normalized only
here, once per file, never per row."""

from __future__ import annotations

import re
from urllib.parse import unquote

from pyspark.sql import DataFrame

from ..errors import BuzzPlanError

# "scheme:" with optional "//" — matches file:, file://, s3a://, hdfs://...
SCHEME_RE = r"^[a-z0-9]+:(//)?"

MISS = "catalog join-attach matched no manifest key for scanned file "


def normalized_key(key: str) -> str:
    """A catalog key with its scheme stripped."""
    return re.sub(SCHEME_RE, "", key)


def scan_path(uri: str) -> str:
    """A file URI as ``DataFrame.inputFiles()`` lists it, in the form of
    the ``_metadata.file_path`` column for the same file: an empty
    authority is dropped (``file:///p`` becomes ``file:/p``)."""
    return re.sub(r"^([a-zA-Z][a-zA-Z0-9+.-]*):///", r"\1:/", uri)


def listed_key(uri: str) -> str:
    """A listed file URI → :func:`normalized_key` of its catalog key
    (scheme stripped, percent-escapes decoded; ``+`` stays literal)."""
    return unquote(normalized_key(uri))


def input_files(df: DataFrame) -> list[str]:
    """``df.inputFiles()`` in one JVM round trip: py4j fetches a Java
    array one element per call, so the array is joined JVM-side.  (A Java
    ``String[]`` passes to a non-generic, non-varargs method only.)"""
    joined = df.sparkSession._jvm.org.apache.hadoop.util.StringUtils.join(
        "\0", df._jdf.inputFiles()
    )
    return joined.split("\0") if joined else []


class ScanKeys(dict):
    """Raw scan key → catalog value; a key the scan did not list is a
    :class:`BuzzPlanError` naming the file, never a ``KeyError``."""

    def __missing__(self, raw: str):
        raise BuzzPlanError(f"{MISS}{raw}")


def scanned_files(df: DataFrame, entries: dict) -> ScanKeys:
    """Every file ``df`` scans, keyed by its ``_metadata.file_path`` value
    (:func:`scan_path`), → the value of its catalog key in ``entries``.
    A scanned file with no catalog key is a :class:`BuzzPlanError`."""
    by_key = {normalized_key(k): v for k, v in entries.items()}
    out = ScanKeys()
    for uri in input_files(df):
        key = listed_key(uri)
        if key not in by_key:
            raise BuzzPlanError(f"{MISS}{uri}")
        out[scan_path(uri)] = by_key[key]
    return out
