"""Shared path/URI normalization for file-identity joins.

Several plans join rows back to the catalog entry of the file they came
from — the partition-manifest join of ``manifest.attach_partitions``
(``input_file_name()``, projected directly on its scan), the callers of its
join half that key an existing scan on ``_metadata.file_path`` (Delta
changelog and ``add_files_delta`` constraint checks), and the
deletion-vector anti-joins (``_metadata.file_path``).  Both sides
MUST normalize identically or the join silently misses (for DVs that means
deleted rows resurrect with no error), so the scheme-strip regex and the
percent-decode live here and nowhere else.

Scan-side columns are percent-encoded URIs (``file:/a%20b`` for ``/a b``);
catalog keys are raw paths/URIs.  So the COLUMN normalizer strips the
scheme then url-decodes (with a raw fallback for a literal ``%`` that is
not an escape), while the STRING normalizer only strips the scheme."""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# "scheme:" with optional "//" — matches file:, file://, s3a://, hdfs://...
SCHEME_RE = r"^[a-z0-9]+:(//)?"


def strip_scheme(col: Column) -> Column:
    """Scheme-stripped path column (no percent-decode — for raw keys)."""
    return F.regexp_replace(col, SCHEME_RE, "")


def normalized_path_col(col: Column) -> Column:
    """Scan-side file-path column → scheme-stripped, url-decoded path that
    equals :func:`normalized_key` of the catalog key for the same file."""
    stripped = strip_scheme(col)
    return F.coalesce(F.try_url_decode(stripped), stripped)


def normalized_key(key: str) -> str:
    """Catalog-key (python string) side of the same join."""
    return re.sub(SCHEME_RE, "", key)
