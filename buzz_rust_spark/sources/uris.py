"""Shared path/URI normalization for file-identity joins.

Several plans join rows back to the catalog entry of the file they came
from.  Two conventions, each defined here and nowhere else:

- **Raw key.** The partition-manifest join of ``manifest.join_partitions``
  (every ``attach_partitions`` join, the Delta changelog scans and the
  ``add_files_delta`` constraint check) keys on the raw
  ``_metadata.file_path`` column, selected on each scan.  Its manifest is
  keyed by the scan's own ``inputFiles()`` in the same form
  (:func:`scan_path`), and each listed file finds its catalog entry on the
  driver (:func:`listed_key`), so no row pays for a decode and the key stays
  deterministic.
- **Normalized key.** The deletion-vector and Iceberg position-delete joins
  key on :func:`normalized_path_col` of ``_metadata.file_path``, matched
  against :func:`normalized_key` of a catalog path.  Both sides MUST
  normalize identically or the join silently misses (for DVs that means
  deleted rows resurrect with no error).

Scan-side paths are percent-encoded URIs (``file:/a%20b`` for ``/a b``; a
``+`` stays literal); catalog keys are raw paths/URIs.  So the scan-side
normalizers strip the scheme then percent-decode, while
:func:`normalized_key` only strips the scheme."""

from __future__ import annotations

import re
from urllib.parse import unquote

from pyspark.sql import Column
from pyspark.sql import functions as F

# "scheme:" with optional "//" — matches file:, file://, s3a://, hdfs://...
SCHEME_RE = r"^[a-z0-9]+:(//)?"


def normalized_path_col(col: Column) -> Column:
    """Scan-side file-path column → scheme-stripped, url-decoded path that
    equals :func:`normalized_key` of the catalog key for the same file."""
    stripped = F.regexp_replace(col, SCHEME_RE, "")
    # url_decode is Java's URLDecoder, which reads '+' as a space; in a
    # path URI '+' is a literal, so it is escaped before decoding
    decoded = F.try_url_decode(F.replace(stripped, F.lit("+"), F.lit("%2B")))
    return F.coalesce(decoded, stripped)


def normalized_key(key: str) -> str:
    """Catalog-key (python string) side of the same join."""
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
