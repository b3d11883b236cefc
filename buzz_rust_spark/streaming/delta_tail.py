"""Incremental tail of a Delta table — version-cursor parity with
:mod:`.iceberg_tail`.

The consumer loop is identical in shape: poll the net-new rows past a
cursor, clean/gate them, dedup against the shared Bloom state, and
commit exactly-once — only the cursor changes meaning (Delta commit
VERSION instead of Iceberg snapshot id, already monotonic so it doubles
as the SetTransaction version directly).

- :func:`delta_changes_poll` — one poll: (net-new rows since the
  cursor, new cursor, to_version).  ``cursor=None`` bootstraps with the
  full current snapshot.
- :func:`corpus_prep_tail_delta` — one full incremental corpus-prep
  pass over a DELTA source; same crash matrix as
  :func:`~.iceberg_tail.corpus_prep_tail` (the shared
  :func:`~.bloom_ingest.dedup_commit_batch` protocol provides it).

Scale: each poll replays the log on the driver from the newest
checkpoint at or below the window's end (the checkpoint plus the JSON
commits after it), so a log that ``cleanup_delta_log`` trimmed below a
cursor keeps serving it; the data read is a distributed scan of exactly
the new files.  A 100 TB source table is never rescanned.

Windows containing content REMOVALS (overwrite/delete/merge) raise the
typed error from :func:`~..sources.delta_catalog.read_delta_changes` —
for CDC sources consume :func:`~..sources.delta_catalog.
read_delta_changelog` instead and handle retractions downstream; this
tail is the append-history fast path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.classifier import TextClassifierModel, classifier_weights_df
from ..operators.corpus import CorpusPrepConfig
from ..sources.delta_catalog import (
    DeltaCatalog,
    _commit_versions,
    read_delta_changes,
)
from ..sources.logstore import LogStore
from .bloom_ingest import DEFAULT_NUM_BITS, DEFAULT_NUM_HASHES, dedup_commit_batch
from .corpus_ingest import _clean_batch


def delta_changes_poll(
    spark: SparkSession,
    source_uri: str,
    cursor: int | None,
    region: str | None = None,
) -> tuple[DataFrame | None, int | None, int]:
    """One incremental poll: ``(rows, new_cursor, to_version)``.

    ``rows`` is None when the table does not exist yet or has no commit
    newer than the cursor (keep the old cursor).  With ``cursor=None``
    the FULL current snapshot is returned (bootstrap), tagged with the
    resolved version in ``_commit_version`` for shape parity with the
    incremental path."""
    from pyspark.sql import functions as F

    store = LogStore(source_uri, region=region)
    if not store.isdir("_delta_log"):
        return None, cursor, -1
    if cursor is None:
        # bootstrap: the one path that genuinely needs the full snapshot —
        # and the cursor must come from the CATALOG's resolved version
        # (a commit landing between a listing and the construction would
        # otherwise be re-read by the next poll as a duplicate)
        cat = DeltaCatalog("_tail", source_uri, region=region)
        cur_v = cat.resolved_version
        df = cat.to_dataframe(spark).withColumn(
            "_commit_version", F.lit(int(cur_v)).cast("long")
        )
        return df, cur_v, cur_v
    # incremental/no-op polls take the latest version from the commit
    # LISTING alone — never the full log replay a DeltaCatalog
    # construction performs (O(history) live-state build, discarded)
    versions = _commit_versions(store)
    if not versions:
        return None, cursor, -1
    cur_v = versions[-1][0]
    if int(cursor) >= cur_v:
        return None, cursor, cur_v
    df = read_delta_changes(spark, source_uri, int(cursor), cur_v, region=region)
    return df, cur_v, cur_v


def corpus_prep_tail_delta(
    spark: SparkSession,
    source_uri: str,
    table_uri: str,
    state_dir: str,
    app_id: str,
    cursor: int | None = None,
    config: CorpusPrepConfig | None = None,
    model: TextClassifierModel | None = None,
    classifier_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    table_format: str = "delta",
) -> dict:
    """One incremental corpus-prep pass over a DELTA source table.

    Returns ``{"cursor": <new cursor>, "polled": bool}`` — the caller
    persists the cursor and loops.  The source commit VERSION is the
    SetTransaction version, so a re-poll of a window whose commit
    already landed (crash between commit and cursor persistence) is a
    no-op on the output table AND heals the dedup state through the
    shared skipped-write guard."""
    rows, new_cursor, to_version = delta_changes_poll(
        spark, source_uri, cursor, region=None
    )
    if rows is None:
        return {"cursor": new_cursor, "polled": False}
    cfg = config or CorpusPrepConfig()
    if cfg.scrub_span is not None:
        from ..errors import BuzzBadRequestError

        raise BuzzBadRequestError(
            "scrub_span is a cross-document batch stage; run it as a "
            "post-pass, not inside the incremental tail"
        )
    wdf = classifier_weights_df(spark, model) if model is not None else None
    cleaned = _clean_batch(
        rows.drop("_commit_version"), cfg, text_col, id_col, model,
        classifier_threshold, wdf,
    )
    dedup_commit_batch(
        cleaned, to_version, table_uri, state_dir, app_id,
        text_col=text_col, id_col=id_col,
        num_bits=num_bits, num_hashes=num_hashes,
        table_format=table_format,
    )
    return {"cursor": new_cursor, "polled": True}
