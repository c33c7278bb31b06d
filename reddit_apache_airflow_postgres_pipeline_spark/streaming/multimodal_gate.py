"""Unified MULTIMODAL admission gate: one stream of documents that
carry BOTH a text body and a media payload, admitted atomically against
both modalities' accepted history.

Running the text gate and the media gate as separate drains on the same
feed is NOT the same policy: a doc rejected as a media near-dup would
still enter the text gate's accepted state (and vice versa), so later
arrivals would be blocked by items the unified corpus never admitted.
This gate evaluates both modalities' blockers against the SAME batch
and rejects iff EITHER fires — an image-dup of an accepted item must
not re-enter because its caption was rewritten, and a text-dup must not
re-enter behind a re-encoded payload.

It is the shared core (streaming/gate_core.py) over two formats at
once: ``verified-dedup-gate/v1`` on ``text_state_dir`` and
``media-gate/v1`` on ``media_state_dir``. Each store keeps its own
stamped format, so the estate catalog, compactors and geometry guards
apply to each unchanged; the unification is the admission decision,
not a new state format. Batch replay oracle-paired as
plans/registry_mm.q_multimodal_gate_replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.streaming import gate_core as _gc
from reddit_apache_airflow_postgres_pipeline_spark.streaming.gate_core import (
    _COMPACT_AFTER_DIRS,
)


def gate_multimodal_batch_attributed(
    batch_df: DataFrame,
    text_state_sigs: DataFrame,
    media_state_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    bits: int = 60,
    max_hamming: int = 5,
    tsig: DataFrame | None = None,
    msig: DataFrame | None = None,
    checkpoint_blockers: bool = False,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Apply the unified admission policy to one (batch, states) pair:
    a doc is rejected iff its TEXT has a verified MinHash blocker
    (estimate ≥ ``threshold`` against the accepted text signatures, or
    a smaller id in its own batch) OR its MEDIA payload has an aHash
    blocker (≤ ``max_hamming`` bits, same directions). Admission is
    atomic: a doc rejected by either modality enters NEITHER state.

    Returns (accepted_rows, accepted_text_sigs, accepted_media_sigs,
    decisions, blockers); ``blockers`` is (doc, odoc, modality, score)
    — modality 'text' carries the MinHash estimate, 'media' the Hamming
    distance as double — the unified attribution relation the drain
    persists. ``tsig``/``msig`` optionally supply precomputed signature
    relations (the family's replay contract); ``broadcast_batch`` flips
    BOTH modalities' cross-state probes for the big-state regime."""
    text = dict(n=n, num_hashes=num_hashes, bands=bands, threshold=threshold)
    media = dict(bits=bits, max_hamming=max_hamming)
    acc, (tsigs, msigs), dec, blk = _gc.gate_attributed(
        batch_df,
        [
            (_gc.VERIFIED, text, text_state_sigs, tsig, None),
            (_gc.MEDIA, media, media_state_sigs, msig, None),
        ],
        id_col, text_col, checkpoint_blockers=checkpoint_blockers,
        broadcast_batch=broadcast_batch,
    )
    return acc, tsigs, msigs, dec, blk


def gate_multimodal_batch(
    batch_df: DataFrame,
    text_state_sigs: DataFrame,
    media_state_sigs: DataFrame,
    **kwargs,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """:func:`gate_multimodal_batch_attributed` without the blocker
    relation: (accepted_rows, accepted_text_sigs, accepted_media_sigs,
    decisions)."""
    acc, ts, ms, dec, _ = gate_multimodal_batch_attributed(
        batch_df, text_state_sigs, media_state_sigs, **kwargs
    )
    return acc, ts, ms, dec


def run_multimodal_gate_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    text_state_dir: str,
    media_state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    bits: int = 60,
    max_hamming: int = 5,
    compact_after_dirs: int = _COMPACT_AFTER_DIRS,
    decisions_dir: str | None = None,
    dup_of_dir: str | None = None,
    broadcast_batch: bool = False,
) -> None:
    """Drain ``input_dir`` (parquet files of multimodal document rows:
    id + text + kind/payload/meta) through the unified gate with an
    availableNow trigger — gate_core.run_gate_drain over the text and
    media stores, each under its own stamped format.
    ``decisions_dir`` / ``dup_of_dir`` arm the family's monitoring
    logs; the attribution rows carry the ``modality`` column so "what
    blocked my doc" distinguishes a text dup from a media dup."""
    text = dict(n=n, num_hashes=num_hashes, bands=bands, threshold=threshold)
    media = dict(bits=bits, max_hamming=max_hamming)
    _gc.run_gate_drain(
        spark, input_dir, schema, out_dir, checkpoint_dir,
        [(_gc.VERIFIED, text, text_state_dir), (_gc.MEDIA, media, media_state_dir)],
        id_col, text_col, compact_after_dirs,
        decisions_dir=decisions_dir, dup_of_dir=dup_of_dir,
        broadcast_batch=broadcast_batch,
    )
