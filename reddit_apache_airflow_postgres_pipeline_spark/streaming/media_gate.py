"""Streaming MEDIA near-duplicate admission gate: aHash pigeonhole
banding of a binary-payload stream against the already-accepted corpus.

A binding of the gate family's shared core (streaming/gate_core.py,
format ``media-gate/v1``), which defines the family contract — the
pessimistic first-wins rule, blocker attribution, retry exclusion,
exactly-once drain layout, compaction and the bucketed/hybrid state
layout. What is media-specific:

- the signer: each payload is aHashed (operators/multimodal.
  ahash_signatures — the first ``bits`` decoded samples
  mean-thresholded into one packed long, through the Arrow-batched
  codec stage), keyed by ``id_col``;
- candidates: pigeonhole bands (neardup.signature_band_keys: distance
  ≤ d ⇒ one of d+1 bands equal — LOSSLESS, so the relational replay's
  direct quadratic filter defines the identical pair set);
- verification: one ``bit_count(xor)`` ≤ ``max_hamming`` on packed
  longs — never a payload comparison;
- the quality floor: payload size (``min_bytes``);
- state is one long per accepted item (~8 bytes/item at 100 TB of
  media), which is what makes dedup against ALL history feasible.

Batch replay oracle-paired as plans/registry_mm.q_media_gate_replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.streaming import gate_core as _gc
from reddit_apache_airflow_postgres_pipeline_spark.streaming.gate_core import (  # noqa: F401 — re-exported
    _COMPACT_AFTER_DIRS,
    _SIG_SCHEMA,
)


def _load_media_state(
    spark: SparkSession, state_dir: str, before_batch: int | None = None
) -> DataFrame:
    """Read the accepted-signature store (gate_core.load_state, with the
    family's retry exclusion)."""
    return _gc.load_state(spark, state_dir, _gc.MEDIA, {}, before_batch)


def _ham_blockers(
    keys: DataFrame,
    sig: DataFrame,
    other_keys: DataFrame,
    other_sig: DataFrame,
    max_hamming: int,
    ordered: bool,
    broadcast_batch: bool = False,
) -> DataFrame:
    """(doc, odoc, dist): every within-distance blocking pair —
    gate_core.pair_blockers on aHash signatures (banded buckets
    propose, ``bit_count(xor)`` ≤ max_hamming disposes), so rejection
    attribution is a relation, not a re-derivation."""
    return _gc.pair_blockers(
        _gc.MEDIA, {"max_hamming": max_hamming}, keys, sig, other_keys,
        other_sig, ordered, broadcast_batch,
    )


def gate_media_batch(
    batch_df: DataFrame,
    state_sigs: DataFrame,
    id_col: str = "media_id",
    bits: int = 60,
    max_hamming: int = 5,
    sig: DataFrame | None = None,
    min_bytes: int | None = None,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Apply the media admission policy to one (batch, state) pair:
    rejected iff a banded candidate — from the accepted store, or a
    smaller id in its own batch (admitted or not) — is within
    ``max_hamming`` bits of the item's aHash.

    Returns (accepted_rows, accepted_sigs, decisions). ``sig``
    optionally supplies the batch's precomputed (doc, sig) relation
    (the replay contract shared with the text kernels). Every media row
    has a signature (zero-length payloads hash to sig 0 and therefore
    dedup against each other — the first empty payload wins, the rest
    are rejected as its duplicates). ``min_bytes`` is the media quality
    floor: a below-floor item is dropped BEFORE signatures exist,
    claims no buckets, and a later full-size near-copy can still be
    admitted. ``broadcast_batch`` flips the cross-state probes for the
    big-state regime; identical admissions by construction."""
    acc, sigs, dec, _ = gate_media_batch_attributed(
        batch_df, state_sigs, id_col, bits, max_hamming, sig=sig,
        min_bytes=min_bytes, broadcast_batch=broadcast_batch,
    )
    return acc, sigs, dec


def gate_media_batch_attributed(
    batch_df: DataFrame,
    state_sigs: DataFrame,
    id_col: str = "media_id",
    bits: int = 60,
    max_hamming: int = 5,
    sig: DataFrame | None = None,
    checkpoint_blockers: bool = False,
    min_bytes: int | None = None,
    state_keys: DataFrame | None = None,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """:func:`gate_media_batch` plus the BLOCKER relation (doc, odoc,
    dist): every within-distance pair eligible to reject ``doc``, so
    "which accepted item is my upload a duplicate of" is persisted by
    the drain and readable without a replay. ``checkpoint_blockers``
    and ``state_keys`` (e.g. :func:`bucket_media_state`'s bucketed
    table; must equal ``signature_band_keys(state_sigs, bits,
    max_hamming)``) follow gate_core.gate_attributed."""
    geometry = dict(bits=bits, max_hamming=max_hamming)
    acc, (sigs,), dec, blk = _gc.gate_attributed(
        batch_df, [(_gc.MEDIA, geometry, state_sigs, sig, state_keys)], id_col,
        floor=_gc.MEDIA.floor_on(min_bytes),
        checkpoint_blockers=checkpoint_blockers, broadcast_batch=broadcast_batch,
    )
    return acc, sigs, dec, blk


def run_media_gate_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    bits: int = 60,
    max_hamming: int = 5,
    compact_after_dirs: int = _COMPACT_AFTER_DIRS,
    decisions_dir: str | None = None,
    dup_of_dir: str | None = None,
    min_bytes: int | None = None,
    bucketed: dict | None = None,
    broadcast_batch: bool = False,
) -> None:
    """Drain ``input_dir`` (parquet files of media rows) through the
    media gate with an availableNow trigger — gate_core.run_gate_drain:
    accepted rows under ``out_dir/batch_id=<i>``, signatures under
    ``state_dir/batch_id=<i>``, geometry (bits, max_hamming) stamped on
    first run and verified on every later one. ``decisions_dir`` /
    ``dup_of_dir`` arm the (doc, admitted) and (doc, odoc, dist) logs;
    ``bucketed`` — ``{"table_prefix", "path", "num_buckets"}`` — arms
    the hybrid bucketed + flat-tail state layout."""
    _gc.run_gate_drain(
        spark, input_dir, schema, out_dir, checkpoint_dir,
        [(_gc.MEDIA, dict(bits=bits, max_hamming=max_hamming), state_dir)],
        id_col, compact_after_dirs=compact_after_dirs,
        floor=_gc.MEDIA.floor_on(min_bytes),
        decisions_dir=decisions_dir, dup_of_dir=dup_of_dir,
        bucketed=bucketed, broadcast_batch=broadcast_batch,
    )


def compact_media_state(
    spark: SparkSession,
    state_dir: str,
    exclude_from: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """Fold the media gate's (doc, sig) store on ``doc``
    (gate_core.compact_store)."""
    _gc.compact_store(
        spark, state_dir, _gc.MEDIA, {}, exclude_from, num_partitions
    )


def bucket_media_state(
    spark: SparkSession,
    state_dir: str,
    bits: int,
    max_hamming: int,
    table_prefix: str,
    path: str,
    num_buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Materialize the media gate's CURRENT state as the two bucketed
    tables (``<prefix>_keys`` on bk, ``<prefix>_sigs`` on doc); pass
    them to :func:`gate_media_batch_attributed` as (state_keys,
    state_sigs). Returns (keys_table, sigs_table)."""
    return _gc.bucket_store(
        spark, _load_media_state(spark, state_dir), _gc.MEDIA,
        dict(bits=bits, max_hamming=max_hamming), table_prefix, path, num_buckets,
    )


def _load_media_state_hybrid(
    spark: SparkSession,
    state_dir: str,
    bits: int,
    max_hamming: int,
    table_prefix: str,
    path: str,
    before_batch: int | None,
) -> tuple[DataFrame, DataFrame | None]:
    """(state_sigs, state_keys) for one media gate batch —
    gate_core.load_store_hybrid."""
    return _gc.load_store_hybrid(
        spark, state_dir, _gc.MEDIA, dict(bits=bits, max_hamming=max_hamming),
        table_prefix, path, before_batch,
    )
