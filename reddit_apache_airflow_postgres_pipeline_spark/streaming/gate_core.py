"""The admission-gate family's one core: what a stamped gate state
format is, and the single copy of the state loader, blocker join,
attributed kernel, availableNow drain, compactor and bucketed layout
that the signature gates (verified text, media, multimodal) bind.

**Formats.** A gate state store carries a ``_meta.json`` whose
``format`` names one :class:`GateFormat` record in :data:`FORMATS`:

- ``dedup-gate/v1`` — the raw bucket gate's (doc, bk) band keys
  (streaming/dedup_gate.gate_batch), probed and folded on ``bk``;
- ``verified-dedup-gate/v1`` — full MinHash signatures
  (doc, mh_0..mh_{k-1}); a banded candidate is verified by its
  matching-position estimate ≥ ``threshold``;
- ``media-gate/v1`` — packed aHash signatures (doc, sig); a banded
  candidate is verified by ``bit_count(xor)`` ≤ ``max_hamming``.

A record holds the state schema (derived from the stamped geometry
``p``, the meta minus ``format``), the probe/fold key, the catalog
modality and the meta it stamps; a SIGNATURE format also holds its
signer, band-key function, verify step and quality floor. The estate
sinks (catalog, maintenance, forget) read formats from here, so a new
format is one record, not three tables.

**Family contract**, shared by every signature gate:

- *Pessimistic first-wins.* A doc is rejected iff a banded candidate —
  from the accepted state, or a SMALLER id inside its own batch,
  admitted or not — passes verification. Order-free within a batch, so
  one micro-batch gates in a fixed number of joins.
- *Blockers are the attribution.* The kernel's blocker relation holds
  every verified pair eligible to reject a doc; the rejected set is its
  doc projection, and the drain persists it as the dup_of log. The
  cross-state direction keeps the self-pair ``odoc == doc``: a
  re-delivered, already-accepted id is blocked by its own prior
  signature.
- *Atomic multimodal admission.* A gate over several formats unions
  their blockers, tagged (doc, odoc, modality, score); a doc rejected
  by any modality enters NO state.
- *Quality floor first.* A below-floor doc is dropped before it is
  signed, so it claims no buckets and gets no decision row.
- *Exactly-once drains.* Each micro-batch overwrites its own
  ``batch_id=<i>`` dir in every sink, in the order out, state(s),
  decisions, dup_of; the checkpoint gates each input file once. A
  RETRIED batch loads state with ``before_batch=<i>`` so it never sees
  its own failed attempt's signatures (negative generation ids, written
  only by compaction, are always included).
- *Compaction* folds per-batch dirs into a negative-id generation
  (:func:`_fold_state_dirs`, the one crash-safe copy).
- *Big-state regime.* ``broadcast_batch`` broadcasts the batch side of
  both state joins so the store streams through map-side hash joins,
  never shuffled; the bucketed/hybrid layout keeps the folded history
  as bucketed tables (sigs on ``doc``, derived band keys on ``bk``)
  behind a generation marker, falling back to the flat read whenever
  the marker is stale — a physical-plan choice that never changes an
  admission.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from reddit_apache_airflow_postgres_pipeline_spark.operators.multimodal import (
    ahash_signatures,
)
from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
    band_keys_of_signature,
    minhash_signature,
    signature_band_keys,
)
from reddit_apache_airflow_postgres_pipeline_spark.session import local_frame
from reddit_apache_airflow_postgres_pipeline_spark.sinks.bucketed import (
    write_bucketed,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    counting_state as _cs,
)

_BK_SCHEMA = "doc long, bk string"
_SIG_SCHEMA = "doc long, sig long"

# Compact once the state store accumulates this many batch_id=* dirs.
# Without compaction the store grows one directory per micro-batch
# forever and every batch re-lists + re-opens all of them — a listing
# cliff around 10^5 batches.
_COMPACT_AFTER_DIRS = 16

# marker naming the generation the bucketed tables mirror
_BUCKETED_MARKER = "_bucketed_gen.json"


def _sig_schema(num_hashes: int) -> str:
    return "doc long, " + ", ".join(f"mh_{i} string" for i in range(num_hashes))


@dataclass(frozen=True)
class GateFormat:
    """One stamped gate state format. ``p`` below is the store's
    geometry: the stamped meta's ``params`` (a helper needs only the
    keys it reads)."""

    name: str
    modality: str
    key: str  # the store's probe and fold key
    params: tuple[str, ...]
    schema: Callable[[dict], str]
    # signature formats only:
    # (batch_df, id_col, text_col, p) -> (doc, <signature columns>)
    sign: Callable[..., DataFrame] | None = None
    band_keys: Callable[[DataFrame, dict], DataFrame] | None = None
    # p -> [(signature column, batch-side alias, state-side alias)]
    sides: Callable[[dict], list[tuple[str, str, str]]] | None = None
    # (candidate pairs joined with both sides, p) -> (doc, odoc, score)
    verify: Callable[[DataFrame, dict], DataFrame] | None = None
    score: str | None = None
    # (floor value, text_col) -> keep predicate
    floor: Callable[[float, str], Column] | None = None

    def meta(self, p: dict) -> dict:
        return {"format": self.name, **{k: p[k] for k in self.params}}

    def floor_on(self, value: float | None, text_col: str = "text") -> Column | None:
        return None if value is None else self.floor(value, text_col)


def _minhash_sign(batch_df, id_col, text_col, p):
    return minhash_signature(batch_df, id_col, text_col, p["n"], p["num_hashes"])


def _est_verify(joined: DataFrame, p: dict) -> DataFrame:
    # the k-term match sum is a JVM-parsed SQL string: it is built once
    # per micro-batch (and 3-6x per replay construction), and the
    # Column-API form cost ~100 py4j round trips per call (guide §5 —
    # driver work); the parsed tree is the same
    k = p["num_hashes"]
    est_sql = (
        "("
        + " + ".join(f"CAST((__a{i} = __b{i}) AS INT)" for i in range(k))
        + f") / CAST({float(k)!r} AS DOUBLE)"
    )
    return joined.selectExpr("doc", "odoc", f"{est_sql} AS est").filter(
        F.col("est") >= F.lit(float(p["threshold"]))
    )


def _quality_floor(min_quality: float, text_col: str) -> Column:
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import (
        quality_score,
    )

    return quality_score(text_col) >= F.lit(float(min_quality))


def _ahash_sign(batch_df, id_col, text_col, p):
    return ahash_signatures(
        batch_df.select(F.col(id_col).alias("media_id"), "kind", "payload", "meta"),
        n=p["bits"],
    ).select(F.col("media_id").alias("doc"), "sig")


def _ham_verify(joined: DataFrame, p: dict) -> DataFrame:
    return joined.select(
        "doc",
        "odoc",
        F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).alias("dist"),
    ).filter(F.col("dist") <= F.lit(p["max_hamming"]))


RAW = GateFormat(
    "dedup-gate/v1", "text", "bk", ("n", "num_hashes", "bands"),
    schema=lambda p: _BK_SCHEMA,
)
VERIFIED = GateFormat(
    "verified-dedup-gate/v1", "text", "doc",
    ("n", "num_hashes", "bands", "threshold"),
    schema=lambda p: _sig_schema(p["num_hashes"]),
    sign=_minhash_sign,
    band_keys=lambda sig, p: band_keys_of_signature(
        sig, p["num_hashes"], p["bands"]
    ),
    sides=lambda p: [
        (f"mh_{i}", f"__a{i}", f"__b{i}") for i in range(p["num_hashes"])
    ],
    verify=_est_verify,
    score="est",
    floor=_quality_floor,
)
MEDIA = GateFormat(
    "media-gate/v1", "media", "doc", ("bits", "max_hamming"),
    schema=lambda p: _SIG_SCHEMA,
    sign=_ahash_sign,
    band_keys=lambda sig, p: signature_band_keys(
        sig, p["bits"], p["max_hamming"]
    ),
    sides=lambda p: [("sig", "__sa", "__sb")],
    verify=_ham_verify,
    score="dist",
    floor=lambda min_bytes, text_col: (
        F.length(F.col("payload")) >= F.lit(int(min_bytes))
    ),
)
FORMATS = {f.name: f for f in (RAW, VERIFIED, MEDIA)}


# -- state store: load, fold, bucketed mirror ---------------------------------


def load_state(
    spark: SparkSession,
    state_dir: str,
    fmt: GateFormat,
    p: dict,
    before_batch: int | None = None,
) -> DataFrame:
    """Read a gate state store. ``before_batch`` excludes state written
    by batch ids ≥ that id: a RETRIED micro-batch must not see its own
    failed attempt's rows (it would reject every one of its docs as a
    duplicate of itself). Generations (negative ids) are always
    included — they only ever fold batches that committed before the
    current one."""
    cond = None if before_batch is None else F.col("batch_id") < before_batch
    return _read_batches(spark, state_dir, fmt, p, cond)


def _read_batches(spark, state_dir, fmt, p, cond: Column | None) -> DataFrame:
    """The store's rows whose ``batch_id`` satisfies ``cond`` (all rows
    when None); an absent or empty store reads as an empty relation."""
    schema = fmt.schema(p)
    try:
        df = spark.read.schema(schema + ", batch_id long").parquet(state_dir)
    except AnalysisException:
        return local_frame(spark, [], schema)
    if cond is not None:
        df = df.filter(cond)
    return df.drop("batch_id")


def _fold_state_dirs(
    spark: SparkSession,
    state_dir: str,
    loader,
    partition_col: str,
    exclude_from: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """THE one copy of the gate family's state fold (r11 review: three
    near-verbatim compactors encoded this crash-safety-critical
    sequence separately). Fold per-batch state dirs into one
    generation dir.

    Generations occupy reserved NEGATIVE batch_id partitions (real
    micro-batch ids are checkpoint-monotonic and never negative), each
    one lower than the last, so a generation can never collide with a
    future batch write. The sequence is crash-safe because every gate
    state is a SET consumed through distinct joins — duplicates never
    change admission decisions — so it only needs superset-monotonic
    steps:

    1. read the whole store via ``loader(spark, state_dir,
       before_batch)``, write it (distinct, hash-partitioned on
       ``partition_col`` with normal parallelism — the fold is a full
       shuffle across the cluster, never a single task) to a tmp dir
       OUTSIDE the store;
    2. rename tmp into the store as the new generation (duplicate rows
       now exist — harmless);
    3. delete the subsumed per-batch dirs (a crash mid-delete leaves a
       superset — harmless, next compaction finishes the job).

    Local-FS ops here (the streaming tests' hermetic path); on a real
    deployment these become storage renames/deletes, or the state store
    is a table format (Delta/Iceberg) whose OPTIMIZE does the same fold
    transactionally.

    ``exclude_from`` (set to the in-flight batch id by the streaming
    caller) keeps not-yet-committed state OUT of the fold: the current
    batch's rows must stay in their own ``batch_id=<i>`` dir so a retry
    can still exclude them. With ``num_partitions=None`` AQE sizes the
    shuffle by bytes (locally that may legitimately fold a tiny state
    into one file; on a large store it yields thousands of write
    tasks); an explicit ``num_partitions`` pins the task count.
    Repartitioning on the store's probe key also pre-clusters it for
    the bucketed-table layout.
    """
    ids = _cs.state_subdirs(state_dir)
    old_dirs = [
        d
        for d, i in ids.items()
        if exclude_from is None or i < exclude_from
    ]
    if len(old_dirs) < 2:
        return  # nothing to fold
    next_gen = min(min(ids.values()), 0) - 1
    tmp = state_dir.rstrip("/") + "__compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    folded = loader(spark, state_dir, exclude_from).distinct()
    if num_partitions is not None:
        folded = folded.repartition(num_partitions, partition_col)
    else:
        folded = folded.repartition(partition_col)
    folded.write.mode("overwrite").parquet(tmp)
    os.replace(tmp, os.path.join(state_dir, f"batch_id={next_gen}"))
    for d in old_dirs:
        shutil.rmtree(d, ignore_errors=True)


def compact_store(
    spark: SparkSession,
    state_dir: str,
    fmt: GateFormat,
    p: dict,
    exclude_from: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """Fold a gate state store — :func:`_fold_state_dirs` on the
    format's key."""
    _fold_state_dirs(
        spark,
        state_dir,
        lambda sp, sd, bb: load_state(sp, sd, fmt, p, bb),
        fmt.key,
        exclude_from,
        num_partitions,
    )


def _newest_gen_id(state_dir: str) -> int | None:
    gens = [i for i in _cs.state_subdirs(state_dir).values() if i < 0]
    return min(gens, default=None)


def bucket_store(
    spark: SparkSession,
    sigs: DataFrame,
    fmt: GateFormat,
    p: dict,
    table_prefix: str,
    path: str,
    num_buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Write ``sigs`` as the signature gate's two external bucketed
    tables — ``<prefix>_sigs`` on ``doc`` (the verification join's
    probe key) and the DERIVED band keys ``<prefix>_keys`` on ``bk``
    (the candidate join's probe key). Returns (keys_table,
    sigs_table)."""
    write_bucketed(
        sigs, f"{table_prefix}_sigs", ["doc"], num_buckets,
        os.path.join(path, "sigs"), sort_cols=["doc"],
    )
    sigs_t = spark.table(f"{table_prefix}_sigs")
    write_bucketed(
        fmt.band_keys(sigs_t, p), f"{table_prefix}_keys", ["bk"],
        num_buckets, os.path.join(path, "keys"), sort_cols=["bk"],
    )
    return spark.table(f"{table_prefix}_keys"), sigs_t


def refresh_bucketed_store(
    spark: SparkSession,
    state_dir: str,
    fmt: GateFormat,
    p: dict,
    table_prefix: str,
    path: str,
    num_buckets: int = 8,
) -> None:
    """Rebuild the bucketed tables from the CURRENT generation dirs
    only (the folded history — per-batch tail dirs stay flat) and stamp
    the marker with the generation id they mirror. A no-op when the
    store has no generation yet."""
    gen = _newest_gen_id(state_dir)
    if gen is None:
        return
    bucket_store(
        spark, _read_batches(spark, state_dir, fmt, p, F.col("batch_id") < 0),
        fmt, p, table_prefix, path, num_buckets,
    )
    tmp = os.path.join(path, _BUCKETED_MARKER + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"gen": gen}, f)
    os.replace(tmp, os.path.join(path, _BUCKETED_MARKER))


def load_store_hybrid(
    spark: SparkSession,
    state_dir: str,
    fmt: GateFormat,
    p: dict,
    table_prefix: str,
    path: str,
    before_batch: int | None,
) -> tuple[DataFrame, DataFrame | None]:
    """(state_sigs, state_keys) for one gate batch: bucketed tables for
    the folded generation + flat reads for the per-batch tail, IF the
    marker proves the tables mirror the store's current generation;
    otherwise the plain flat load (state_keys None → the kernel derives
    them). The fallback means a crash between fold and refresh degrades
    to the flat plan, never to a wrong admission."""
    marker = os.path.join(path, _BUCKETED_MARKER)
    gen = _newest_gen_id(state_dir)
    mirrored = None
    if gen is not None and os.path.exists(marker):
        with open(marker) as f:
            mirrored = json.load(f).get("gen")
    if gen is None or mirrored != gen:
        return load_state(spark, state_dir, fmt, p, before_batch), None
    cond = F.col("batch_id") >= 0
    if before_batch is not None:
        cond = cond & (F.col("batch_id") < before_batch)
    tail = _read_batches(spark, state_dir, fmt, p, cond)
    state_sigs = spark.table(f"{table_prefix}_sigs").unionByName(tail)
    state_keys = spark.table(f"{table_prefix}_keys").unionByName(
        fmt.band_keys(tail, p)
    )
    return state_sigs, state_keys


# -- kernel -------------------------------------------------------------------


def pair_blockers(
    fmt: GateFormat,
    p: dict,
    keys: DataFrame,
    sig: DataFrame,
    other_keys: DataFrame,
    other_sig: DataFrame,
    ordered: bool,
    broadcast_batch: bool = False,
) -> DataFrame:
    """(doc, odoc, score): every verified blocking pair of (keys, sig)
    against (other_keys, other_sig) — one skinny equi-join on ``bk``
    proposes candidates, one distinct, two signature joins and the
    format's verify step dispose; all output-proportional.
    ``ordered=True`` applies the within-batch first-wins tiebreak (only
    a SMALLER doc id can reject); cross-state the direction is fixed by
    arrival time, and the self-pair ``odoc == doc`` is kept (a
    re-delivery is blocked by its own accepted signature).

    ``broadcast_batch`` flips BOTH state-side joins for the big-state
    regime (meaningful only for the cross-state direction): the batch's
    band keys broadcast into the candidate join and the batch-sized
    candidates-with-signatures relation broadcasts into the verification
    join, so the state's keys and signatures are each SCANNED through a
    map-side hash join — never shuffled. Identical pairs; composes with
    the bucketed state tables."""
    okeys = other_keys.select(F.col("doc").alias("odoc"), "bk")
    if broadcast_batch:
        cand = okeys.join(
            F.broadcast(keys.select("doc", "bk")), "bk"
        ).select("doc", "odoc")
    else:
        cand = keys.join(okeys, "bk").select("doc", "odoc")
    if ordered:
        cand = cand.filter(F.col("odoc") < F.col("doc"))
    cand = cand.distinct()
    sides = fmt.sides(p)
    sa = sig.selectExpr("doc", *[f"{c} AS {a}" for c, a, _ in sides])
    sb = other_sig.selectExpr(
        "doc AS odoc", *[f"{c} AS {b}" for c, _, b in sides]
    )
    probe = cand.join(sa, "doc")
    if broadcast_batch:
        joined = sb.join(F.broadcast(probe), "odoc")
    else:
        joined = probe.join(sb, "odoc")
    return fmt.verify(joined, p)


def gate_attributed(
    batch_df: DataFrame,
    mods: list[tuple],
    id_col: str,
    text_col: str = "text",
    floor: Column | None = None,
    checkpoint_blockers: bool = False,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, list[DataFrame], DataFrame, DataFrame]:
    """Gate one batch against one state per modality.

    ``mods`` is ``[(fmt, p, state_sigs, sig, state_keys), ...]``:
    ``sig`` optionally supplies the batch's PRECOMPUTED signature
    relation (a replay over many batches of one corpus derives it once;
    it must equal ``fmt.sign`` of the batch), ``state_keys`` the state's
    precomputed band keys (e.g. the bucketed ``_keys`` table; must equal
    ``fmt.band_keys(state_sigs, p)``). ``floor`` is the quality-floor
    predicate, applied before signing (a precomputed ``sig`` is
    filtered to the surviving docs).

    Returns (accepted_rows, [accepted_sigs per modality], decisions
    (doc, admitted), blockers): one modality's blockers are its
    (doc, odoc, est|dist) pairs; several modalities' are their union
    tagged (doc, odoc, modality, score). A doc appears in the blockers
    iff it was rejected. ``checkpoint_blockers=True`` localCheckpoints
    the blockers before the other outputs derive from them, so a
    four-sink caller runs the candidate/verify joins once."""
    if floor is not None:
        batch_df = batch_df.filter(floor)
    sigs, blks = [], []
    for fmt, p, state_sigs, sig, state_keys in mods:
        if sig is None:
            sig = fmt.sign(batch_df, id_col, text_col, p)
        elif floor is not None:
            sig = sig.join(
                batch_df.select(F.col(id_col).alias("doc")), "doc", "left_semi"
            )
        keys = fmt.band_keys(sig, p)
        if state_keys is None:
            state_keys = fmt.band_keys(state_sigs, p)
        blk = pair_blockers(
            fmt, p, keys, sig, state_keys, state_sigs, False, broadcast_batch
        ).unionAll(pair_blockers(fmt, p, keys, sig, keys, sig, True))
        if len(mods) > 1:
            blk = blk.select(
                "doc", "odoc", F.lit(fmt.modality).alias("modality"),
                F.col(fmt.score).cast("double").alias("score"),
            )
        sigs.append(sig)
        blks.append(blk)
    blockers = reduce(DataFrame.unionAll, blks)
    if checkpoint_blockers:
        blockers = blockers.localCheckpoint()
    rejected = blockers.select("doc").distinct()
    accepted = batch_df.join(
        rejected.withColumnRenamed("doc", id_col), id_col, "left_anti"
    )
    accepted_sigs = [s.join(rejected, "doc", "left_anti") for s in sigs]
    decisions = batch_df.select(F.col(id_col).alias("doc")).join(
        rejected.withColumn("__rej", F.lit(True)), "doc", "left"
    ).select(
        "doc", (~F.coalesce(F.col("__rej"), F.lit(False))).alias("admitted")
    )
    return accepted, accepted_sigs, decisions, blockers


# -- drain --------------------------------------------------------------------


def run_gate_drain(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    stores: list[tuple[GateFormat, dict, str]],
    id_col: str,
    text_col: str = "text",
    compact_after_dirs: int = _COMPACT_AFTER_DIRS,
    floor: Column | None = None,
    decisions_dir: str | None = None,
    dup_of_dir: str | None = None,
    bucketed: dict | None = None,
    broadcast_batch: bool = False,
) -> None:
    """Drain ``input_dir`` (parquet files, one per micro-batch) through
    :func:`gate_attributed` with an availableNow trigger. ``stores`` is
    ``[(fmt, p, state_dir), ...]``, one per modality; each store's
    geometry is stamped on first run and verified on every later one
    (a restarted drain cannot drift the policy), and the corpus is
    stamped with the single store's modality or ``multimodal``.

    Per batch ``<i>``: accepted rows → ``out_dir/batch_id=<i>``, each
    modality's accepted signatures → ``state_dir/batch_id=<i>``, then
    (when armed) decisions and dup_of, then any store past
    ``compact_after_dirs`` dirs is folded. ``bucketed`` —
    ``{"table_prefix", "path", "num_buckets"}``, single-store drains —
    arms the hybrid layout: :func:`load_store_hybrid` per batch, and
    :func:`refresh_bucketed_store` after each fold."""
    for fmt, p, state_dir in stores:
        _cs.stamp_meta(state_dir, fmt.meta(p))
    _cs.stamp_corpus_meta(
        out_dir, id_col, stores[0][0].modality if len(stores) == 1 else "multimodal"
    )

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        mods = []
        for fmt, p, state_dir in stores:
            if bucketed is None:
                state = load_state(sp, state_dir, fmt, p, before_batch=batch_id)
                skeys = None
            else:
                state, skeys = load_store_hybrid(
                    sp, state_dir, fmt, p, bucketed["table_prefix"],
                    bucketed["path"], before_batch=batch_id,
                )
            mods.append((fmt, p, state, None, skeys))
        accepted, accepted_sigs, decisions, blockers = gate_attributed(
            batch_df, mods, id_col, text_col, floor=floor,
            checkpoint_blockers=dup_of_dir is not None,
            broadcast_batch=broadcast_batch,
        )
        sinks = (
            [(accepted, out_dir)]
            + [(s, st[2]) for s, st in zip(accepted_sigs, stores)]
            + [(decisions, decisions_dir), (blockers, dup_of_dir)]
        )
        for df, root in sinks:
            if root is not None:
                df.write.mode("overwrite").parquet(
                    os.path.join(root, f"batch_id={batch_id}")
                )
        for fmt, p, state_dir in stores:
            if len(_cs.state_subdirs(state_dir)) > compact_after_dirs:
                compact_store(sp, state_dir, fmt, p, exclude_from=batch_id)
                if bucketed is not None:
                    refresh_bucketed_store(
                        sp, state_dir, fmt, p, bucketed["table_prefix"],
                        bucketed["path"], bucketed.get("num_buckets", 8),
                    )

    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
