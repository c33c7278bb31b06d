"""The signature admission drains' on-disk contract and crash-retry
behaviour: the verified-text, media and multimodal drains, each over a
tiny two-file inbox (18 rows).

- **Contract pin** — the exact stamped ``_meta.json`` of every state
  store and of the admitted corpus, and the parquet schemas of the
  state, decision and dup_of logs. Stores written by one version of the
  engine must load in the next, so any change here is a format change.
- **Crash-retry** — the first micro-batch's decisions write fails after
  its accepted rows and signatures were already written; a rerun on the
  same checkpoint must converge to exactly what an uncrashed drain
  writes, and the retried batch must not be blocked by the signatures
  its own failed attempt left in the state store.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pytest
from conftest import SF_SMOKE as SF
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators import multimodal as mm
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    dedup_gate,
    media_gate,
    multimodal_gate,
)

_META_FIELDS = "meta struct<width:int,height:int,sample_rate:int,n_frames:int,fmt:string>"
SCHEMAS = {
    "verified": "doc_id long, text string",
    "media": f"media_id long, kind string, payload binary, {_META_FIELDS}",
    "multimodal": (
        f"doc_id long, text string, kind string, payload binary, {_META_FIELDS}"
    ),
}
ID_COL = {"verified": "doc_id", "media": "media_id", "multimodal": "doc_id"}
STORES = {
    "verified": ["text"],
    "media": ["media"],
    "multimodal": ["text", "media"],
}
TEXT_META = {
    "format": "verified-dedup-gate/v1",
    "n": 3,
    "num_hashes": 12,
    "bands": 4,
    "threshold": 0.5,
}
MEDIA_META = {"format": "media-gate/v1", "bits": 60, "max_hamming": 5}
STATE_SCHEMA = {
    "text": [("doc", "bigint")] + [(f"mh_{i}", "string") for i in range(12)],
    "media": [("doc", "bigint"), ("sig", "bigint")],
}
DUP_OF_SCHEMA = {
    "verified": [("doc", "bigint"), ("odoc", "bigint"), ("est", "double")],
    "media": [("doc", "bigint"), ("odoc", "bigint"), ("dist", "int")],
    "multimodal": [
        ("doc", "bigint"), ("odoc", "bigint"),
        ("modality", "string"), ("score", "double"),
    ],
}


def _rows_of(spark, drain):
    """The drain's input relation: docs 0-15 of sf0.001 plus a copy of
    doc 0 (id 900, a duplicate of the first batch's state) and of doc 9
    (id 901, a duplicate inside its own batch); gen 0 = ids < 8."""
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 16)
    )
    media = mm.media_from_documents(docs).withColumnRenamed("media_id", "doc_id")
    rows = docs.join(media, "doc_id")
    copies = rows.join(
        spark.createDataFrame([(900, 0), (901, 9)], "new_id long, doc_id long"),
        "doc_id",
    ).withColumn("doc_id", F.col("new_id")).drop("new_id")
    rows = rows.unionByName(copies)
    if drain == "verified":
        return rows.select("doc_id", "text")
    if drain == "media":
        return rows.select(
            F.col("doc_id").alias("media_id"), "kind", "payload", "meta"
        )
    return rows


def _write_inbox(spark, drain, inbox):
    rows = _rows_of(spark, drain)
    id_col = ID_COL[drain]
    os.makedirs(inbox)
    for g, cond in enumerate([F.col(id_col) < 8, F.col(id_col) >= 8]):
        path = os.path.join(inbox, f"g{g}.parquet")
        tmp = path + "__tmp"
        rows.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], path)
        shutil.rmtree(tmp)
        past = time.time() - (30 - 10 * g)
        os.utime(path, (past, past))


def _drain(spark, drain, root, decisions_dir):
    inbox, out, ckpt = (
        os.path.join(root, "inbox"), os.path.join(root, "out"),
        os.path.join(root, "ckpt"),
    )
    st = {s: os.path.join(root, f"{s}_state") for s in STORES[drain]}
    logs = dict(decisions_dir=decisions_dir, dup_of_dir=os.path.join(root, "dup_of"))
    if drain == "verified":
        dedup_gate.run_verified_gate_available_now(
            spark, inbox, SCHEMAS[drain], out, st["text"], ckpt, **logs
        )
    elif drain == "media":
        media_gate.run_media_gate_available_now(
            spark, inbox, SCHEMAS[drain], out, st["media"], ckpt, **logs
        )
    else:
        multimodal_gate.run_multimodal_gate_available_now(
            spark, inbox, SCHEMAS[drain], out, st["text"], st["media"], ckpt,
            **logs,
        )


def _stores(drain) -> list[str]:
    return ["out", "decisions", "dup_of"] + [f"{s}_state" for s in STORES[drain]]


def _contents(spark, path):
    df = spark.read.parquet(path)
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """An uncrashed drain per family, run once per module."""
    roots: dict[str, str] = {}

    def get(drain):
        if drain not in roots:
            root = str(tmp_path_factory.mktemp(f"ref_{drain}"))
            _write_inbox(spark, drain, os.path.join(root, "inbox"))
            _drain(spark, drain, root, os.path.join(root, "decisions"))
            roots[drain] = root
        return roots[drain]

    return get


def _schema(spark, path):
    return [
        (f.name, f.dataType.simpleString())
        for f in spark.read.parquet(path).schema.fields
    ]


@pytest.mark.parametrize("drain", ["verified", "media", "multimodal"])
def test_signature_drain_on_disk_contract(spark, reference, drain):
    root = reference(drain)
    metas = {"text": TEXT_META, "media": MEDIA_META}
    for s in STORES[drain]:
        with open(os.path.join(root, f"{s}_state", "_meta.json")) as f:
            assert json.load(f) == metas[s]
        assert _schema(
            spark, os.path.join(root, f"{s}_state", "batch_id=0")
        ) == STATE_SCHEMA[s]
    with open(os.path.join(root, "out", "_meta.json")) as f:
        assert json.load(f) == {
            "format": "admitted-corpus/v1",
            "id_col": ID_COL[drain],
            "modality": "text" if drain == "verified" else drain,
        }
    assert _schema(spark, os.path.join(root, "decisions", "batch_id=1")) == [
        ("doc", "bigint"), ("admitted", "boolean"),
    ]
    assert _schema(
        spark, os.path.join(root, "dup_of", "batch_id=1")
    ) == DUP_OF_SCHEMA[drain]
    # the fixture exercises both directions of rejection
    blocked = {
        (r["doc"], r["odoc"])
        for r in spark.read.parquet(os.path.join(root, "dup_of")).collect()
    }
    assert {(900, 0), (901, 9)} <= blocked


@pytest.mark.parametrize("drain", ["verified", "media", "multimodal"])
def test_signature_drain_crash_retry_converges(spark, reference, tmp_path, drain):
    root = str(tmp_path)
    _write_inbox(spark, drain, os.path.join(root, "inbox"))
    decisions = os.path.join(root, "decisions")
    with open(decisions, "w") as f:
        f.write("not a directory")
    with pytest.raises(Exception):
        _drain(spark, drain, root, decisions)
    # the crash hit after the batch's accepted rows and state were written
    assert os.path.isdir(os.path.join(root, "out", "batch_id=0"))
    for s in STORES[drain]:
        assert os.path.isdir(os.path.join(root, f"{s}_state", "batch_id=0"))
    os.remove(decisions)
    _drain(spark, drain, root, decisions)

    ref = reference(drain)
    for store in _stores(drain):
        assert _contents(spark, os.path.join(root, store)) == _contents(
            spark, os.path.join(ref, store)
        ), store
    dec = {
        r["doc"]: r["admitted"]
        for r in spark.read.parquet(decisions).collect()
    }
    assert dec[0] and not dec[900] and not dec[901]
    self_blocked = spark.read.parquet(os.path.join(root, "dup_of")).filter(
        F.col("doc") == F.col("odoc")
    )
    assert self_blocked.count() == 0

