"""Seeded input generators for the benchmark workloads.

Every input a workload feeds the engine comes from here, derived only
from ``seed`` and the size arguments: the same seed writes byte-equal
inputs. No generator reads the clock; timestamps are fixed epochs plus
seeded offsets.

* :func:`write_tables` writes the ten-table star schema the registry
  queries read (``region`` .. ``embeddings``), with the column names,
  types and value domains of the engine's reference test data.
* :func:`listing_rows` builds one injected Reddit listing page for the
  fetch pipeline, with reposts, dirty titles and null fields.
* :func:`corpus` builds the document stream for the admission chain.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PCOLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
_PNOUNS = ["widget", "bolt", "ring", "gear", "nut", "panel", "valve", "spring"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path)


def base36(pid: int) -> str:
    """A Reddit-style base36 post id for post number ``pid``."""
    return np.base_repr(pid + 1_000_000, 36).lower()


def doc_text(rng: np.random.Generator, lo: int = 10, hi: int = 100) -> str:
    return " ".join(rng.choice(VOCAB, size=int(rng.integers(lo, hi + 1))))


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the star schema at scale ``sf`` under ``out_dir`` as
    ``<table>.parquet``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
    })
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(
                rng.choice(_PCOLORS, n_part), rng.choice(_PNOUNS, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
    })
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(money(1000, 500_000, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(money(900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2499, n_line) * _DAY_US),
    })
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype("int64")
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = [doc_text(rng) for _ in range(n_doc)]
    # 5% near-duplicates: an earlier doc's text plus one marker token
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.6, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


_FLAIRS = ["Itinerary", "Question", "Trip Report", None]
_DIRTY = [
    "  Rome\n\nin   three days  ",
    "mail me at traveller@example.com please",
    "call 3471234567 for the tour",
    "Florence " + "very long title " * 25,
    "",
]


def listing_rows(
    rng: np.random.Generator, run: int, n: int, pool: int, created_base: int
) -> list[dict]:
    """One injected listing page of ``n`` posts drawn from a universe of
    ``pool`` post ids, so later runs repost earlier posts (same id,
    new score/title) and overlap keys already loaded. Dirty titles and
    null ``name``/``created_utc``/``author``/``subreddit`` fields occur at
    fixed small rates."""
    ids = rng.choice(pool, size=n, replace=False)
    rows = []
    for j, pid in enumerate(sorted(int(i) for i in ids)):
        b36 = base36(pid)
        r = rng.random(6)
        title = doc_text(rng, 3, 12)
        if r[0] < 0.15:
            title = _DIRTY[int(rng.integers(0, len(_DIRTY)))] + " " + title
        rows.append({
            "name": None if r[1] < 0.05 else f"t3_{b36}",
            "id": b36,
            "created_utc": None if r[2] < 0.05 else float(created_base + pid * 60),
            "score": int(rng.integers(0, 5000)),
            "num_comments": int(rng.integers(0, 400)),
            "title": title,
            "author": None if r[3] < 0.05 else f"user_{pid % 97}",
            "permalink": f"/r/ItalyTravel/comments/{b36}/post_{run}_{j}/",
            "subreddit": None if r[4] < 0.05 else "ItalyTravel",
            "link_flair_text": _FLAIRS[int(rng.integers(0, len(_FLAIRS)))],
        })
    return rows


def corpus(seed: int, n_docs: int, id_base: int = 0) -> tuple[list[int], list[str]]:
    """``n_docs`` documents with ids ``id_base ..``; about 10% are
    near-duplicates (a token swapped at the end) of an earlier doc of
    the same corpus."""
    rng = np.random.default_rng([seed, 3, id_base])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.10:
            src = texts[int(rng.integers(0, i))].split()
            src[-1] = str(rng.choice(VOCAB))
            texts.append(" ".join(src))
        else:
            texts.append(doc_text(rng, 30, 60))
    return list(range(id_base, id_base + n_docs)), texts
