"""The benchmark workloads. Each is one closed-loop client in one
process: ``setup`` builds the session and the seeded fixtures,
``run`` repeats the workload's cycle until the deadline, ``check``
verifies the outputs outside the timed region, and ``metrics`` maps
the recorded latencies onto the shared end-to-end metric names.

Shared end-to-end names (every workload reports each of them):

* ``op_p50_s`` / ``op_p90_s`` -- the workload's frequent op: one fetch
  run (etl_cycle), one 8-query probe (ingest_serve), one registry
  query construct+execute (query_replay);
* ``batch_p50_s`` -- the workload's batch op: one combine+load run
  (etl_cycle), one availableNow drain of the full admission chain
  (ingest_serve), one replay pass as the sum of per-query medians
  (query_replay).

Throughput (rows, docs or queries per second) is reported in the
workload's own detail metrics only: each batch op has a fixed size, so
it is the inverse of ``batch_p50_s`` scaled by a constant.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import dir_bytes, median, percentile, subdirs

REGISTRY_PREFIX = "plans.registry."


def replay_query_names() -> list[str]:
    """bench.py's 10 headline queries."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import (
        headline_queries,
    )

    return list(headline_queries())


class Workload:
    name = ""
    setup_repeats = 5
    # cycles always run, whatever --seconds says: a cycle is the unit
    # whose ops the metrics take medians over
    min_cycles = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.rec = ctx.rec
        self.cycles = 0
        self.checks: dict[str, bool] = {}
        self.check_errors: list[str] = []

    def expect(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            self.check_errors.append(f"{name}: {detail}"[:2000])

    @property
    def spark(self):
        return self.ctx.spark

    def fixtures(self, d: str) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed work between set-up and the timed loop."""

    def run(self, deadline: float) -> None:
        """Closed loop: whole cycles until the deadline has passed."""
        while True:
            self.cycle_once(self.cycles)
            self.cycles += 1
            if self.cycles >= self.min_cycles and time.perf_counter() >= deadline:
                break

    def cycle_once(self, c: int) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def metrics(self) -> dict[str, float]:
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics of a traced run; spans already carry the
        event-log job counts."""
        return {}


# -- etl_cycle ---------------------------------------------------------------

SALT = "perfbench-salt"
_FETCHES_PER_CYCLE = 6
_LISTING_ROWS = 40
_POST_POOL = 300
_CREATED_BASE = 1_700_000_000
_IMMUTABLE = ["thing_type", "id", "created_at", "author_hash", "permalink"]


def _sha(s: str) -> str:
    return hashlib.sha256((SALT + s).encode()).hexdigest()


def _norm(v) -> str:
    return "" if v is None or (isinstance(v, float) and np.isnan(v)) else str(v)


class EtlCycle(Workload):
    """DAG 1 (fetch) six times, then DAG 2 (combine, then load into a
    parquet target by ``upsert_merge``) once, per cycle."""

    name = "etl_cycle"
    min_cycles = 2  # the first cycle runs cold, the second warm

    def __init__(self, ctx):
        super().__init__(ctx)
        self.rows_fetched = 0
        self.dropped = 0
        self.scanned = 0
        self.files_scanned: list[int] = []
        self.target_rows = 0

    def fixtures(self, d: str) -> None:
        from reddit_apache_airflow_postgres_pipeline_spark.config import EngineConfig

        self.dir = d
        self.cfg = EngineConfig(
            subreddit="ItalyTravel", limit=_LISTING_ROWS, gdpr_salt=SALT,
            data_dir=f"{d}/inbox", combine_dir=f"{d}/combined",
            loaded_dir=f"{d}/loaded", csv_glob_prefix="italytravel_",
        )
        for sub in ("inbox", "combined", "loaded", "target"):
            os.makedirs(f"{d}/{sub}", exist_ok=True)
        # the table the first load merges into: half the post pool,
        # loaded by an earlier (generated) run
        rng = np.random.default_rng([self.ctx.seed, 2])
        pids = sorted(rng.choice(_POST_POOL, _POST_POOL // 2, replace=False))
        cols = {c: [] for c in (
            "thing_key", "thing_type", "id", "created_at", "score",
            "num_comments", "title_sanitized", "author_hash", "permalink",
            "subreddit", "flair_text")}
        for pid in pids:
            b = gen.base36(int(pid))
            cols["thing_key"].append(_sha(f"t3_{b}"))
            cols["thing_type"].append("t3")
            cols["id"].append(_sha(b))
            cols["created_at"].append(f"2023-{1 + pid % 12:02d}-01T00:00:00Z")
            cols["score"].append(str(int(rng.integers(0, 100))))
            cols["num_comments"].append(str(int(rng.integers(0, 10))))
            cols["title_sanitized"].append(gen.doc_text(rng, 3, 8))
            cols["author_hash"].append(_sha(f"old_{pid}"))
            cols["permalink"].append(_sha(f"https://old/{b}"))
            cols["subreddit"].append("ItalyTravel")
            cols["flair_text"].append("")
        self.target = f"{d}/target/v0.parquet"
        pq.write_table(pa.table(cols), self.target)

    def _land_side_files(self, c: int, rng) -> set[str]:
        """A legacy 7-column file (duplicate ids, one keyless row) and
        an empty file; returns the legacy keys the combine must keep."""
        inbox = self.cfg.data_dir
        keys = set()
        lines = ["id,author,title,score,num_comments,created_at,permalink"]
        idents = [gen.base36(int(p)) for p in rng.integers(0, _POST_POOL, 11)]
        for i, ident in enumerate(idents + idents[:1]):  # one repeated id
            lines.append(
                f"{ident},legacy_{i},legacy title {i},{i},x{i},"
                f"2022-01-01T00:00:00Z,/r/ItalyTravel/comments/{ident}/"
            )
            keys.add(_sha(f"t3:{ident}"))
        lines.append(",nobody,no key at all,1,1,,")
        with open(f"{inbox}/italytravel_legacy_c{c:04d}.csv", "w") as fh:
            fh.write("\n".join(lines) + "\n")
        open(f"{inbox}/italytravel_zempty_c{c:04d}.csv", "w").close()
        return keys

    def _combine_load(self, run_ts: str, new_target: str):
        from reddit_apache_airflow_postgres_pipeline_spark.operators.merge import (
            upsert_merge,
        )
        from reddit_apache_airflow_postgres_pipeline_spark.plans.pipelines import (
            run_combine,
        )
        from reddit_apache_airflow_postgres_pipeline_spark.schemas import (
            FETCH_CSV,
            UPSERT_UPDATE_COLUMNS,
        )

        res = run_combine(self.spark, self.cfg, run_ts)
        stage = (
            self.spark.read.option("header", True).schema(FETCH_CSV)
            .csv(res.combined_path)
        )
        with self.rec.span("operators.merge.upsert_merge"):
            merged = upsert_merge(
                self.spark.read.parquet(self.target), stage, "thing_key",
                UPSERT_UPDATE_COLUMNS,
            )
        with self.rec.span("load.target_write"):
            merged.write.mode("overwrite").parquet(new_target)
        return res

    def cycle_once(self, c: int) -> None:
        from reddit_apache_airflow_postgres_pipeline_spark.plans.pipelines import (
            run_fetch,
        )

        rng = np.random.default_rng([self.ctx.seed, 3, c])
        fetch_keys = set()
        for j in range(_FETCHES_PER_CYCLE):
            rows = gen.listing_rows(
                rng, c * _FETCHES_PER_CYCLE + j, _LISTING_ROWS,
                _POST_POOL, _CREATED_BASE,
            )
            fetch_keys |= {_sha(f"t3_{r['id']}") for r in rows}
            ok, _ = self.rec.op(
                "fetch", run_fetch, self.spark, self.cfg,
                f"c{c:04d}_r{j}", rows=rows,
            )
            self.rows_fetched += len(rows) if ok else 0
        legacy_keys = self._land_side_files(c, rng)
        new_target = f"{self.dir}/target/v{c + 1}.parquet"
        ok, res = self.rec.op(
            "combine_load", self._combine_load, f"c{c:04d}", new_target
        )
        if ok:
            self._check_cycle(res, fetch_keys | legacy_keys, new_target)
            self.target = new_target

    def _check_cycle(self, res, want_keys: set[str], new_target: str) -> None:
        import pandas as pd

        from reddit_apache_airflow_postgres_pipeline_spark.schemas import (
            UPSERT_UPDATE_COLUMNS,
        )

        self.expect(
            "etl.combined_rows_equal_distinct_keys", res.rows == len(want_keys),
            f"combined {res.rows} rows, generator has {len(want_keys)} keys",
        )
        self.scanned += res.rows_scanned
        self.dropped += res.rows_deduped_or_dropped
        self.files_scanned.append(len(res.used_files))
        stage = pd.read_csv(res.combined_path, dtype=str, keep_default_na=False)
        self.expect(
            "etl.combined_keys_match_generator",
            set(stage["thing_key"]) == want_keys, "combined key set differs",
        )
        old = pd.read_parquet(self.target).set_index("thing_key")
        new = pd.read_parquet(new_target).set_index("thing_key")
        stage = stage.set_index("thing_key")
        self.target_rows = len(new)
        self.expect(
            "etl.target_rows", len(new) == len(old.index.union(stage.index)),
            f"target {len(new)} rows",
        )
        both = old.index.intersection(stage.index)
        self.expect("etl.loads_overlap_target", len(both) > 0, "no overlap")
        for col in _IMMUTABLE:
            same = all(
                _norm(a) == _norm(b)
                for a, b in zip(old.loc[both, col], new.loc[both, col])
            )
            self.expect("etl.immutable_columns_kept", same, f"{col} changed")
        for col in UPSERT_UPDATE_COLUMNS:
            same = all(
                _norm(a) == _norm(b)
                for a, b in zip(stage.loc[both, col], new.loc[both, col])
            )
            self.expect("etl.update_columns_applied", same, f"{col} stale")

    def check(self) -> None:
        self.expect("etl.cycles_completed", self.cycles > 0 and bool(self.checks))

    def metrics(self) -> dict[str, float]:
        fetch = self.rec.lat["fetch"]
        cl = self.rec.lat["combine_load"]
        busy = sum(fetch) + sum(cl)
        self.detail = {
            "etl_fetch_p50_s": median(fetch),
            "etl_fetch_p90_s": percentile(fetch, 90),
            "etl_combine_load_p50_s": median(cl),
            "etl_rows_per_s": self.rows_fetched / busy,
            "cycles": self.cycles,
        }
        return {
            "op_p50_s": median(fetch),
            "op_p90_s": percentile(fetch, 90),
            "batch_p50_s": median(cl),
        }

    def layer_metrics(self) -> dict[str, float]:
        r = self.rec
        return {
            "sources.reddit.reddit_listing_df_s":
                r.call_median("sources.reddit.reddit_listing_df"),
            "sinks.csv.write_atomic_csv_s":
                r.call_median("sinks.csv.write_atomic_csv"),
            "sources.files.read_csv_inbox_s":
                r.call_median("sources.files.read_csv_inbox"),
            "sources.files.files_scanned":
                median(self.files_scanned) if self.files_scanned else 0,
            "plans.pipelines.combine_pipeline_s":
                r.call_median("plans.pipelines.combine_pipeline"),
            "sinks.archive.archive_files_s":
                r.call_median("sinks.archive.archive_files"),
            "operators.merge.upsert_merge_s":
                r.call_median("operators.merge.upsert_merge"),
            "load.target_write_s": r.call_median("load.target_write"),
            "load.target_rows": self.target_rows,
            "operators.dedup.dropped_ratio":
                self.dropped / self.scanned if self.scanned else 0.0,
        }


# -- ingest_serve --------------------------------------------------------------

DOC_SCHEMA = "doc_id long, text string"
_INPUT_ID_BASE = 1_000_000
_APPEND_ID_BASE = 3_000_000
_QUERY_ID_BASE = 5_000_000
_FILE_MTIME_BASE = 1_600_000_000
_K = 10
_N_PROBE = 4
_QUERY_BATCH = 8


class IngestServe(Workload):
    """Drains of the full admission chain (drift -> dedup -> span ->
    sketches -> text index) into an IVFPQ text index, with probe and
    append traffic on the same index store between drains."""

    name = "ingest_serve"
    setup_repeats = 1  # one cold build of reference + index is ~25 s

    def __init__(self, ctx):
        super().__init__(ctx)
        tiny = ctx.tiny
        self.snapshot_docs = 200 if tiny else 1000
        # the gates take one file per micro-batch: one file per drain
        # keeps a drain's job count fixed
        self.docs_per_drain = 20 if tiny else 100
        self.probes_per_drain = 2 if tiny else 6
        self.input_ids: set[int] = set()
        self.appended: set[int] = set()
        self.delta_dirs: list[int] = []

    def fixtures(self, d: str) -> None:
        from reddit_apache_airflow_postgres_pipeline_spark.sinks import text_index
        from reddit_apache_airflow_postgres_pipeline_spark.streaming import drift_gate

        self.inbox, self.work = f"{d}/inbox", f"{d}/work"
        self.ref, self.ix = f"{d}/ref", f"{d}/index"
        self.decisions = f"{d}/dedup_decisions"
        os.makedirs(self.inbox, exist_ok=True)
        ids, texts = gen.corpus(self.ctx.seed, self.snapshot_docs)
        self.snapshot_ids = set(ids)
        self.history = list(texts)
        snap = self.spark.createDataFrame(list(zip(ids, texts)), DOC_SCHEMA)
        drift_gate.write_reference(snap, self.ref)
        text_index.write_text_index(snap, self.ix, kind="ivfpq")
        qids, qtexts = gen.corpus(self.ctx.seed, 64, id_base=_QUERY_ID_BASE)
        self.queries = list(zip(qids, qtexts))

    def _land(self, c: int) -> None:
        rng = np.random.default_rng([self.ctx.seed, 4, c])
        base = _INPUT_ID_BASE + c * 1000
        ids, texts = gen.corpus(self.ctx.seed, self.docs_per_drain, id_base=base)
        for i in range(len(texts)):
            if rng.random() < 0.10:  # near-dup of an earlier doc
                src = self.history[int(rng.integers(0, len(self.history)))].split()
                src[int(rng.integers(0, len(src)))] = str(rng.choice(gen.VOCAB))
                texts[i] = " ".join(src)
        self._write(f"c{c:04d}", ids, texts, 10 * c)
        self.history += texts
        if c == 0:  # one drifted file: short docs the PSI gate quarantines
            base = _INPUT_ID_BASE + 900_000
            ids = list(range(base, base + 20))
            texts = [gen.doc_text(rng, 1, 3) for _ in ids]
            self._write("c0000_zdrift", ids, texts, 1)

    def _write(self, name: str, ids, texts, tick: int) -> None:
        path = f"{self.inbox}/{name}.parquet"
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())}),
            path,
        )
        os.utime(path, (_FILE_MTIME_BASE + tick, _FILE_MTIME_BASE + tick))
        self.input_ids |= set(ids)

    def _drain(self):
        from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
            ingest_pipeline,
        )

        return ingest_pipeline.run_full_ingest_available_now(
            self.spark, self.inbox, DOC_SCHEMA, self.work, self.ref,
            index_path=self.ix, dedup_kwargs={"decisions_dir": self.decisions},
        )

    def _probe(self, b: int):
        from reddit_apache_airflow_postgres_pipeline_spark.sinks import text_index

        start = (b * _QUERY_BATCH) % len(self.queries)
        batch = (self.queries + self.queries)[start:start + _QUERY_BATCH]
        with self.rec.span("sinks.text_index.query_construct"):
            q = self.spark.createDataFrame(batch, DOC_SCHEMA)
            res = text_index.query_text_index(
                self.spark, self.ix, q, k=_K, n_probe=_N_PROBE
            )
        with self.rec.span("sinks.text_index.query_execute"):
            return [batch, res.collect()]

    def _append(self, a: int):
        from reddit_apache_airflow_postgres_pipeline_spark.sinks import text_index

        ids, texts = gen.corpus(self.ctx.seed, 5, id_base=_APPEND_ID_BASE + a * 10)
        with self.rec.span("sinks.text_index.append"):
            text_index.append_text_to_index(
                self.spark.createDataFrame(list(zip(ids, texts)), DOC_SCHEMA),
                self.ix,
            )
        self.appended |= set(ids)

    def cycle_once(self, c: int) -> None:
        self._land(c)
        self.rec.op("drain", self._drain)
        for i in range(self.probes_per_drain):
            self.delta_dirs.append(len(subdirs(f"{self.ix}/codes", "batch_id=")))
            n = c * self.probes_per_drain + i
            ok, out = self.rec.op("probe", self._probe, n)
            if ok:
                self._check_probe(*out)
            if i % 2 == 1:  # an append after every second probe
                self.rec.op("append", self._append, n)

    def _check_probe(self, batch, rows) -> None:
        per_q: dict[int, int] = {}
        for r in rows:
            per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
        ok = all(per_q.get(qid, 0) == _K for qid, _ in batch)
        self.expect("serve.k_rows_per_query", ok, f"rows per query {per_q}")

    @staticmethod
    def _ids(path: str, keep=None) -> set[int]:
        """First-column ids of a batch_id=* parquet dir tree, read with
        pyarrow so the checks add no Spark jobs."""
        import pyarrow.dataset as ds

        if not subdirs(path, "batch_id="):
            return set()
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
        rows = zip(t.column(0).to_pylist(), *(
            [t.column(keep[0]).to_pylist()] if keep else []))
        return {int(r[0]) for r in rows if keep is None or keep[1](r[1])}

    def check(self) -> None:
        from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index

        w = self.work
        quarantined = self._ids(f"{w}/drift/quarantined")
        admitted = self._ids(self.decisions, ("admitted", bool))
        rejected = self._ids(self.decisions, ("admitted", lambda a: not a))
        accepted = self._ids(f"{w}/accepted")
        served = self._ids(f"{w}/spanned", ("text_clean", lambda t: bool(t.strip())))
        n_parts = len(quarantined) + len(admitted) + len(rejected)
        self.expect(
            "ingest.admitted_rejected_quarantined_partition_inputs",
            quarantined | admitted | rejected == self.input_ids
            and n_parts == len(self.input_ids),
            f"{len(admitted)}+{len(rejected)}+{len(quarantined)} vs "
            f"{len(self.input_ids)} input ids",
        )
        self.expect("ingest.accepted_equals_admitted", accepted == admitted,
                    f"{len(accepted)} accepted vs {len(admitted)} admitted")
        self.expect("ingest.drift_file_quarantined", len(quarantined) > 0,
                    "no quarantined docs")
        live = {
            int(r[0]) for r in vector_index.read_codes(self.spark, self.ix)
            .select("neighbor_id").distinct().collect()
        }
        want = self.snapshot_ids | served | self.appended
        self.expect(
            "ingest.index_live_ids", live == want,
            f"live {len(live)} vs snapshot+admitted+appended {len(want)}; "
            f"missing {sorted(want - live)[:5]} extra {sorted(live - want)[:5]}",
        )
        self.expect("serve.k_rows_per_query", bool(self.checks), "no probe ran")
        self.counts = {
            "admitted": len(admitted), "rejected": len(rejected),
            "quarantined": len(quarantined),
        }

    def metrics(self) -> dict[str, float]:
        drain = self.rec.lat["drain"]
        probe = self.rec.lat["probe"]
        append = self.rec.lat["append"]
        docs_per_s = len(self.input_ids) / sum(drain)
        self.detail = {
            "ingest_drain_p50_s": median(drain),
            "ingest_docs_per_s": docs_per_s,
            "serve_probe_p50_s": median(probe),
            "serve_probe_p90_s": percentile(probe, 90),
            "serve_qps": _QUERY_BATCH * len(probe) / sum(probe),
            "serve_append_p50_s": median(append),
            "drains": self.cycles,
        }
        return {
            "op_p50_s": median(probe),
            "op_p90_s": percentile(probe, 90),
            "batch_p50_s": median(drain),
        }

    def layer_metrics(self) -> dict[str, float]:
        r, w = self.rec, self.work
        commits = sum(
            len(os.listdir(f"{w}/{c}/commits"))
            for c in subdirs(w, "ckpt_") if os.path.isdir(f"{w}/{c}/commits")
        )
        n_in = len(self.input_ids)
        return {
            "streaming.drift_gate_s": r.call_median("streaming.drift_gate"),
            "streaming.dedup_gate_s": r.call_median("streaming.dedup_gate"),
            "streaming.span_gate_s": r.call_median("streaming.span_gate"),
            "streaming.sketch_s": r.call_median("streaming.sketch"),
            "streaming.vector_index_stream_s":
                r.call_median("streaming.vector_index_stream"),
            "streaming.admitted_ratio": self.counts["admitted"] / n_in,
            "streaming.rejected_docs": self.counts["rejected"],
            "streaming.quarantined_docs": self.counts["quarantined"],
            "streaming.microbatches": commits,
            "streaming.dedup_gate.state_bytes": dir_bytes(f"{w}/dedup_state"),
            "streaming.dedup_gate.state_dirs": len(subdirs(f"{w}/dedup_state")),
            "streaming.span_gate.state_bytes": dir_bytes(f"{w}/span_state"),
            "sinks.text_index.query_construct_s":
                r.call_median("sinks.text_index.query_construct"),
            "sinks.text_index.query_execute_s":
                r.call_median("sinks.text_index.query_execute"),
            "sinks.vector_index.delta_dirs":
                median(self.delta_dirs) if self.delta_dirs else 0,
            "sinks.text_index.append_s": r.call_median("sinks.text_index.append"),
        }


# -- query_replay --------------------------------------------------------------


class QueryReplay(Workload):
    """bench.py's 10 headline queries over seeded tables, one
    construct-and-execute per query per pass."""

    name = "query_replay"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.sf = 0.0005 if ctx.tiny else 0.01
        self.names = replay_query_names()
        self.results: dict[str, tuple] = {}

    def fixtures(self, d: str) -> None:
        self.sf_dir = f"{d}/sf"
        gen.write_tables(self.sf_dir, self.sf, self.ctx.seed)

    def _query(self, fn, name: str):
        with self.rec.span(f"{REGISTRY_PREFIX}{name}.construct"):
            df = fn(self.spark, self.sf_dir)
        with self.rec.span(f"{REGISTRY_PREFIX}{name}.execute"):
            return df.columns, df.collect()

    def warm_up(self) -> None:
        """Untimed JVM warm-up (codegen, shuffle, broadcast, window)
        that would otherwise land on whichever query runs first."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        s = self.spark
        s.range(0, 200_000, 1, 4).selectExpr(
            "sum(id) as s", "count(distinct id % 97) as d"
        ).collect()
        r = s.read.parquet(f"{self.sf_dir}/region.parquet")
        r.join(F.broadcast(r.select("r_regionkey")), "r_regionkey").withColumn(
            "rn", F.row_number().over(
                Window.partitionBy("r_regionkey").orderBy("r_name"))
        ).collect()

    def cycle_once(self, c: int) -> None:
        from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import queries

        fns = queries()
        for name in self.names:
            ok, out = self.rec.op(f"q:{name}", self._query, fns[name], name)
            if ok:
                self.results[name] = out

    def check(self) -> None:
        import duckdb

        from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import oracle_sql
        from reddit_apache_airflow_postgres_pipeline_spark.sources.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
            )
        oracles = oracle_sql()
        for name in self.names:
            got = self.results.get(name)
            if got is None:
                self.expect("replay.oracle_match", False, f"{name}: no result")
                continue
            sql = oracles.get(name)
            if sql is None:  # rows-only contract
                continue
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            want = _fingerprint(res.fetchall(), dcols)
            have = _fingerprint([tuple(r) for r in got[1]], got[0])
            self.expect(
                "replay.oracle_match", have == want,
                f"{name}: spark rows/hash {have} vs duckdb {want}",
            )
        con.close()

    def metrics(self) -> dict[str, float]:
        per_q = {n: median(self.rec.lat[f"q:{n}"]) for n in self.names}
        per = list(per_q.values())
        total = sum(per)
        self.detail = {"replay_total_s": total, "queries_per_s": len(per) / total,
                       "passes": self.cycles, "query_s": per_q}
        return {
            "op_p50_s": median(per),
            "op_p90_s": percentile(per, 90),
            "batch_p50_s": total,
        }

    def layer_metrics(self) -> dict[str, float]:
        jobs: dict[str, list[int]] = {}
        for s in self.rec.spans:
            jobs.setdefault(s["name"], []).append(s["jobs"])
        out = {}
        for n in self.names:
            p = f"{REGISTRY_PREFIX}{n}"
            out[f"{p}.construct_s"] = self.rec.call_median(f"{p}.construct")
            out[f"{p}.execute_s"] = self.rec.call_median(f"{p}.execute")
            out[f"{p}.construct_jobs"] = median(jobs.get(f"{p}.construct", [0]))
        return out


def _cell(v) -> str:
    """The oracle tests' cell normalisation (tests/test_entry_oracle.py):
    12 significant digits for floats, NaN/NULL spelled out."""
    import math

    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if v is None:
        return "NULL"
    return str(v)


def _fingerprint(rows, cols) -> tuple[int, str]:
    """Row count plus an order-insensitive hash of the values, columns
    taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(norm).encode()).hexdigest()[:16]
    return len(rows), h


WORKLOADS = {w.name: w for w in (EtlCycle, IngestServe, QueryReplay)}
