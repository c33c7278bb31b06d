"""``session.local_frame``: the package's one rows → DataFrame door.

It must keep the checks and results of ``createDataFrame(rows, schema)``
(same verifier, same schema, same rows in the same order) while planning
as an Arrow ``LocalTableScan`` instead of a pickled Python RDD
(``Scan ExistingRDD``), and no package module may go around it."""

from __future__ import annotations

import ast
import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

import reddit_apache_airflow_postgres_pipeline_spark as pkg
from reddit_apache_airflow_postgres_pipeline_spark.schemas import FETCH_CSV, REDDIT_RAW
from reddit_apache_airflow_postgres_pipeline_spark.session import local_frame
from reddit_apache_airflow_postgres_pipeline_spark.sinks.catalog import CATALOG_SCHEMA
from reddit_apache_airflow_postgres_pipeline_spark.sources import reddit as R
from reddit_apache_airflow_postgres_pipeline_spark.sources.files import read_csv_paths
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    cms_stream,
    drift_gate,
    hh_stream,
    hll_stream,
    qsketch_stream,
    span_gate,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.dedup_gate import (
    _BK_SCHEMA,
    _sig_schema,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.media_gate import _SIG_SCHEMA

GOOD_RAW = {
    "name": "t3_abc", "id": "abc", "created_utc": 1757396563.0, "score": 5,
    "num_comments": 2, "title": "Rome", "author": "navid",
    "permalink": "/r/ItalyTravel/comments/abc/rome/",
    "subreddit": "ItalyTravel", "link_flair_text": None,
}

# Every schema the package builds local relations with.
SCHEMAS_IN_USE = {
    "reddit_raw": REDDIT_RAW,
    "listing_payload": "payload string",
    "inbox_seq": "_file string, file_seq long",
    "inbox_empty": T.StructType(
        [T.StructField(c, T.StringType()) for c in ("id", "title")]
        + [
            T.StructField("_file", T.StringType()),
            T.StructField("file_seq", T.LongType()),
            T.StructField("row_seq", T.LongType()),
        ]
    ),
    "drift_cur": "bin int, n bigint",
    "drift_group_cur": "lang string, bin int, n bigint",
    "drift_decision": "psi double, admitted boolean, n_docs long",
    "drift_decision_ks": "psi double, ks double, admitted boolean, n_docs long",
    "drift_group_decision": "lang string, psi double, admitted boolean, n_docs long",
    "drift_group_decision_ks": (
        "lang string, psi double, ks double, admitted boolean, n_docs long"
    ),
    "dedup_state": _BK_SCHEMA,
    "dedup_sig_state": _sig_schema(4),
    "media_state": _SIG_SCHEMA,
    "replay_state": "bk string",
    "cms_cells": cms_stream._CELLS,
    "hh_candidates": hh_stream._CAND_SCHEMA,
    "hll_registers": hll_stream._registers_schema(["lang"]),
    "qsketch_cells": qsketch_stream._CELLS,
    "span_grams": span_gate._GRAM_SCHEMA,
    "combine_target": FETCH_CSV,
    "catalog": CATALOG_SCHEMA,
    "forget_ids": "vec_id long",
    "forget_report": "name string, category string, action string, rows_removed long",
    "snapshot_manifests": (
        "snapshot string, n_batches int, rows long, "
        "supersedes string, erasure_sha256 string"
    ),
    "snapshot_verify": (
        "snapshot string, batch_id int, rows long, rows_actual long, ok boolean"
    ),
    "quantiles": "q double",
    "range_bands": "lo double, hi double, band string",
}


def _value(dt: T.DataType, i: int):
    """A non-NULL value of ``dt`` for row ``i``, reaching the type's
    edges."""
    if isinstance(dt, T.StringType):
        return ["", "plain", "é—ü, \"q\"\n", "s" * 40][i % 4]
    if isinstance(dt, T.IntegerType):
        return [2**31 - 1, -(2**31), 0, i][i % 4]
    if isinstance(dt, T.LongType):
        return [2**63 - 1, -(2**63), 0, i * 2**40][i % 4]
    if isinstance(dt, T.DoubleType):
        return [-0.0, 1e300, 0.1 + 0.2, -i / 7][i % 4]
    if isinstance(dt, T.BooleanType):
        return i % 2 == 0
    raise AssertionError(f"no sample values for {dt}")


def _rows(struct: T.StructType, n: int = 12) -> list:
    """``n`` rows of ``struct``, cycling through the input forms the
    package passes: tuples, dicts (keys out of schema order, matched by
    name) and ``Row``s as ``.collect()`` returns them. Each column is
    NULL on every third row."""
    names = struct.names
    as_row = Row(*names)
    rows = []
    for i in range(n):
        t = tuple(
            None if (i + j) % 3 == 0 else _value(f.dataType, i)
            for j, f in enumerate(struct)
        )
        rows.append(
            [t, dict(reversed(list(zip(names, t)))), as_row(*t)][i % 3]
        )
    return rows


def _plan(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _assert_local_scan(df) -> None:
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("name", sorted(SCHEMAS_IN_USE))
def test_local_frame_equals_create_dataframe(spark, name):
    schema = SCHEMAS_IN_USE[name]
    struct = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    for rows in (_rows(struct), []):
        want = spark.createDataFrame(rows, schema)
        got = local_frame(spark, rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()  # same rows, same order


@pytest.mark.parametrize(
    "field,value",
    [
        ("score", "abc"),
        ("score", "3"),
        ("score", 1.0),
        ("score", True),
        ("score", 2**40),
        ("created_utc", 5),
    ],
)
def test_rows_rejected_by_create_dataframe_stay_rejected(spark, field, value):
    bad = [GOOD_RAW, dict(GOOD_RAW, **{field: value})]
    with pytest.raises((TypeError, ValueError)) as want:
        spark.createDataFrame(bad, REDDIT_RAW)
    with pytest.raises((TypeError, ValueError)) as got:
        R.reddit_listing_df(spark, bad)
    assert type(got.value) is type(want.value)
    assert str(got.value) == str(want.value)


def test_listing_df_plans_as_local_table_scan(spark):
    df = R.reddit_listing_df(spark, [GOOD_RAW, dict(GOOD_RAW, id="def")])
    _assert_local_scan(df)
    assert [r["id"] for r in df.collect()] == ["abc", "def"]


def test_inbox_lineage_table_plans_as_local_table_scan(spark, tmp_path):
    for i in range(3):
        with open(tmp_path / f"f{i}.csv", "w") as fh:
            fh.write(f"id,title\nk{i},t{i}\n")
    scan = read_csv_paths(spark, sorted(str(p) for p in tmp_path.iterdir()))
    _assert_local_scan(scan.df)
    assert sorted((r["id"], r["file_seq"]) for r in scan.df.collect()) == [
        ("k0", 0), ("k1", 1), ("k2", 2)
    ]


def test_drift_gate_batch_counts_plan_as_local_table_scan(spark, monkeypatch):
    built = []

    def spy(*args):
        df = local_frame(*args)
        built.append(df)
        return df

    monkeypatch.setattr(drift_gate, "local_frame", spy)
    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (10 + i))) for i in range(40)],
        "doc_id long, text string",
    )
    ref = drift_gate.reference_counts(docs)
    psi, ks, n = drift_gate.batch_drift_stats(docs, ref)
    assert (psi, ks, n) == (0.0, 0.0, 40)
    (cur,) = built
    _assert_local_scan(cur)


def test_no_package_module_builds_frames_outside_local_frame():
    """Rows → DataFrame goes through session.local_frame only, so new
    code stays on the Arrow local-relation path."""
    offenders = []
    root = os.path.dirname(pkg.__file__)
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        allowed: set[int] = set()
        if os.path.relpath(path, root) == "session.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path}:{node.lineno}")
    assert offenders == [], (
        "build driver-side rows with session.local_frame, not "
        f"createDataFrame: {offenders}"
    )
