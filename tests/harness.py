"""Local oracle-differential harness replicating the driver's compare:
row count + schema (column names) + order-insensitive value comparison
between the Spark query and the DuckDB oracle SQL.

Stricter than the driver on purpose: exact cell equality on canonical
string forms (floats via repr), so anything that passes here should
hash-match in CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math
import re

import duckdb
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(v)
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    return str(v)


def canon_df(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [
        tuple(canon_cell(row[c]) for c in cols)
        for _, row in df[cols].iterrows()
    ]
    rows.sort()
    return cols, rows


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    s_cols, s_rows = canon_df(spark_df)
    o_cols, o_rows = canon_df(oracle_df)
    if s_cols != o_cols:
        problems.append(f"columns differ: spark={s_cols} oracle={o_cols}")
        return problems
    if len(s_rows) != len(o_rows):
        problems.append(f"row count differs: spark={len(s_rows)} oracle={len(o_rows)}")
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if a != b:
            problems.append(f"row {i} differs:\n  spark : {a}\n  oracle: {b}")
            if len(problems) > 5:
                break
    return problems


_CTE = re.compile(r"(\w+)\s+AS\s*\(", re.I)


def materialized(sql: str) -> str:
    """``sql`` with every non-recursive CTE marked MATERIALIZED. DuckDB
    otherwise inlines each reference to a CTE, and the near-dedup
    oracles re-run their whole MinHash chain per reference (about a
    minute per check instead of about two seconds); the rows are the
    same. The rewrite of perfbench/batch_pipeline.py's ``materialized``,
    restricted to the entries of WITH lists: a named window
    (``WINDOW w AS (...)``) takes no MATERIALIZED."""
    marks = []
    for w in re.finditer(r"\bWITH\s+(?:RECURSIVE\s+)?", sql, re.I):
        at = w.end()
        while m := _CTE.match(sql, at):
            depth, i = 1, m.end()
            while depth and i < len(sql):
                depth += {"(": 1, ")": -1}.get(sql[i], 0)
                i += 1
            if not re.search(rf"\b{m.group(1)}\b", sql[m.end():i]):
                marks.append(m.end() - 1)  # recursive CTEs stay plain
            nxt = re.compile(r"\s*,\s*").match(sql, i)
            if nxt is None:
                break
            at = nxt.end()
    for p in sorted(marks, reverse=True):
        sql = sql[:p] + "MATERIALIZED " + sql[p:]
    return sql


def run_query(spark, sf_dir: str, name: str):
    from stupp_exclusion_etl_spark.plans import REGISTRY

    q = REGISTRY[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    if q.oracle is None:
        return spark_pdf, None
    con = duck_con(sf_dir)
    oracle_pdf = con.execute(materialized(q.oracle)).fetchdf()
    con.close()
    return spark_pdf, oracle_pdf


def check(spark, sf_dir: str, name: str) -> list[str]:
    spark_pdf, oracle_pdf = run_query(spark, sf_dir, name)
    if oracle_pdf is None:
        return [] if len(spark_pdf) > 0 else ["rows-only query returned 0 rows"]
    return compare(spark_pdf, oracle_pdf)


def plan_str(df, mode: str = "formatted") -> str:
    """Formatted physical plan of a DataFrame — the one place that
    touches the private _sc/_jdf plumbing (plan-shape tests import
    this instead of re-deriving the incantation)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )
