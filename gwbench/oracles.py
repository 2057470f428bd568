"""Output checks against DuckDB.

Every (route or query, bind) pair a run issues is compared once, after
the measured window, with a DuckDB query over the same fixture: the
registered oracle of a ``/run`` name or engine query with the bind
spliced in, or, for the ``/q`` and ``/db`` routes, the reference
template's SQL with its parameters substituted.
"""

from __future__ import annotations

import json
import math
import os
import re

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SIG_DIGITS = 9  # floats are compared to this many significant digits


def connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _replace(sql: str, old: str, new: str) -> str:
    if old not in sql:
        raise ValueError(f"oracle splice: {old!r} not found")
    return sql.replace(old, new)


# /run name -> splice(oracle_sql, bind) giving the oracle of that bind
RUN_SPLICES = {
    "q_topk": lambda sql, b: _replace(sql, "LIMIT 10", f"LIMIT {int(b['k'])}"),
    "q_sort_paginate": lambda sql, b: _replace(
        sql, "LIMIT 50 OFFSET 100", f"LIMIT 50 OFFSET {50 * (int(b['page']) - 1)}"
    ),
    "q_agg_groupby": lambda sql, b: _replace(
        sql, "TIMESTAMP '1998-09-02 00:00:00'", f"TIMESTAMP '{b['ship_before']}'"
    ),
    "q_agg_count_distinct": lambda sql, b: _replace(
        sql, "FROM orders", f"FROM orders WHERE o_orderdate >= TIMESTAMP '{b['since']}'"
    ),
    "q_join_multi": lambda sql, b: _replace(sql, "'ASIA'", f"'{b['region']}'"),
    "q_point_lookup": lambda sql, b: _replace(
        sql, "(SELECT min(c_custkey) FROM customer)", str(int(b["key"]))
    ),
    "q_child_list": lambda sql, b: _replace(
        sql, "s_nationkey = 3", f"s_nationkey = {int(b['parent_id'])}"
    ),
    "q_filter_fk": lambda sql, b: _replace(
        sql, "(SELECT min(o_orderkey) FROM orders)", str(int(b["orderkey"]))
    ),
    "q_describe": lambda sql, b: _replace(sql, "DESCRIBE customer", f"DESCRIBE {b['table']}"),
}


def _lit(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def template_sql(sql: str, positional: list[str], named: dict[str, str]) -> str:
    """A gateway template (``?`` slots rewritten to ``:pN``) with its
    binds substituted as DuckDB literals and identifiers."""

    def sub(m):
        ident, key = m.groups()
        if ident is not None:
            return named[ident]  # an identifier the gateway validates
        if re.fullmatch(r"p\d+", key):
            return _lit(positional[int(key[1:]) - 1])
        return _lit(named[key])

    return re.sub(r"IDENTIFIER\(\s*:(\w+)\s*\)|:(\w+)", sub, sql, flags=re.I)


# ---------------------------------------------------------------- rows


def _cell(v):
    """Canonical form of one JSON cell: numbers (including the strings
    the gateway makes of decimals) as rounded floats, the rest as
    text."""
    if v is None or isinstance(v, bool):
        return ("z", repr(v))
    if isinstance(v, (int, float)):
        return ("n", _sig(float(v)))
    if isinstance(v, str):
        try:
            return ("n", _sig(float(v)))
        except ValueError:
            return ("s", v)
    return ("s", json.dumps(v, sort_keys=True, default=str))


def _sig(x: float) -> float:
    if x == 0 or not math.isfinite(x):
        return x
    return round(x, SIG_DIGITS - 1 - int(math.floor(math.log10(abs(x)))))


def canon_rows(rows: list[dict]) -> list[tuple]:
    return [tuple(sorted((k, _cell(v)) for k, v in r.items())) for r in rows]


def oracle_rows(con, sql: str) -> list[dict]:
    """DuckDB rows passed through the same JSON encoding the gateway
    applies (``json.dumps(default=str)``)."""
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = [dict(zip(cols, r)) for r in res.fetchall()]
    return json.loads(json.dumps(rows, default=str))


def compare_rows(got: list[dict], want: list[dict], ordered: bool, limit: int | None) -> str:
    """'' when ``got`` is the oracle result; else why not. With a
    ``limit`` the gateway may return any ``limit`` rows of a larger
    unordered result, so ``got`` must be a sub-multiset of it."""
    g, w = canon_rows(got), canon_rows(want)
    if limit is not None and len(w) > limit and not ordered:
        if len(g) != limit:
            return f"{len(g)} rows, want {limit}"
        pool: dict = {}
        for r in w:
            pool[r] = pool.get(r, 0) + 1
        for r in g:
            if pool.get(r, 0) == 0:
                return f"row not in oracle result: {r[:4]}"
            pool[r] -= 1
        return ""
    if limit is not None:
        w = w[:limit]
    if not ordered:
        g, w = sorted(g), sorted(w)
    if len(g) != len(w):
        return f"{len(g)} rows, want {len(w)}"
    for a, b in zip(g, w):
        if a != b:
            return f"first difference: {a[:4]} vs {b[:4]}"
    return ""


# --------------------------------------------------------------- tables


def _norm_expr(col: str, dtype: str) -> str:
    q = '"' + col.replace('"', '""') + '"'
    t = dtype.upper()
    if t.startswith(("DOUBLE", "FLOAT", "REAL", "DECIMAL")):
        x = f"CAST({q} AS DOUBLE)"
        return (
            f"CASE WHEN {x} = 0 OR NOT isfinite({x}) THEN {x} "
            f"ELSE round({x}, {SIG_DIGITS - 1} - CAST(floor(log10(abs({x}))) AS INTEGER)) END"
        )
    if t.startswith("TIMESTAMP WITH TIME ZONE"):
        return f"CAST(CAST({q} AS TIMESTAMP) AS VARCHAR)"
    return f"CAST({q} AS VARCHAR)"


def compare_table(con, arrow_tbl, oracle_sql: str) -> str:
    """'' when a Spark result (an Arrow table) equals the oracle as a
    multiset of rows; else why not. Columns are matched by name;
    floats are compared to SIG_DIGITS significant digits."""
    con.register("spark_result", arrow_tbl)
    try:
        con.execute(f"CREATE OR REPLACE TEMP VIEW oracle_result AS {oracle_sql}")
        s_cols = {r[0]: r[1] for r in con.execute("DESCRIBE spark_result").fetchall()}
        o_cols = {r[0]: r[1] for r in con.execute("DESCRIBE oracle_result").fetchall()}
        if sorted(s_cols) != sorted(o_cols):
            return f"columns {sorted(s_cols)} != {sorted(o_cols)}"
        names = sorted(s_cols)
        s_sel = ", ".join(_norm_expr(c, s_cols[c]) for c in names)
        o_sel = ", ".join(_norm_expr(c, o_cols[c]) for c in names)
        n_s, n_o = (
            con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in ("spark_result", "oracle_result")
        )
        if n_s != n_o:
            return f"{n_s} rows, want {n_o}"
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {s_sel} FROM spark_result "
            f"EXCEPT ALL SELECT {o_sel} FROM oracle_result)"
        ).fetchone()[0]
        return f"{extra} rows differ" if extra else ""
    finally:
        con.unregister("spark_result")
