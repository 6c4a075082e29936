"""Output checks, run outside the timed region.

Registry queries are compared with their ``oracle_sql()`` in DuckDB through
``tools/check_oracle.py``'s type-aware ``canon_table`` hash.  A pipeline
run is recomputed in DuckDB from its source file: the transformed rows
(order-insensitive hash, ``sys_col*`` excluded), the error-row count and
every stats cell of the non-``sys_col`` columns (numbers within a relative
tolerance).  ``corrupt=True`` perturbs the expected side, so the self-test
can show that a wrong expectation fails the check.
"""

from __future__ import annotations

import math
import os
from pathlib import Path

import duckdb

REL_TOL = 1e-9


def _connect(sf_dir: str | None = None, tables=()) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# -- registry queries ---------------------------------------------------------


class OracleChecker:
    def __init__(self, sf_dir: str, tables: list[str], oracles: dict, canon_table) -> None:
        self.con = _connect(sf_dir, tables)
        self.oracles = oracles
        self.canon_table = canon_table

    def check(self, name: str, got, corrupt: bool = False) -> str | None:
        """``None`` when ``got`` (an Arrow table) matches, else the reason."""
        want = self.con.execute(self.oracles[name]).arrow()
        if corrupt:
            want = want.slice(1)
        gc, _, gh = self.canon_table(got)
        wc, _, wh = self.canon_table(want)
        if got.num_rows != want.num_rows:
            return f"rows {got.num_rows} != oracle {want.num_rows}"
        if gc != wc:
            return f"columns {gc} != oracle {wc}"
        if gh != wh:
            return f"hash {gh} != oracle {wh}"
        return None

    def close(self) -> None:
        self.con.close()


# -- pipeline_orders ----------------------------------------------------------

# The transform chain of the benchmark config, in DuckDB: validation split,
# string normalisation (strip + lower), dedupe on o_orderkey, filter, clip,
# round(price, -2), rename o_custkey.
_VALID = (
    "(o_totalprice > 1000) IS NOT FALSE AND (o_orderstatus <> 'P') IS NOT FALSE"
)


def _norm(c: str) -> str:
    return f"lower(regexp_replace({c}, '^\\s+|\\s+$', '', 'g'))"


def _transformed_sql(src: str) -> str:
    clip = (
        "CASE WHEN o_totalprice IS NULL THEN NULL "
        "ELSE least(greatest(o_totalprice, 2000), 400000) END"
    )
    return f"""
        WITH v AS (SELECT * FROM read_parquet('{src}') WHERE {_VALID}),
        n AS (
            SELECT DISTINCT ON (o_orderkey)
                o_orderkey, o_custkey, {_norm("o_orderstatus")} AS o_orderstatus,
                o_totalprice, o_orderdate,
                {_norm("o_orderpriority")} AS o_orderpriority
            FROM v
        ),
        c AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, {clip} AS o_totalprice,
                   o_orderdate, o_orderpriority
            FROM n WHERE o_orderpriority <> '1-urgent'
        )
        SELECT o_orderkey, o_custkey AS customer_key, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, round(o_totalprice, -2) AS price_r
        FROM c
    """


def _columns(con, rel_sql: str) -> dict[str, str]:
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {rel_sql}").fetchall()}


_STATS = ("count", "null_count", "mean", "std", "min", "25%", "50%", "75%", "max",
          "null_proportion", "n_unique")


def _expected_stats(con, rel_sql: str, cols: dict[str, str]) -> dict:
    """``{(statistic, column): value}`` for ``cols`` (name -> DuckDB type)."""
    exprs, keys = [], []
    for c, typ in cols.items():
        numeric = typ in ("BIGINT", "INTEGER", "DOUBLE", "FLOAT", "SMALLINT")
        orderable = numeric or typ == "VARCHAR"
        per = {
            "count": f"count({c})",
            "null_count": f"count(*) - count({c})",
            "null_proportion": f"(count(*) - count({c})) / count(*)",
            "n_unique": f"count(DISTINCT {c})",
        }
        if numeric:
            per |= {
                "mean": f"avg({c})",
                "std": f"stddev_samp({c})",
                "25%": f"quantile_cont({c}, 0.25)",
                "50%": f"quantile_cont({c}, 0.5)",
                "75%": f"quantile_cont({c}, 0.75)",
            }
        if orderable:
            per |= {"min": f"min({c})", "max": f"max({c})"}
        for stat, e in per.items():
            exprs.append(e)
            keys.append((stat, c))
    row = con.execute(f"SELECT {', '.join(exprs)} FROM ({rel_sql})").fetchone()
    return dict(zip(keys, row))


def _cell_matches(got: str | None, want) -> bool:
    if want is None or got is None:
        return want is None and got is None
    if isinstance(want, str):
        return got == want
    g = float(got)
    if math.isnan(float(want)):
        return math.isnan(g)
    return math.isclose(g, float(want), rel_tol=REL_TOL, abs_tol=REL_TOL)


def check_pipeline_output(
    src: str, out_dir: Path, canon_table, corrupt: bool = False
) -> list[str]:
    """Problems found in one ``run_pipeline`` output directory."""
    con = _connect()
    problems: list[str] = []
    try:
        want_rel = _transformed_sql(src)
        got_rel = f"SELECT * FROM read_parquet('{out_dir}/transformed_data/*.parquet')"
        got = con.execute(got_rel).arrow()
        got = got.select([c for c in got.column_names if not c.startswith("sys_col")])
        want = con.execute(want_rel).arrow()
        if corrupt:
            want = want.slice(1)
        if got.num_rows != want.num_rows:
            problems.append(f"transformed rows {got.num_rows} != {want.num_rows}")
        g = canon_table(got)
        w = canon_table(want)
        if g[1] != w[1]:
            problems.append(f"transformed schema {g[1]} != {w[1]}")
        elif g[2] != w[2]:
            problems.append(f"transformed hash {g[2]} != {w[2]}")

        n_err = con.execute(
            f"SELECT count(*) FROM read_parquet('{src}') WHERE NOT ({_VALID})"
        ).fetchone()[0]
        err_files = list((out_dir / "error_records").glob("*.parquet"))
        got_err = (
            con.execute(
                f"SELECT count(*) FROM read_parquet('{out_dir}/error_records/*.parquet')"
            ).fetchone()[0]
            if err_files
            else 0
        )
        if got_err != n_err:
            problems.append(f"error rows {got_err} != {n_err}")

        src_cols = _columns(con, f"SELECT * FROM read_parquet('{src}')")
        out_cols = _columns(con, want_rel)
        for stem, rel, cols in (
            ("pre_transform", f"SELECT * FROM read_parquet('{src}') WHERE {_VALID}", src_cols),
            ("post_transform", want_rel, out_cols),
        ):
            want_cells = _expected_stats(con, rel, cols)
            stats_rel = f"SELECT * FROM read_parquet('{out_dir}/desc_stats/{stem}/*.parquet')"
            table = con.execute(stats_rel).fetchall()
            names = list(_columns(con, stats_rel))
            got_cells = {
                (row[0], c): row[i] for row in table for i, c in enumerate(names) if i
            }
            if [r[0] for r in table] != list(_STATS):
                problems.append(f"{stem} statistics {[r[0] for r in table]}")
            for key, value in want_cells.items():
                if corrupt and key == ("count", "o_orderkey"):
                    value += 1
                if key not in got_cells:
                    problems.append(f"{stem} missing cell {key}")
                elif not _cell_matches(got_cells[key], value):
                    problems.append(f"{stem} {key}: {got_cells[key]!r} != {value!r}")
    finally:
        con.close()
    return problems
