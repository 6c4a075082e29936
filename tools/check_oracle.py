#!/usr/bin/env python
"""Local replica of the driver's correctness gate — TYPE-AWARE since r4.

Runs each ``__spark_entry__.queries()`` entry at sf0.01 and compares with
the matching ``oracle_sql()`` in DuckDB: row count, sorted column names,
and an order-insensitive value hash.

Round-4 hardening: both sides are fetched via **Arrow** (``sdf.toArrow()``
/ ``con.execute(...).arrow()``) and the hash covers a **dtype tag per
column** in addition to the values.  Rounds 1–3 fetched Python rows and
canonicalised ``Decimal→float`` / ints losslessly, which erased exactly
the type information the driver hashes: q13 (Spark ``decimal(28,2)`` vs
DuckDB ``decimal128(38,2)``) and q22 (Spark ``LONG`` vs DuckDB windowed-SUM
``HUGEINT``) were local-green but driver-red for three rounds.  This
replica must flag those — identical values in different physical types are
a MISMATCH.

Type normalisation (calibrated against the driver's green set, which
freely mixes Spark INT vs DuckDB BIGINT e.g. length()/size() counts, and
tz-aware vs naive microsecond timestamps):
  - every integer width            -> "int"      (driver-green q23 etc.)
  - string / large_string          -> "str"
  - timestamp any unit/tz          -> "ts", value normalised to naive UTC
  - date32/64                      -> "date"
  - float64                        -> "f64"; float16/32 -> "f32"
  - decimal128/256(p,s)            -> "decimal(p,s)"  (NOT normalised:
        cross-engine precision/scale rules differ and the driver hashes
        them — the q13/q22 lesson.  Oracle-checked queries should output
        BIGINT/DOUBLE/VARCHAR/DATE, or cast BOTH sides to one decimal type.)
  - list/struct/map recurse on the element tags.

Usage: python tools/check_oracle.py [query ...]    # default: all
       SF_DIR=/root/testdata/sf0.001 python tools/check_oracle.py
       python tools/check_oracle.py --json CORRECTNESS_LOCAL_r4.json

``--json PATH`` additionally writes a per-query artifact in the same
shape as the driver's CORRECTNESS_r*.json, so the local replica's
verdict on driver-unchecked queries is recorded and diffable per round.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time
from datetime import date, datetime, timezone
from decimal import Decimal

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def type_tag(t: pa.DataType) -> str:
    """Normalised dtype tag — see module docstring for the calibration."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_float64(t):
        return "f64"
    if pa.types.is_floating(t):  # float16/float32
        return "f32"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{type_tag(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{type_tag(f.type)}" for f in t) + ">"
    if pa.types.is_map(t):
        return f"map<{type_tag(t.key_type)},{type_tag(t.item_type)}>"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def canon_value(v):
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        # str(Decimal) is scale-preserving ("1.50" != "1.500") — exactly the
        # representation sensitivity the driver exhibited on q13.
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, bytes):
        return "x" + v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon_table(tbl: pa.Table) -> tuple[list[str], list[str], str]:
    """Return (sorted col names, sorted (name,tag) schema line, value hash).

    The hash covers the dtype-tagged schema line AND the sorted canonical
    rows, so a value-identical result in a different physical type hashes
    differently — matching the driver's observed behaviour.
    """
    cols = tbl.column_names
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    tags = [f"{cols[i]}:{type_tag(tbl.schema.field(cols[i]).type)}" for i in order]
    col_values = [[canon_value(v) for v in tbl.column(cols[i]).to_pylist()] for i in order]
    lines = sorted("|".join(col[r] for col in col_values) for r in range(tbl.num_rows))
    h = hashlib.sha256((";".join(tags) + "\n" + "\n".join(lines)).encode()).hexdigest()[:16]
    return sorted_cols, tags, h


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    import __spark_entry__ as entry_mod
    from polars_pipe_spark import get_spark
    from polars_pipe_spark.materialize import released

    spark = get_spark(app_name="oracle_check")

    args = sys.argv[1:]
    # --registry ladder: the full-fidelity TPC-H registry (r13), checked
    # only on fixtures that carry the extension schema (partsupp,
    # commit/receipt dates, shipmode, c_phone, p_container)
    registry = "main"
    if "--registry" in args:
        i = args.index("--registry")
        if i + 1 >= len(args):
            print(
                "usage: check_oracle.py [query ...] [--registry main|ladder]"
                " [--json PATH]",
                file=sys.stderr,
            )
            return 2
        registry = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if registry not in ("main", "ladder"):
        print(f"unknown --registry {registry!r} (main|ladder)", file=sys.stderr)
        return 2
    if registry == "ladder":
        # fail fast with a real message instead of a downstream DuckDB
        # missing-table error (r13 ADVICE): the ladder queries need the
        # extended generator schema, which driver fixtures don't carry
        needed = [f"{sf_dir}/partsupp.parquet"]
        missing = [p for p in needed if not os.path.exists(p)]
        if not missing:
            import pyarrow.parquet as _pq
            li_cols = set(_pq.read_schema(f"{sf_dir}/lineitem.parquet").names)
            if not {"l_commitdate", "l_receiptdate", "l_shipmode"} <= li_cols:
                missing.append(f"{sf_dir}/lineitem.parquet extension columns")
        if missing:
            print(
                f"--registry ladder needs the EXTENDED schema, but {sf_dir} "
                f"lacks: {missing}. Generate a full-schema fixture with "
                "`python tools/gen_testdata.py --sf <sf> --out <dir>` "
                "(driver fixtures under /root/testdata never carry it).",
                file=sys.stderr,
            )
            return 2

    con = duckdb.connect()
    extra = ["partsupp"] if os.path.exists(f"{sf_dir}/partsupp.parquet") else []
    for t in TABLES + extra:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    if registry == "ladder":
        queries = entry_mod.ladder_queries()
        oracles = entry_mod.ladder_oracle_sql()
    else:
        queries = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: check_oracle.py [query ...] [--json PATH]", file=sys.stderr)
            return 2
        json_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    wanted = args or list(queries)

    report: dict[str, dict] = {}

    def record(name, *, rows=None, orows=None, err=None, rm=None, sm=None, hm=None):
        report[name] = {
            "rows_match": rm, "schema_match": sm, "hash_match": hm,
            "spark_rows": rows, "oracle_rows": orows, "err": err,
        }

    n_pass = n_fail = n_weak = 0
    for name in wanted:
        if name not in queries:
            print(f"{name}: NOT IN queries()")
            record(name, err="not_in_queries")
            n_fail += 1
            continue
        t0 = time.time()
        try:
            # what a query materialises must not leak into the rest of
            # the sweep (150+ queries share this one session)
            with released():
                sdf = queries[name](spark, sf_dir)
                s_tbl = sdf.toArrow()
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            record(name, err=f"spark:{type(e).__name__}")
            n_fail += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"{name}: rows={s_tbl.num_rows} (rows-only check, no oracle) [{spark_s:.1f}s]")
            record(name, rows=s_tbl.num_rows, err="no_oracle")
            n_weak += 1
            continue
        try:
            d_tbl = con.execute(oracles[name]).arrow()
        except Exception as e:
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:200]}")
            record(name, rows=s_tbl.num_rows, err=f"duckdb:{type(e).__name__}")
            n_fail += 1
            continue

        sc, st, sh = canon_table(s_tbl)
        dc, dt, dh = canon_table(d_tbl)
        record(
            name, rows=s_tbl.num_rows, orows=d_tbl.num_rows,
            rm=s_tbl.num_rows == d_tbl.num_rows, sm=sc == dc, hm=sh == dh,
        )
        problems = []
        if s_tbl.num_rows != d_tbl.num_rows:
            problems.append(f"rowcount spark={s_tbl.num_rows} duck={d_tbl.num_rows}")
        if sc != dc:
            problems.append(f"cols spark={sc} duck={dc}")
        if sh != dh:
            problems.append(f"hash spark={sh} duck={dh}")
        if problems:
            print(f"{name}: MISMATCH {'; '.join(problems)} [{spark_s:.1f}s]")
            if st != dt:
                for a, b in zip(st, dt):
                    if a != b:
                        print(f"   dtype spark={a} duck={b}")
            elif sc == dc and s_tbl.num_rows == d_tbl.num_rows:
                # same types + counts: show first differing canonical row
                _, _, _ = sc, dc, None
                s_cols = s_tbl.column_names
                order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                s_vals = [[canon_value(v) for v in s_tbl.column(s_cols[i]).to_pylist()] for i in order]
                sl = sorted("|".join(c[r] for c in s_vals) for r in range(s_tbl.num_rows))
                d_cols = d_tbl.column_names
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                d_vals = [[canon_value(v) for v in d_tbl.column(d_cols[i]).to_pylist()] for i in order_d]
                dl = sorted("|".join(c[r] for c in d_vals) for r in range(d_tbl.num_rows))
                for a, b in zip(sl, dl):
                    if a != b:
                        print(f"   spark: {a[:220]}\n   duck : {b[:220]}")
                        break
            n_fail += 1
        else:
            print(f"{name}: OK rows={s_tbl.num_rows} hash={sh} [{spark_s:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_weak} rows-only, {n_fail} failed / {len(wanted)} total")
    if json_path:
        # subset runs MERGE into an existing artifact (a 4-query re-check
        # must not clobber the 200-query record); a full sweep replaces
        # it outright so renamed/removed queries don't linger
        if args and os.path.exists(json_path):
            with open(json_path) as fh:
                merged = json.load(fh)
            merged.update(report)
            merged = {k: v for k, v in merged.items() if k in queries}
            report = merged
        with open(json_path, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
        print(f"wrote {json_path} ({len(report)} queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
