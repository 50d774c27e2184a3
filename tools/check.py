#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (SURVEY.md §6).

Usage: python3 tools/check.py <sfDir> <outDir>
  1. expects `sbt "runMain graft.Verify <sfDir> <outDir>"` to have run,
     leaving <outDir>/<name>/ parquet dirs + oracle_sql.json;
  2. registers every parquet in <sfDir> as a DuckDB view named by file
     basename;
  3. runs each oracle SQL, compares to the Spark parquet result:
     row count, column names (sorted), and value hash over rows sorted
     by all columns.

This is a best-effort replica — the real driver may differ in details,
but passing here catches aliasing/typing/float-order bugs early.
"""
import sys, os, json, hashlib
import duckdb
import pandas as pd
import numpy as np


def canon_rows(df: pd.DataFrame):
    """Sorted canonical row strings (the hash pre-image) — also used to
    dump mismatching rows on hash failure."""
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: ints -> int64, floats -> rounded repr,
    # timestamps -> iso, bools -> int
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("int64").astype(str)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64").astype(str)
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.map(lambda v: "null" if pd.isna(v) else f"{v:.9g}")
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]").map(
                lambda v: "null" if pd.isna(v) else v.isoformat())
        else:
            out[c] = s.map(lambda v: "null" if v is None else str(v))
    if len(out) == 0:
        return []
    return sorted(out.apply(lambda r: "\x01".join(r.values), axis=1).tolist())


def canon(df: pd.DataFrame) -> str:
    rows = canon_rows(df)
    if not rows:
        return hashlib.sha256(b"").hexdigest()
    return hashlib.sha256("\x02".join(rows).encode()).hexdigest()


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            name = f[:-8]
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)

    results = {}
    # an oracle row with no dump (Verify printed "failed" for it) fails
    # here too, instead of silently dropping out of the count
    names = set(oracles) | {n for n in os.listdir(out_dir)
                            if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(names):
        if not os.path.isdir(os.path.join(out_dir, name)):
            results[name] = {"check": "oracle", "ok": False,
                             "error": "no output dumped"}
            continue
        spark_df = con.sql(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        if name not in oracles:
            results[name] = {"check": "rows_only", "rows": len(spark_df),
                             "ok": len(spark_df) > 0}
            continue
        try:
            oracle_df = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = {"check": "oracle", "ok": False,
                             "error": f"duckdb: {e}"}
            continue
        cols_s = sorted(spark_df.columns)
        cols_o = sorted(oracle_df.columns)
        entry = {"check": "oracle",
                 "rows": [len(spark_df), len(oracle_df)],
                 "cols_match": cols_s == cols_o}
        if cols_s != cols_o:
            entry["cols"] = [cols_s, cols_o]
            entry["ok"] = False
        else:
            # dtype-family skew (int64 vs float64/object) is invisible to
            # the %.9g float collapse below but real drivers may hash the
            # two differently (r10's t15: DuckDB window SUM(BIGINT) ->
            # HUGEINT -> pandas float64 vs Spark int64) — fail it here.
            def kind(s):
                if pd.api.types.is_bool_dtype(s): return "bool"
                if pd.api.types.is_integer_dtype(s): return "int"
                if pd.api.types.is_float_dtype(s): return "float"
                if pd.api.types.is_datetime64_any_dtype(s): return "time"
                return "obj"
            skew = {c: [kind(spark_df[c]), kind(oracle_df[c])]
                    for c in cols_s
                    if kind(spark_df[c]) != kind(oracle_df[c])
                    and "obj" not in (kind(spark_df[c]), kind(oracle_df[c]))
                    # int-vs-float from genuine NULLs (pandas promotes) is
                    # fine only when the null side is float; flag the rest
                    and not (kind(spark_df[c]) == "float" and spark_df[c].isna().any())
                    and not (kind(oracle_df[c]) == "float" and oracle_df[c].isna().any())}
            hs, ho = canon(spark_df), canon(oracle_df)
            entry["hash_match"] = hs == ho
            if skew:
                entry["dtype_skew"] = skew
            entry["ok"] = (len(spark_df) == len(oracle_df)) and hs == ho \
                and not skew
            if hs != ho:
                # dump the first rows present on one side only, so a
                # driver-corpus-dependent divergence is diagnosable from
                # the artifact alone (VERDICT r9 ask)
                rs, ro = set(canon_rows(spark_df)), set(canon_rows(oracle_df))
                entry["spark_only"] = sorted(rs - ro)[:5]
                entry["oracle_only"] = sorted(ro - rs)[:5]
        results[name] = entry

    n_ok = sum(1 for r in results.values() if r.get("ok"))
    print(json.dumps(results, indent=1, default=str))
    print(f"\n== {n_ok}/{len(results)} ok")
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
