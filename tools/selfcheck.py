#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only — the
engine itself is pure Scala/Spark; this script just lets us run the same
DuckDB-oracle comparison the driver runs, between rounds).

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>
  1. expects `sbt "runMain graft.Verify <sfDir> <outDir>"` to have run;
  2. prints each query Verify recorded as failed in
     <outDir>/verify_summary.json (when present), with its exception;
     such a query has no parquet and FAILs the compare below;
  3. loads each <outDir>/<name>/ parquet (Spark result);
  4. runs <outDir>/oracle_sql.json [name] in DuckDB over views of the
     sfDir parquet tables;
  5. compares after sorting columns by name and rows by all columns.
"""
import json, os, sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    """Sort columns by name, then rows; stringify for exact compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(repr(r[i]) for i in order))
    out.sort()
    return [c for c in sorted(cols)], out


def verify_failures(out_dir):
    """{name: error} of the queries Verify recorded as failed."""
    path = f"{out_dir}/verify_summary.json"
    if not os.path.exists(path):
        return {}
    queries = json.load(open(path))["queries"]
    return {n: q.get("error", "") for n, q in sorted(queries.items())
            if q["status"] != "pass"}


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    failed_in_verify = verify_failures(out_dir)
    for name, err in failed_in_verify.items():
        print(f"VERIFY-FAIL {name}: {err}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_vacuous = 0
    for name, sql in sorted(oracle.items()):
        try:
            spark_rel = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            s_cols = [d[0] for d in spark_rel.description]
            s_rows = spark_rel.fetchall()
            o_rel = con.execute(sql)
            o_cols = [d[0] for d in o_rel.description]
            o_rows = o_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: exec error: {str(e)[:300]}")
            n_fail += 1
            continue
        # HUGEINT guard: DuckDB promotes sum(int) to int128; the driver's
        # hasher distinguishes int128 from Spark's int64 even when Python
        # repr does not (the round-7 three-red root cause). Any oracle
        # output column typed HUGEINT/UHUGEINT is a fail regardless of
        # value equality — cast it to BIGINT in the oracle SQL.
        try:
            o_types = [r[1] for r in con.execute(
                f"DESCRIBE ({sql})").fetchall()]
        except Exception:
            o_types = []
        huge = [f"{c}:{t}" for c, t in zip(o_cols, o_types)
                if "HUGEINT" in str(t).upper()]
        if huge:
            print(f"FAIL {name}: oracle column(s) typed int128 "
                  f"(driver hash will diverge): {huge}")
            n_fail += 1
            continue
        sc, sr = canon(s_rows, s_cols)
        oc, orows = canon(o_rows, o_cols)
        if sc != oc:
            print(f"FAIL {name}: columns {sc} vs {oc}")
            n_fail += 1
        elif len(sr) != len(orows):
            print(f"FAIL {name}: rowcount {len(sr)} vs {len(orows)}")
            n_fail += 1
        elif sr != orows:
            bad = [i for i, (a, b) in enumerate(zip(sr, orows)) if a != b]
            print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; first:")
            i = bad[0]
            print(f"  spark : {sr[i]}")
            print(f"  oracle: {orows[i]}")
            n_fail += 1
        else:
            # vacuous-green guard (the r8 q20 class): a 0-row oracle match
            # proves nothing — a broken join/filter still hash-matches an
            # empty table. Loud warning so the threshold gets retuned.
            tag = " [VACUOUS: 0 rows]" if len(sr) == 0 else ""
            print(f"PASS {name} ({len(sr)} rows){tag}")
            if tag:
                n_vacuous += 1
            n_pass += 1
    vac = f", {n_vacuous} VACUOUS (0-row)" if n_vacuous else ""
    if failed_in_verify:
        # repeated here so the names survive in a log's last lines
        print(f"verify failed: {', '.join(failed_in_verify)}")
    print(f"== {n_pass} pass, {n_fail} fail{vac} ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
