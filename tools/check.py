#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (dev-only tooling;
the shipped engine is the Scala tree under src/).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet dir (written by graft.Verify),
runs the matching SQL from oracle_sql.json in DuckDB against the same
parquet tables, sorts columns by name and rows by value, and compares
cell-exactly. Exit code 1 if any query mismatches.

Each oracle runs once, into a DuckDB temp table that both the compare
and tools/dtype_audit.py's dtype audit read; the audit's report follows
the compare's, and exit code 1 also if the audit fails.
"""
import sys, os, json, glob
import duckdb
import dtype_audit

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(rows):
    out = []
    for r in rows:
        out.append(tuple(repr(c) for c in r))
    out.sort()
    return out


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = n_skip = 0
    dangerous, benign, errs = [], [], []
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"[MISS] {name}: no parquet written")
            n_bad += 1
            if name in oracle:
                errs.append((name, "no parquet written"))
            continue
        got_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        if name not in oracle:
            print(f"[SKIP] {name}: rows-only ({len(got_rel.fetchall())} rows)")
            n_skip += 1
            continue
        try:
            con.execute("CREATE OR REPLACE TEMP TABLE oracle_result AS "
                        + oracle[name])
        except Exception as e:
            print(f"[FAIL] {name}: oracle SQL error: {e}")
            errs.append((name, str(e)[:100]))
            n_bad += 1
            continue
        exp_rel = con.table("oracle_result")
        dtype_audit.audit(name, got_rel.df(), exp_rel.df(),
                          dangerous, benign, errs)
        got_cols = sorted(got_rel.columns)
        exp_cols = sorted(exp_rel.columns)
        if [c.lower() for c in got_cols] != [c.lower() for c in exp_cols]:
            print(f"[FAIL] {name}: columns {got_cols} vs {exp_cols}")
            n_bad += 1
            continue
        # Driver's hash gate is type-sensitive where pandas is: any
        # integer ≤64 bits numpy-normalizes to int64 on both sides, but
        # DuckDB HUGEINT (INT128, from an uncast sum()) survives as
        # object and hashes differently even when values agree (the
        # round-6 8-red-row failure mode). Mirror exactly that.
        def fam(t):
            t = str(t)
            if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                     "UTINYINT", "USMALLINT", "UINTEGER"):
                return "i64"
            return t
        got_types = dict(zip((c.lower() for c in got_rel.columns),
                             (fam(t) for t in got_rel.types)))
        exp_types = dict(zip((c.lower() for c in exp_rel.columns),
                             (fam(t) for t in exp_rel.types)))
        tmis = [(c, got_types[c], exp_types[c]) for c in got_types
                if got_types[c] != exp_types[c]]
        if tmis:
            print(f"[FAIL] {name}: column types differ: {tmis}")
            n_bad += 1
            continue
        got = norm(con.sql(
            f"SELECT {', '.join(got_cols)} FROM got_rel").fetchall())
        exp = norm(con.sql(
            f"SELECT {', '.join(exp_cols)} FROM exp_rel").fetchall())
        if got == exp:
            print(f"[ OK ] {name}: {len(got)} rows")
            n_ok += 1
        else:
            print(f"[FAIL] {name}: {len(got)} vs {len(exp)} rows")
            only_got = [r for r in got if r not in set(exp)][:3]
            only_exp = [r for r in exp if r not in set(got)][:3]
            for r in only_got:
                print(f"         spark-only: {r}")
            for r in only_exp:
                print(f"         duck-only : {r}")
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} bad, {n_skip} rows-only")
    failed = dtype_audit.report(dangerous, benign, errs, len(oracle))
    return 1 if n_bad or failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
