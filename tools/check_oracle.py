#!/usr/bin/env python3
"""Local dev harness mirroring the driver's t2 correctness gate.

Usage:
  python3 tools/check_oracle.py sfDir outDir [--skip-verify]
      [--against PARENT_ORACLE_SQL_JSON] [query...]

Runs `sbt runMain graft.Verify <sfDir> <outDir>` (unless --skip-verify),
then for each query in <outDir>/oracle_sql.json: executes the oracle SQL
in DuckDB (views named after the parquet tables) and compares against
the Spark parquet dump — columns sorted by name, rows sorted by all
columns, exact value equality (floats compared exactly; report max
abs diff when close).

--against takes another oracle_sql.json (say, one written by a parent
commit's Verify over the same sfDir). For every entry whose SQL text
differs between the two files, both SQL texts run in DuckDB and their
sorted rows must be bitwise equal: a refactor of the oracle SQL must not
move a single bit of any answer. An entry whose rows differ but whose two
SQL texts are equal once numeric literals are masked reads MODEL, not
DIFF: its oracle embeds a trained model (codewords, centroids, weights)
as literals, so retraining moves its answer on both sides at once. Such
an entry still passes or fails the engine-vs-oracle compare above, and
MODEL alone does not set exit status 1.
"""
import argparse, json, math, re, struct, subprocess, sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
REPO = Path(__file__).resolve().parent.parent
# a numeric literal not glued to an identifier: 12, -0.5, 1.25E-4
NUMBER = re.compile(r"(?<![\w.])-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?")


def masked(sql):
    """`sql` with every numeric literal replaced by `#`."""
    return NUMBER.sub("#", sql)


def norm(v):
    # Floats compare BITWISE (the driver hashes typed values, so -0.0 vs
    # 0.0 or a 1-ulp difference is a real failure even though == passes).
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return struct.pack("<d", v).hex()
    return v


def sorted_rows(df):
    """(sorted column names, raw rows sorted by every column)."""
    cols = sorted(df.columns)
    df = df[cols].sort_values(cols).reset_index(drop=True)
    return cols, [list(r) for r in df.itertuples(index=False)]


def compare(got, exp):
    """None when `got` and `exp` (DataFrames) hold bitwise-equal sorted
    rows, else a one-line description of the first difference."""
    gc, g = sorted_rows(got)
    ec, e = sorted_rows(exp)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    if all([norm(v) for v in a] == [norm(v) for v in b] for a, b in zip(g, e)):
        return None
    # worst float diff from the RAW values (norm() hex-encodes floats),
    # plus the first non-float mismatch
    worst = 0.0
    first = None
    for i, (a, b) in enumerate(zip(g, e)):
        for x, y in zip(a, b):
            if norm(x) == norm(y):
                continue
            if isinstance(x, float) and isinstance(y, float):
                worst = max(worst, abs(x - y))
            elif first is None:
                first = (i, x, y)
        if first is None and worst == 0.0 and [norm(v) for v in a] != [norm(v) for v in b]:
            first = (i, a, b)  # only -0.0 vs 0.0 or NaN so far: show the rows
    return f"value mismatch, max float diff {worst:.3e}, first non-float mismatch {first}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--skip-verify", action="store_true")
    ap.add_argument("--against", metavar="ORACLE_SQL_JSON")
    a = ap.parse_intermixed_args()
    sf_dir, out_dir, only = a.sf_dir, a.out_dir, set(a.queries)

    if not a.skip_verify:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}'],
            cwd=REPO, capture_output=True, text=True)
        if r.returncode != 0:
            print(r.stdout[-3000:], r.stderr[-3000:])
            sys.exit(1)

    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        pdir = Path(out_dir, name)
        if not pdir.exists():
            print(f"FAIL {name}: no Spark output dir")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        diff = compare(got, exp)
        if diff is None:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {diff}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")

    n_diff = n_model = 0
    if a.against:
        parent = json.loads(Path(a.against).read_text())
        for name in sorted(set(parent) ^ set(oracle)):
            if not only or name in only:
                side = "change" if name in oracle else "parent"
                print(f"ONLY-{side.upper()} {name}: not compared")
        changed = [n for n in sorted(set(parent) & set(oracle))
                   if parent[n] != oracle[n] and (not only or n in only)]
        for name in changed:
            try:
                diff = compare(con.execute(oracle[name]).fetchdf(),
                               con.execute(parent[name]).fetchdf())
            except Exception as e:
                diff = str(e)
            if diff is None:
                print(f"SAME {name}: changed SQL, bitwise-equal rows")
            elif masked(oracle[name]) == masked(parent[name]):
                print(f"MODEL {name}: only numeric literals changed, {diff}")
                n_model += 1
            else:
                print(f"DIFF {name}: {diff}")
                n_diff += 1
        n_same = len(changed) - n_diff - n_model
        print(f"== against {a.against}: {len(changed)} changed, "
              f"{n_same} bitwise-equal, {n_model} model, {n_diff} differ ==")
    sys.exit(1 if n_fail or n_diff else 0)


if __name__ == "__main__":
    main()
