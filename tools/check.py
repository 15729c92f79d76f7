#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage:
  python3 tools/check.py /root/testdata/sf0.01 /tmp/verify_out [--run]
                         [--only q_a,q_b,...]

--only restricts the compare to the named queries (for single-operator
iteration, or the staged-sf1 heavy-family run where only a subset was
dumped).

With --run, first executes `sbt "runMain graft.Verify <sf> <out>"`.
Then, for every entry in <out>/oracle_sql.json:
  - runs the oracle SQL in DuckDB with views over the same parquet tables,
  - loads the Spark result parquet,
  - sorts columns by name (like the driver), compares exactly.

Exit 0 iff every query matches on row count, column set, and values.
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    if "--run" in sys.argv:
        subprocess.run(
            ["sbt", f'runMain graft.Verify {sf_dir} {out_dir}'],
            check=True, cwd="/root/repo")

    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            # testdata ships single parquet FILES; staged dirs (e.g.
            # StarBench.stage10x) are Spark-written DIRECTORIES of
            # part files — DuckDB needs the glob form for those
            pat = f"{p}/*.parquet" if p.is_dir() else str(p)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")

    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    if "--only" in sys.argv:
        names = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        oracle = {k: v for k, v in oracle.items() if k in names}
    n_fail = 0
    for name in sorted(oracle):
        spark_path = Path(out_dir) / name
        if not spark_path.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = pd.read_parquet(spark_path)
            want = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        got = got[sorted(got.columns)]
        want = want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        bad, warns = [], []
        for c in got.columns:
            a, b = got[c], want[c]
            try:
                # normalize dtypes (int32 vs int64 etc.) but compare exactly
                if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
                    eq = (a.astype("float64").fillna(-1e308) ==
                          b.astype("float64").fillna(-1e308)).all()
                    if eq and str(a.dtype) != str(b.dtype):
                        warns.append(f"{c} dtype {a.dtype} vs {b.dtype}")
                else:
                    eq = (a.astype(str).fillna("∅") == b.astype(str).fillna("∅")).all()
                if not eq:
                    n = int((a.astype(str) != b.astype(str)).sum())
                    i = (a.astype(str) != b.astype(str)).idxmax()
                    bad.append(f"{c}: {n} diffs, first at row {i}: {a[i]!r} != {b[i]!r}")
            except Exception as e:
                bad.append(f"{c}: compare error {e}")
        if bad:
            print(f"FAIL {name}: " + "; ".join(bad))
            n_fail += 1
        else:
            note = (" [warn: " + "; ".join(warns) + "]") if warns else ""
            print(f"ok   {name} ({len(got)} rows){note}")
    print(f"\n{len(oracle) - n_fail}/{len(oracle)} queries match")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
