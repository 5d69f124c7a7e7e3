#!/usr/bin/env python3
"""Check (or re-record) the batch workload's stored fingerprints.

Usage:
  python3 perfbench/check_expected.py           # check expected.tsv against DuckDB
  python3 perfbench/check_expected.py --record  # rewrite expected.tsv from Spark

The check runs each query's `SparkEntry.oracleSql` in DuckDB over views of
the benchmark's parquet tables, as tools/compare.py does, writes each
result to parquet, and has the benchmark fingerprint it: every stored
fingerprint must equal the oracle's.
"""
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

DATA = build.ROOT / "perfbench" / "data" / "sf0.01"
EXPECTED = build.ROOT / "perfbench" / "expected.tsv"


def jvm(*args) -> int:
    work = build.BUILD / "work" / "expected"
    return subprocess.run(build.java_command("graft.perfbench.Fingerprints", list(args), work),
                          cwd=work).returncode


def main() -> int:
    build.build()
    if "--record" in sys.argv:
        return jvm("record", DATA, EXPECTED)
    import duckdb
    import json
    out = build.BUILD / "expect"
    out.mkdir(parents=True, exist_ok=True)
    if jvm("oracle", out / "oracle.json") != 0:
        return 1
    con = duckdb.connect()
    for t in sorted(p.stem for p in DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA / t}.parquet')")
    for name, sql in json.load(open(out / "oracle.json")).items():
        con.execute(f"COPY ({sql}) TO '{out / name}.parquet' (FORMAT PARQUET)")
    return jvm("check", out, EXPECTED)


if __name__ == "__main__":
    sys.exit(main())
