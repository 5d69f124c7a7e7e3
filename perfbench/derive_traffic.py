#!/usr/bin/env python3
"""Derive the stream traffic parameters from the committed benchmark data.

Usage: python3 perfbench/derive_traffic.py [--check]

Every share and skew of the generated log traffic (`TrafficParams` in
src/graft/perfbench/Traffic.scala) comes from perfbench/data/sf0.01, read
with DuckDB:

- page mix: `events.event_type` shares, each type rendered as the URL
  shape `graft.logs.LogGen` gives it (view/purchase: article, purchase as
  POST; click: section; error: ajax URL with fid under mod=ajax, which
  carries no section; signup: no id);
- line shapes: the shares of the LogGen rules over `events.event_id`
  (malformed, "-" request with 408, 404, 500, "-" bytes, referer URL);
- skew: a Zipf exponent fitted (least squares on log rank vs log count)
  to events per `user_id` (clients), customers per `c_nationkey`
  (sections are nation keys) and lineitems per `l_partkey` (articles are
  part keys).

With --check it exits 1 if the defaults in Traffic.scala differ from the
derived values at the 4 decimals they are written with.
"""
import math
import re
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.01"
SCALA = HERE / "src" / "graft" / "perfbench" / "Traffic.scala"


def zipf_exponent(counts: list) -> float:
    ys = [math.log(c) for c in sorted(counts, reverse=True)]
    xs = [math.log(r + 1) for r in range(len(ys))]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    return -sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)


def derive() -> dict:
    db = duckdb.connect()
    ev, cu, li = (f"'{DATA / t}.parquet'" for t in ("events", "customer", "lineitem"))

    def one(sql: str) -> float:
        return db.sql(sql).fetchone()[0]

    def counts(table: str, key: str) -> list:
        return [r[0] for r in db.sql(f"select count(*) from {table} group by {key}").fetchall()]

    # LogGen's rules, applied in its order (a line takes the first that holds)
    malformed = "event_id % 97 = 0"
    empty = f"not ({malformed}) and event_id % 89 = 0"
    s404 = f"not ({malformed}) and event_id % 89 <> 0 and event_id % 10 = 0"
    s500 = f"not ({malformed}) and event_id % 89 <> 0 and event_id % 10 <> 0 and event_id % 7 = 3"
    p = {f"{t}Share": one(f"select avg((event_type = '{t}')::int) from {ev}")
         for t in ("view", "purchase", "click", "error")}
    p.update({
        "malformedShare": one(f"select avg(({malformed})::int) from {ev}"),
        "emptyRequestShare": one(f"select avg(({empty})::int) from {ev}"),
        "status404Share": one(f"select avg(({s404})::int) from {ev}"),
        "status500Share": one(f"select avg(({s500})::int) from {ev}"),
        # among lines that have a request (the 408 lines always send "-")
        "bytesDashShare": one(f"select avg((event_id % 13 = 0)::int) from {ev} "
                              f"where not ({malformed}) and event_id % 89 <> 0"),
        "refererShare": one(f"select avg((event_id % 3 <> 0)::int) from {ev}"),
        "clientZipf": zipf_exponent(counts(ev, "user_id")),
        "sectionZipf": zipf_exponent(counts(cu, "c_nationkey")),
        "articleZipf": zipf_exponent(counts(li, "l_partkey")),
    })
    return {k: round(v, 4) for k, v in p.items()}


def main() -> int:
    derived = derive()
    for k, v in derived.items():
        print(f"    {k}: Double = {v},")
    if "--check" in sys.argv:
        written = {k: float(v) for k, v in
                   re.findall(r"(\w+): Double = ([0-9.]+)", SCALA.read_text())}
        differ = {k: (written.get(k), v) for k, v in derived.items() if written.get(k) != v}
        for k, (w, d) in differ.items():
            print(f"derive_traffic: {k} is {w} in Traffic.scala, derived {d}", file=sys.stderr)
        return 1 if differ else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
