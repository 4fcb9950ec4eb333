"""Compare the generated tables with a testbed directory of the same
tables: row counts, column types and the value shapes queries depend on.

    python3 perfbench/compare_tables.py <testbed_dir> [--seed 1]

The scale is taken from the testbed's lineitem row count. Prints one line
per check with the testbed's value and the generated one; the tables are
generated into a temporary directory that is removed afterwards.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
from check import TABLES  # noqa: E402

#: (what, SQL over the table views): the shares and ranges behind the
#: query mix's joins, windows, sessionisation and near-duplicate search.
SHAPES = [
    ("events per user (p10, p50, p90)",
     "SELECT quantile_disc(c, [0.1, 0.5, 0.9]) FROM "
     "(SELECT count(*) c FROM events GROUP BY user_id)"),
    ("events: users", "SELECT count(DISTINCT user_id) FROM events"),
    ("events: ts range",
     "SELECT min(ts)::DATE::VARCHAR || '..' || max(ts)::DATE::VARCHAR FROM events"),
    ("events: gaps > 30 min per event",
     "SELECT round(avg((d > INTERVAL 30 MINUTE)::INT), 2) FROM (SELECT ts - "
     "lag(ts) OVER (PARTITION BY user_id ORDER BY ts) d FROM events)"),
    ("events: value min, median",
     "SELECT [min(value), round(median(value))] FROM events"),
    ("documents: near-duplicate share (text + ' dup')",
     "SELECT round(avg(ends_with(text, ' dup')::INT), 3) FROM documents"),
    ("documents: near-duplicates before their original",
     "SELECT round(avg((b.doc_id < a.doc_id)::INT), 1) FROM documents a "
     "JOIN documents b ON b.text = a.text || ' dup'"),
    ("documents: exact-copy share",
     "SELECT round(1 - count(DISTINCT text) / count(*), 3) FROM documents"),
    ("documents: words per text (min, median, max)",
     "SELECT quantile_disc(len(string_split(text, ' ')), [0, 0.5, 1]) "
     "FROM documents"),
    ("documents: en share", "SELECT round(avg((lang = 'en')::INT), 1) FROM documents"),
    ("lineitem: extendedprice (p10, p50, p90)",
     "SELECT [round(x, -3) FOR x IN quantile_cont(l_extendedprice, "
     "[0.1, 0.5, 0.9])] FROM lineitem"),
    ("lineitem: orders covered",
     "SELECT round(count(DISTINCT l_orderkey) / (SELECT count(*) FROM orders), 2) "
     "FROM lineitem"),
    ("lineitem: shipdate range",
     "SELECT min(l_shipdate)::DATE::VARCHAR || '..' || "
     "max(l_shipdate)::DATE::VARCHAR FROM lineitem"),
    ("orders: orderdate range",
     "SELECT min(o_orderdate)::DATE::VARCHAR || '..' || "
     "max(o_orderdate)::DATE::VARCHAR FROM orders"),
    ("customer: customers with orders",
     "SELECT round(count(DISTINCT o_custkey) / (SELECT count(*) FROM customer), 2) "
     "FROM orders"),
    ("embeddings: dims, labels",
     "SELECT [max(len(embedding)), count(DISTINCT label)] FROM embeddings"),
]


def describe(d: str) -> dict[str, str]:
    out: dict[str, str] = {}
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(d, f"{t}.parquet")
        schema = pq.read_schema(path)
        out[f"{t}: rows"] = str(pq.read_metadata(path).num_rows)
        out[f"{t}: types"] = ", ".join(f"{f.name} {f.type}" for f in schema)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    for what, sql in SHAPES:
        out[what] = str(con.execute(sql).fetchone()[0])
    con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("testbed_dir")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    sf = pq.read_metadata(os.path.join(a.testbed_dir, "lineitem.parquet")).num_rows / 6e6
    with tempfile.TemporaryDirectory() as tmp:
        gen.write_tables(tmp, a.seed, sf)
        ours = describe(tmp)
    theirs = describe(a.testbed_dir)
    same = 0
    for key, tv in theirs.items():
        mark = "=" if tv == ours[key] else "~"
        same += tv == ours[key]
        print(f"{mark} {key}\n    testbed:   {tv}\n    generated: {ours[key]}")
    print(f"scale {sf:g}: {same} of {len(theirs)} lines identical")
    return 0


if __name__ == "__main__":
    sys.exit(main())
