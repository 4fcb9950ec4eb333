"""Print registered queries' formatted physical plans, normalised so
two dumps of the same plan tree are byte-identical: compare a parent
commit with a change by one ``diff`` of two dumps.

Usage: python tests/plan_dump.py NAME [NAME ...] [--sf DIR]

Normalised: expression ids (``#123``), plan ids, the numeric suffixes
of lambda variables, the random parts of staged-input dirs, and the
order in which each ``Expand`` lists its distinct-aggregate projections
(which varies between two plannings of one tree, renumbering the
``gid`` literals that select them).
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def raw_plan(df) -> str:
    """``df.explain("formatted")`` as a string."""
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _items(listed: str) -> list[str]:
    """The top-level items of a bracketed, comma-separated list."""
    items, depth, cur = [], 0, ""
    for ch in listed[1:-1]:
        depth += (ch in "([{") - (ch in ")]}")
        if ch == "," and depth == 0:
            items.append(cur.strip())
            cur = ""
        else:
            cur += ch
    return [*items, cur.strip()]


def _sort_expand(block: str) -> str:
    """Order a distinct-aggregate ``Expand``'s projections by their text
    and renumber their ``gid`` literals, and the ``gid = k`` filters that
    select them, to match. ``block`` runs from the ``Expand``'s node
    details to the next ``Expand``'s: the aggregates reading its ``gid``
    each have one child, so the details list them right after it."""
    head = "Arguments: "
    line = next(
        (ln for ln in block.splitlines()
         if ln.startswith(head + "[[") and "gid#" in ln),
        None,
    )
    if line is None:
        return block
    rows_text, outs_text = _items(f"[{line[len(head):]}]")
    g = _items(outs_text).index("gid#")
    rows = sorted(
        (_items(r) for r in _items(rows_text)),
        key=lambda r: r[:g] + r[g + 1:],
    )
    gid = {r[g]: str(k) for k, r in enumerate(rows)}
    for r in rows:
        r[g] = gid[r[g]]
    block = block.replace(
        line,
        head + "[" + ", ".join(f"[{', '.join(r)}]" for r in rows)
        + f"], {outs_text}",
    )
    return re.sub(
        r"\(gid# = (\d+)\)",
        lambda m: f"(gid# = {gid.get(m[1], m[1])})",
        block,
    )


def normalise(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    # staged inputs live in mkdtemp dirs: 8 random characters each
    plan = re.sub(
        r"(spark_engine_scratch_)\w{8}/(\w*?)\w{8}(?=[/\]])", r"\1/\2", plan
    )
    # Column-API lambda variables are named x_<n> from a JVM-wide counter
    plan = re.sub(r"\blambda (\w+?)_\d+#", r"lambda \1_#", plan)
    blocks = re.split(r"(?m)^(?=\(\d+\) Expand\b)", plan)
    return "".join(_sort_expand(b) for b in blocks)


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", required=True, help="testdata scale dir")
    args = ap.parse_args(argv)

    from etl_moodle_and_mass_email_sending_spark import registry
    from etl_moodle_and_mass_email_sending_spark.session import get_spark

    spark = get_spark(app_name="plan-dump", master="local[2]")
    try:
        queries = registry.queries()
        for name in args.names:
            print(f"=== {name}")
            print(normalise(raw_plan(queries[name](spark, args.sf))))
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
