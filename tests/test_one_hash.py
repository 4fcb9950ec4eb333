"""One portable hash, one Spark/DuckDB/Python triple per width.

``functions/hashing.py`` owns the cross-engine hash format: the md5 hex
digest of a string, its first 8 (``hash32``) or 15 (``hash60``) hex
digits read as an integer, and ``hash_frac = hash60 / 2^60``. A string
constant or a Column call anywhere else in the package that reads a
hex prefix of md5 as an integer is a copy of that decision growing back,
as is a second ``16**15`` scale or a driver-side
``int(....hexdigest()[:k], 16)``. Matched on the AST (string constants,
f-string parts included, and calls), so comments do not count.
"""

from __future__ import annotations

import ast
import hashlib
import pathlib

from hypothesis import example, given, settings
from hypothesis import strategies as st

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "etl_moodle_and_mass_email_sending_spark"
)
OWNER_MODULE = "functions/hashing.py"
STRING_COPIES = ("conv(substring(md5", "substr(md5(")
# (module, fragment) -> why a string holding it is not a hashing.py call
KEPT = {
    ("operators/text_analysis.py", "md5(gram), 9, 8)"): (
        "the Bloom probe's second digest word (hex digits 9-16), the "
        "double-hashing step of _bloom_pos_*, not a hash32 prefix"
    ),
}


def _name(node: ast.AST) -> str:
    """``F.conv`` -> ``conv``; ``int`` -> ``int``; anything else -> ''."""
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return ""


def _is_call(node: ast.AST, name: str) -> bool:
    return isinstance(node, ast.Call) and _name(node.func) == name


def _copies_in(rel: str, tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            for lit in STRING_COPIES:
                excused = any(
                    m == rel and frag in node.value for m, frag in KEPT
                )
                if lit in node.value and not excused:
                    yield node.lineno, lit
        elif (
            _is_call(node, "conv")
            and node.args
            and _is_call(node.args[0], "substring")
            and node.args[0].args
            and _is_call(node.args[0].args[0], "md5")
        ):
            yield node.lineno, "F.conv(F.substring(F.md5(...)))"
        elif (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Pow)
            and isinstance(node.left, ast.Constant)
            and isinstance(node.right, ast.Constant)
            and (node.left.value, node.right.value) == (16, 15)
        ):
            yield node.lineno, "16**15"
        elif (
            _is_call(node, "int")
            and node.args
            and isinstance(node.args[0], ast.Subscript)
            and _is_call(node.args[0].value, "hexdigest")
        ):
            yield node.lineno, "int(....hexdigest()[...], 16)"
        elif isinstance(node, ast.ImportFrom) and any(
            a.name == "_hash_frac" for a in node.names
        ):
            yield node.lineno, "import of sketches._hash_frac"


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


def test_hash_format_lives_in_functions_hashing():
    copies = [
        f"{rel}:{line} {what}"
        for rel, src in _modules()
        if rel != OWNER_MODULE
        for line, what in _copies_in(rel, ast.parse(src))
    ]
    assert not copies, (
        "hash through functions/hashing.py (hash32 / hash60 / hash_frac, "
        "their sql_* twins, py_hash32):\n" + "\n".join(copies)
    )


def test_kept_fragments_still_exist():
    """Every allow-list entry names text that is still in its module,
    so the list cannot outlive what it excuses."""
    src = dict(_modules())
    assert [k for k in KEPT if k[1] not in src[k[0]]] == []


def _py(s: str | None) -> dict | None:
    if s is None:
        return None
    hx = hashlib.md5(s.encode()).hexdigest()
    return {
        "h32": int(hx[:8], 16),
        "h60": int(hx[:15], 16),
        "frac": int(hx[:15], 16) / 2**60,
    }


PREFIX = "7§"
strings = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
        max_size=12,
    ),
)


@settings(max_examples=10, deadline=None)
@given(values=st.lists(strings, min_size=1, max_size=8))
@example(values=["", "é", "日本語", "a§b", "§", None, "x" * 40])
def test_hash_renderings_match_across_spark_duckdb_and_python(
    spark, values
):
    """Spark, DuckDB and Python ``hashlib`` give the same hash32, hash60
    and hash_frac, for a bare string and for a seed-prefixed one."""
    import duckdb

    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.functions import hashing

    inputs = {"bare": ("s", "s"), "seeded": (
        f"concat('{PREFIX}', s)", f"'{PREFIX}' || s"
    )}
    widths = {
        "h32": (hashing.hash32, hashing.sql_hash32),
        "h60": (hashing.hash60, hashing.sql_hash60),
        "frac": (hashing.hash_frac, hashing.sql_hash_frac),
    }
    cols = {
        f"{i}_{w}": (spark_fn(si), duck_fn(di))
        for i, (si, di) in inputs.items()
        for w, (spark_fn, duck_fn) in widths.items()
    }
    rows = list(enumerate(values))
    frame = spark.createDataFrame(rows, "id int, s string")
    got = {
        r["id"]: {c: r[c] for c in cols}
        for r in frame.select(
            "id", *[F.expr(s).alias(c) for c, (s, _) in cols.items()]
        ).collect()
    }
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (id INTEGER, s VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        sel = ", ".join(f"{d} AS {c}" for c, (_, d) in cols.items())
        duck = {
            r[0]: dict(zip(cols, r[1:]))
            for r in con.execute(f"SELECT id, {sel} FROM t").fetchall()
        }
    finally:
        con.close()
    want = {}
    for i, v in rows:
        bare, seeded = _py(v), _py(None if v is None else PREFIX + v)
        want[i] = {
            f"{name}_{w}": None if h is None else h[w]
            for name, h in (("bare", bare), ("seeded", seeded))
            for w in widths
        }
    assert got == want
    assert duck == want
    for i, v in rows:
        if v is not None:
            assert hashing.py_hash32(v) == want[i]["bare_h32"]
