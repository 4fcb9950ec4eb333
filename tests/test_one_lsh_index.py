"""The MinHash-LSH index is defined once, and agrees with its DuckDB twin.

``operators/dedup.py`` owns the one band-key expression (``_band_frame``)
and the one signature-agreement expression (``_agreement``); every LSH
operator and the near-dup stream read them. A string constant holding
the band-key fragment or the agreement fragment anywhere else in the
package is a hand copy growing back. Matched on AST string constants
(f-string parts included), so comments do not count.

Oracle parity only sees the generated corpus, so the index's shingle
sets and signatures are also checked against ``_DUCK_SHINGLES`` and
``sql_minhash_signatures`` on hand-made edge-case documents.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "etl_moodle_and_mass_email_sending_spark"
)
# fragment -> the one function in operators/dedup.py allowed to hold it
OWNERS = {"slice(sig,": "_band_frame", "zip_with(sig": "_agreement"}


def _fragment_sites(fragment: str) -> list[str]:
    """``file:line owner`` for every occurrence of ``fragment`` in a
    string constant, ``owner`` being the enclosing top-level function."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for top in ast.parse(path.read_text()).body:
            owner = top.name if isinstance(top, ast.FunctionDef) else "-"
            for node in ast.walk(top):
                if isinstance(node, ast.Constant) and isinstance(
                    node.value, str
                ):
                    sites += [f"{rel}:{node.lineno} {owner}"] * (
                        node.value.count(fragment)
                    )
    return sites


def test_one_band_key_and_one_agreement_expression():
    for fragment, owner in OWNERS.items():
        sites = _fragment_sites(fragment)
        assert len(sites) == 1 and sites[0].startswith(
            "operators/dedup.py:"
        ) and sites[0].endswith(f" {owner}"), (
            f"{fragment!r} must appear once, in dedup.{owner}; use it "
            "instead of a copy:\n" + "\n".join(sites)
        )


EDGE_DOCS = [
    (1, "single"),
    (2, "two words"),
    (3, "exactly three words"),
    (4, "a b c a b c a b"),  # repeated shingles
    (5, "The Quick BROWN fox Jumps"),  # mixed case
    (6, "   leading  and   trailing  spaces   "),
    (7, "tabs\tand\nnewlines  between\t\twords"),
    (8, "the quick brown fox jumps over the lazy dog"),
]


def test_minhash_index_matches_duckdb_on_edge_docs(spark):
    import duckdb

    from etl_moodle_and_mass_email_sending_spark.operators import dedup

    corpus = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: (sorted(r["sh"]), list(r["sig"]))
        for r in dedup.minhash_index(corpus).collect()
    }
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", EDGE_DOCS)
        sh = dict(
            con.execute(
                f"SELECT doc_id, {dedup._DUCK_SHINGLES} FROM docs"
            ).fetchall()
        )
        sig = dict(
            con.execute(
                dedup.sql_minhash_signatures("SELECT doc_id, text FROM docs")
            ).fetchall()
        )
    finally:
        con.close()
    want = {d: (sorted(sh[d]), list(sig[d])) for d, _ in EDGE_DOCS}
    assert got == want
