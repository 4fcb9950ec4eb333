"""One word tokenizer and one word-n-gram expression, each a Spark/DuckDB pair.

``functions/text.py`` owns the tokenizer of the documents' ``text``
(``WORDS``, ``WORDS_NONEMPTY``, ``CASED_WORDS`` and their ``SQL_*``
twins) and the gram expressions ``word_grams``/``sql_word_grams``. A string
constant holding a tokenizer literal or a hand-built gram join (an array
indexed at ``i ± k`` inside a lambda) anywhere else in the package is a
copy growing back. Matched on AST string constants (f-string parts
included), so comments do not count. The DuckDB oracles that keep their
own gram joins are the independent reference for an operator and are
allow-listed below, one reason each.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "etl_moodle_and_mass_email_sending_spark"
)
OWNER_MODULE = "functions/text.py"
TOKENIZER_LITERALS = (
    "split(trim(lower(text))",
    "string_split_regex(trim(lower(text))",
    "split(trim(text)",
    "string_split_regex(trim(text)",
)
GRAM_JOIN = re.compile(r"element_at\(\w+, i \+|\[i ?[-+]")
# (module, top-level name) -> why its gram join is not a word_grams call
KEPT = {
    ("operators/dedup.py", "_DUCK_SHINGLES"): (
        "DuckDB oracle of minhash_index's shingle sets"
    ),
    ("operators/text_analysis.py", "sql_repetition_stats"): (
        "DuckDB oracle of repetition_stats' bigrams"
    ),
    ("operators/text_analysis.py", "sql_bigram_logprob"): (
        "DuckDB oracle of bigram_logprob's zip_with bigrams"
    ),
    ("operators/text_analysis.py", "sql_dsir_weights"): (
        "DuckDB oracle of dsir_weights' zip_with bigram hashes"
    ),
    ("operators/text_analysis.py", "sql_ngram_novelty"): (
        "DuckDB oracle of ngram_novelty's trigrams"
    ),
    ("operators/text_analysis.py", "sql_pmi_collocations"): (
        "DuckDB oracle of pmi_collocations' zip_with bigrams"
    ),
    ("operators/text_analysis.py", "sql_watermark_detect"): (
        "DuckDB oracle of watermark_detect's (prev, cur) token pairs"
    ),
    ("operators/similarity.py", "_bq_pack_expr"): (
        "coordinate index into an embedding vector, not a word gram"
    ),
    ("operators/similarity.py", "sql_bq_topk"): (
        "coordinate index into an embedding vector, not a word gram"
    ),
}


def _owner(top: ast.stmt) -> str:
    if isinstance(top, (ast.FunctionDef, ast.ClassDef)):
        return top.name
    if isinstance(top, ast.Assign) and isinstance(top.targets[0], ast.Name):
        return top.targets[0].id
    return "-"


def _string_sites():
    """(module, owner, line, text) for every string constant in the
    package, ``owner`` being the enclosing top-level definition."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Constant) and isinstance(
                    node.value, str
                ):
                    yield rel, _owner(top), node.lineno, node.value


def test_tokenizer_and_gram_join_live_in_functions_text():
    copies = []
    for rel, owner, line, text in _string_sites():
        if rel == OWNER_MODULE:
            continue
        hits = [lit for lit in TOKENIZER_LITERALS if lit in text]
        if GRAM_JOIN.search(text) and (rel, owner) not in KEPT:
            hits.append("gram join")
        copies += [f"{rel}:{line} {owner}: {h}" for h in hits]
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel != OWNER_MODULE and "F.split(F.trim(" in path.read_text():
            copies.append(f"{rel}: F.split(F.trim(...)) tokenizer")
    assert not copies, (
        "tokenize and build word grams through functions/text.py "
        "(WORDS / SQL_WORDS / ..., word_grams / sql_word_grams):\n"
        + "\n".join(copies)
    )


def test_kept_gram_joins_still_exist():
    """Every allow-list entry names a definition that still holds a
    gram join, so the list cannot outlive what it excuses."""
    found = {
        (rel, owner)
        for rel, owner, _, text in _string_sites()
        if GRAM_JOIN.search(text)
    }
    assert set(KEPT) <= found, sorted(set(KEPT) - found)


def _python_grams(w: list[str], n: int) -> list[str]:
    return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]


tokens = st.lists(st.sampled_from(["a", "b", "c", "dd"]), max_size=8)


@settings(max_examples=10, deadline=None)
@given(arrays=st.lists(tokens, min_size=1, max_size=8))
@example(arrays=[[], ["a"], ["a", "b"], ["a", "b", "c"], ["a", "b", "c", "d"]])
def test_word_grams_match_duckdb_and_python(spark, arrays):
    import duckdb

    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.functions.text import (
        sql_word_grams,
        word_grams,
    )

    ns = range(1, 6)
    frame = spark.createDataFrame(
        list(enumerate(arrays)), "id int, w array<string>"
    )
    got = {
        r["id"]: [list(r[f"g{n}"]) for n in ns]
        for r in frame.select(
            "id", *[F.expr(word_grams("w", n)).alias(f"g{n}") for n in ns]
        ).collect()
    }
    con = duckdb.connect()
    try:
        duck = {
            i: [
                con.execute(
                    f"SELECT {sql_word_grams('w', n)} "
                    "FROM (SELECT CAST(? AS VARCHAR[]) AS w)",
                    [w],
                ).fetchone()[0]
                for n in ns
            ]
            for i, w in enumerate(arrays)
        }
    finally:
        con.close()
    want = {i: [_python_grams(w, n) for n in ns] for i, w in enumerate(arrays)}
    assert got == want
    assert duck == want


def test_word_grams_take_a_bound_array_name():
    from etl_moodle_and_mass_email_sending_spark.functions.text import (
        sql_word_grams,
        word_grams,
    )

    with pytest.raises(ValueError):
        word_grams("split(text,' ')", 2)
    with pytest.raises(ValueError):
        sql_word_grams("string_split(text, ' ')", 2)


EDGE_TEXTS = [
    (1, ""),
    (2, "   "),
    (3, "single"),
    (4, "The Quick  BROWN fox"),
    (5, "  leading and trailing  "),
    (6, "tabs\tand\nnewlines  between\t\twords"),
]


def test_tokenizers_match_duckdb_on_edge_texts(spark):
    import duckdb

    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.functions import text

    pairs = {
        "words": (text.WORDS, text.SQL_WORDS),
        "nonempty": (text.WORDS_NONEMPTY, text.SQL_WORDS_NONEMPTY),
        "cased": (text.CASED_WORDS, text.SQL_CASED_WORDS),
    }
    frame = spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string")
    got = {
        r["doc_id"]: {k: list(r[k]) for k in pairs}
        for r in frame.select(
            "doc_id", *[F.expr(s).alias(k) for k, (s, _) in pairs.items()]
        ).collect()
    }
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", EDGE_TEXTS)
        cols = ", ".join(f"{d} AS {k}" for k, (_, d) in pairs.items())
        res = con.execute(f"SELECT doc_id, {cols} FROM docs")
        duck = {
            r[0]: dict(zip(pairs, map(list, r[1:]))) for r in res.fetchall()
        }
    finally:
        con.close()
    assert got == duck
    assert got[4]["words"] == ["the", "quick", "brown", "fox"]
    assert got[2]["nonempty"] == []
