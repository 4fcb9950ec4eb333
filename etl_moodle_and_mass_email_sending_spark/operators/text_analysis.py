"""[EXT] Text analysis for LLM-data pipelines (SURVEY.md §7 M7):
language-ID (stopword-hit heuristic), quality scoring, token statistics,
document fingerprinting (min-k hash sketch), chunking, PII scrubbing,
repetition metrics, sequence packing, benchmark decontamination,
unigram-LM scoring, and BM25 keyword retrieval — all pure column
expressions / declarative joins with DuckDB twins.

Why column expressions and not a Python UDF: these run over every document
of a 100 TB corpus; a row-at-a-time UDF would cap throughput at Python
speed. The regex/array built-ins below stay JVM-side. Heavy higher-order
lambdas (which evaluate interpreted, outside codegen) are preceded by
``spread_for_compute`` — see operators/util.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hashing import SEED_SEP
from ..functions.text import (
    CASED_WORDS,
    SQL_CASED_WORDS,
    SQL_WORDS,
    SQL_WORDS_NONEMPTY,
    WORDS,
    WORDS_NONEMPTY,
    sql_word_grams,
    word_grams,
)
from .util import salt, salted_top_k, spread_for_compute, top_k

# Tiny built-in stopword lists (shared constants for both engines).
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for", "with", "on"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "una", "los", "por"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
}
PUNCT_CLASS = r"[.,;:!?]"  # explicit class — Java and RE2 agree on it
FINGERPRINT_K = 4


def _spark_hits(lang: str) -> str:
    arr = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + ")"
    return f"size(filter({WORDS}, t -> array_contains({arr}, t)))"


def _duck_hits(lang: str) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
    return f"len(list_filter({SQL_WORDS}, t -> list_contains({arr}, t)))"


_N_TOKS_SPARK = f"CASE WHEN trim(text) = '' THEN 0 ELSE size({WORDS}) END"
_N_TOKS_DUCK = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({SQL_WORDS}) END"


# BPE-ish pre-tokenizer (GPT-2-style segmentation, RE2/Java-portable: no
# lookaheads): a token is an optionally space-prefixed letter run, digit
# run, or other-symbol run. Counts approximate LLM token budgets far
# better than whitespace splitting on punctuation-dense text.
_BPE_RX = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def token_stats(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_bpe_tokens, n_chars_measured, avg_token_len,
    punct_count) — whitespace + BPE-ish token counting."""
    n_toks = F.expr(_N_TOKS_SPARK)
    punct = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), PUNCT_CLASS, "")
    )
    bpe = F.size(
        # Spark SQL string literals eat single backslashes — double them
        F.expr(
            "regexp_extract_all(text, '"
            + _BPE_RX.replace("\\", "\\\\")
            + "', 0)"
        )
    )
    return corpus.select(
        "doc_id",
        n_toks.cast("bigint").alias("n_tokens"),
        bpe.cast("bigint").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
        F.round(
            F.length(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", ""))
            .cast("double")
            / F.greatest(n_toks, F.lit(1)),
            6,
        ).alias("avg_token_len"),
        punct.cast("bigint").alias("punct_count"),
    )


def sql_token_stats(corpus_sql: str) -> str:
    return f"""
    SELECT doc_id,
           CAST({_N_TOKS_DUCK} AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RX}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           round(CAST(length(regexp_replace(trim(lower(text)), '\\s+', '', 'g')) AS DOUBLE)
                 / greatest({_N_TOKS_DUCK}, 1), 6) AS avg_token_len,
           CAST(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS BIGINT)
             AS punct_count
    FROM ({corpus_sql})
    """


def lang_id(corpus: DataFrame) -> DataFrame:
    """Stopword-hit language ID with deterministic tie-break en > es > de.
    (Simple n-gram-free heuristic; the point is the columnar plumbing.)"""
    en, es, de = (F.expr(_spark_hits(lg)) for lg in ("en", "es", "de"))
    pred = (
        F.when((en >= es) & (en >= de), F.lit("en"))
        .when(es >= de, F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return corpus.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        en.cast("bigint").alias("hits_en"),
        es.cast("bigint").alias("hits_es"),
        de.cast("bigint").alias("hits_de"),
        pred.alias("lang_pred"),
    )


def sql_lang_id(corpus_sql: str) -> str:
    en, es, de = (_duck_hits(lg) for lg in ("en", "es", "de"))
    return f"""
    SELECT doc_id, lang AS lang_declared,
           CAST({en} AS BIGINT) AS hits_en,
           CAST({es} AS BIGINT) AS hits_es,
           CAST({de} AS BIGINT) AS hits_de,
           CASE WHEN {en} >= {es} AND {en} >= {de} THEN 'en'
                WHEN {es} >= {de} THEN 'es' ELSE 'de' END AS lang_pred
    FROM ({corpus_sql})
    """


def quality_score(corpus: DataFrame) -> DataFrame:
    """Composite quality score in [0,1]: length band + stopword presence +
    punctuation sanity (weights are shared constants)."""
    n_toks = F.expr(_N_TOKS_SPARK)
    hits = F.expr(_spark_hits("en"))
    punct_ratio = (
        F.length(F.col("text"))
        - F.length(F.regexp_replace(F.col("text"), PUNCT_CLASS, ""))
    ).cast("double") / F.greatest(F.length("text"), F.lit(1))
    len_ok = (n_toks >= 10) & (n_toks <= 1000)
    stop_ratio = hits.cast("double") / F.greatest(n_toks, F.lit(1))
    score = F.round(
        F.when(len_ok, 0.4).otherwise(0.0)
        + F.least(stop_ratio * 4, F.lit(0.4))
        + F.when(punct_ratio <= 0.1, 0.2).otherwise(0.0),
        6,
    )
    return corpus.select(
        "doc_id",
        n_toks.cast("bigint").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        score.alias("quality"),
    )


def sql_quality_score(corpus_sql: str) -> str:
    hits = _duck_hits("en")
    punct_ratio = (
        f"CAST(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS DOUBLE)"
        f" / greatest(length(text), 1)"
    )
    stop_ratio = f"CAST({hits} AS DOUBLE) / greatest({_N_TOKS_DUCK}, 1)"
    return f"""
    SELECT doc_id,
           CAST({_N_TOKS_DUCK} AS BIGINT) AS n_tokens,
           round({stop_ratio}, 6) AS stopword_ratio,
           round({punct_ratio}, 6) AS punct_ratio,
           round((CASE WHEN {_N_TOKS_DUCK} BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END)
                 + least({stop_ratio} * 4, 0.4)
                 + (CASE WHEN {punct_ratio} <= 0.1 THEN 0.2 ELSE 0.0 END), 6) AS quality
    FROM ({corpus_sql})
    """


# Rabin-Karp-style rolling hash constants (order-sensitive — transposed
# tokens change the fingerprint, unlike the min-k sketch). Bounds: acc < P
# (~2^30), acc·B + h < 2^38 — no bigint overflow on either engine.
ROLLING_BASE = 131
ROLLING_MOD = 1_000_000_007


def fingerprints(corpus: DataFrame) -> DataFrame:
    """Two complementary fingerprints per doc:
    - ``fingerprint``: min-k sketch — the K smallest portable token
      hashes joined into a string key (winnowing lite; order-insensitive,
      robust to small edits → near-dup blocking key).
    - ``rolling_fp``: Rabin-Karp rolling hash folded over the token-hash
      sequence in document order (order-SENSITIVE → exact-content key).
    Identical docs agree on both; shuffled docs agree only on the first."""
    toks_h_ordered = (
        f"transform({WORDS}, t -> "
        f"cast(conv(substring(md5(concat('F{SEED_SEP}', t)), 1, 8), 16, 10) as bigint))"
    )
    toks_h_sorted = "array_sort(array_distinct(_th))"
    fp = (
        f"array_join(transform(slice({toks_h_sorted}, 1, {FINGERPRINT_K}), "
        f"x -> cast(x as string)), '-')"
    )
    rolling = (
        f"aggregate(_th, cast(0 as bigint), "
        f"(acc, h) -> (acc * {ROLLING_BASE} + h) % {ROLLING_MOD})"
    )
    # Two measured fixes (sf0.1, 5-run medians, round 5): the md5 token
    # hashing is an interpreted HOF, so (a) spread the single-file scan
    # across cores first, and (b) project the hash array ONCE and derive
    # both fingerprints from it instead of re-tokenizing per output
    # column. 0.73 s → 0.20 s; supersedes the pre-rolling_fp note in
    # util.py that called this op too cheap to spread.
    hashed = spread_for_compute(corpus).select(
        "doc_id", F.expr(toks_h_ordered).alias("_th")
    )
    return hashed.select(
        "doc_id",
        F.expr(fp).alias("fingerprint"),
        F.expr(rolling).alias("rolling_fp"),
    )


def sql_fingerprints(corpus_sql: str) -> str:
    toks_h_ordered = (
        f"list_transform({SQL_WORDS}, t -> "
        f"CAST('0x' || substr(md5('F{SEED_SEP}' || t), 1, 8) AS BIGINT))"
    )
    toks_h_sorted = f"list_sort(list_distinct({toks_h_ordered}))"
    fp = (
        f"array_to_string(list_transform(({toks_h_sorted})[1:{FINGERPRINT_K}], "
        f"x -> CAST(x AS VARCHAR)), '-')"
    )
    rolling = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {toks_h_ordered}), "
        f"(a, b) -> (a * {ROLLING_BASE} + b) % {ROLLING_MOD})"
    )
    return (
        f"SELECT doc_id, {fp} AS fingerprint, {rolling} AS rolling_fp "
        f"FROM ({corpus_sql})"
    )


# --------------------------------------------------------------------------
# Document chunking — fixed-size overlapping token windows (the standard
# LLM-training prep step). Pure array ops: split once, slice per chunk
# index, posexplode — no Python, fan-out is data-parallel.
# --------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap


def chunk_documents(
    corpus: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, chunk_index, chunk_text, n_tokens [, *keep]): token windows
    of ``chunk_tokens`` every ``stride`` tokens; the final partial window
    is kept iff the doc is shorter than one chunk (short docs → 1 chunk)
    or it contains tokens past the previous window's end. ``keep`` columns
    ride along the fan-out so callers don't re-join the corpus (a re-join
    would recompute the upstream subtree — Catalyst has no CSE across
    join branches)."""
    toks = CASED_WORDS
    n = f"size({toks})"
    # number of chunks: 1 + ceil(max(0, n - chunk)/stride)
    n_chunks = (
        f"(1 + CAST(ceil(greatest(0, {n} - {chunk_tokens}) / "
        f"CAST({stride} AS DOUBLE)) AS INT))"
    )
    chunks = f"""transform(sequence(0, {n_chunks} - 1), i ->
        named_struct(
          'chunk_index', i,
          'chunk_text', array_join(slice({toks}, i * {stride} + 1, {chunk_tokens}), ' '),
          'n_tokens', size(slice({toks}, i * {stride} + 1, {chunk_tokens}))
        ))"""
    return (
        spread_for_compute(corpus)
        .select("doc_id", *keep, F.explode(F.expr(chunks)).alias("c"))
        .select(
            "doc_id",
            *keep,
            F.col("c.chunk_index").alias("chunk_index"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


def sql_chunk_documents(corpus_sql: str) -> str:
    toks = SQL_CASED_WORDS
    n = f"len({toks})"
    n_chunks = (
        f"(1 + CAST(ceil(greatest(0, {n} - {CHUNK_TOKENS}) / "
        f"CAST({CHUNK_STRIDE} AS DOUBLE)) AS INT))"
    )
    return f"""
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_index,
           array_to_string(({toks})[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')
             AS chunk_text,
           CAST(len(({toks})[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS BIGINT)
             AS n_tokens
    FROM ({corpus_sql}),
         LATERAL (SELECT unnest(generate_series(0, {n_chunks} - 1)) AS i) g
    """


# --------------------------------------------------------------------------
# PII scrubbing — regex redaction of emails / phone-ish numbers / long
# digit runs (RE2/Java-portable patterns, no lookaround). JVM regexp
# in codegen; at 100 TB this is a pure scan-transform.
# --------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9()\[\] .-]{7,}[0-9]"


def scrub_pii(corpus: DataFrame) -> DataFrame:
    """(doc_id, scrubbed, n_emails, n_phones) — emails then phone-ish
    sequences replaced with typed redaction tags; counts measured BEFORE
    redaction so they report what was found."""
    email_rx = F.lit(_PII_EMAIL)
    n_emails = F.size(
        F.expr(f"regexp_extract_all(text, '{_PII_EMAIL}', 0)")
    ).cast("bigint")
    after_email = F.regexp_replace(F.col("text"), email_rx, F.lit("[EMAIL]"))
    n_phones = F.size(
        F.expr(
            "regexp_extract_all(regexp_replace(text, '"
            + _PII_EMAIL
            + "', '[EMAIL]'), '"
            + _PII_PHONE.replace("\\", "\\\\")
            + "', 0)"
        )
    ).cast("bigint")
    scrubbed = F.regexp_replace(
        after_email, F.lit(_PII_PHONE), F.lit("[PHONE]")
    )
    return corpus.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


def pii_density(corpus: DataFrame) -> DataFrame:
    """(source, pii_type, n_docs_hit, n_hits, hits_per_1k_tokens):
    per-source PII rate report (round 9, VERDICT r8 item 6c) — the
    gate a source passes BEFORE mixing: a source whose email/phone
    density spikes is scraped contact pages or leaked dumps, and gets
    scrubbed (scrub_pii) or dropped, not blended.

    100 TB shape: the regex counts run in whole-stage codegen (same
    patterns as scrub_pii) after a compute spread — the per-row regex
    CPU dwarfs the scan, and the testbed's single-file parquet pins it
    to 1-3 cores otherwise (measured at 8×·sf0.1: 2.44 s → 0.57 s with
    the spread); one hash partial aggregation on source, then an
    unpivot of the (|sources|)-row rollup — the report is
    |sources|·2 rows."""
    corpus = spread_for_compute(corpus)
    n_emails = F.size(
        F.expr(f"regexp_extract_all(text, '{_PII_EMAIL}', 0)")
    ).cast("bigint")
    n_phones = F.size(
        F.expr(
            "regexp_extract_all(regexp_replace(text, '"
            + _PII_EMAIL
            + "', '[EMAIL]'), '"
            + _PII_PHONE.replace("\\", "\\\\")
            + "', 0)"
        )
    ).cast("bigint")
    n_tokens = F.size(F.expr(WORDS_NONEMPTY)).cast("bigint")
    rolled = (
        corpus.select(
            "source",
            n_emails.alias("_e"),
            n_phones.alias("_p"),
            n_tokens.alias("_t"),
        )
        .groupBy("source")
        .agg(
            F.sum("_e").alias("email_hits"),
            F.sum((F.col("_e") > 0).cast("long")).alias("email_docs"),
            F.sum("_p").alias("phone_hits"),
            F.sum((F.col("_p") > 0).cast("long")).alias("phone_docs"),
            F.sum("_t").alias("tot_tokens"),
        )
    )
    per_1k = lambda c: F.round(  # noqa: E731
        F.try_divide(c * F.lit(1000.0), F.col("tot_tokens")), 6
    )
    unpivot = F.explode(
        F.array(
            F.struct(
                F.lit("email").alias("pii_type"),
                F.col("email_docs").alias("n_docs_hit"),
                F.col("email_hits").alias("n_hits"),
            ),
            F.struct(
                F.lit("phone").alias("pii_type"),
                F.col("phone_docs").alias("n_docs_hit"),
                F.col("phone_hits").alias("n_hits"),
            ),
        )
    ).alias("u")
    return rolled.select("source", "tot_tokens", unpivot).select(
        "source",
        F.col("u.pii_type").alias("pii_type"),
        F.col("u.n_docs_hit").cast("bigint").alias("n_docs_hit"),
        F.col("u.n_hits").cast("bigint").alias("n_hits"),
        per_1k(F.col("u.n_hits")).alias("hits_per_1k_tokens"),
    )


def sql_pii_density(corpus_sql: str) -> str:
    email = _PII_EMAIL
    phone = _PII_PHONE
    return f"""
    WITH per_doc AS (
      SELECT source,
             len(regexp_extract_all(text, '{email}')) AS e,
             len(regexp_extract_all(
                 regexp_replace(text, '{email}', '[EMAIL]', 'g'),
                 '{phone}')) AS p,
             len({SQL_WORDS_NONEMPTY}) AS t
      FROM ({corpus_sql})
    ),
    rolled AS (
      SELECT source,
             CAST(sum(e) AS BIGINT) AS email_hits,
             CAST(sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS email_docs,
             CAST(sum(p) AS BIGINT) AS phone_hits,
             CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS phone_docs,
             CAST(sum(t) AS BIGINT) AS tot_tokens
      FROM per_doc GROUP BY 1
    )
    SELECT source, 'email' AS pii_type, email_docs AS n_docs_hit,
           email_hits AS n_hits,
           round(email_hits * 1000.0 / tot_tokens, 6)
             AS hits_per_1k_tokens
    FROM rolled
    UNION ALL
    SELECT source, 'phone', phone_docs, phone_hits,
           round(phone_hits * 1000.0 / tot_tokens, 6)
    FROM rolled
    """


def sql_scrub_pii(corpus_sql: str) -> str:
    email = _PII_EMAIL
    phone = _PII_PHONE
    return f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{email}', '[EMAIL]', 'g'),
                          '{phone}', '[PHONE]', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(
                regexp_replace(text, '{email}', '[EMAIL]', 'g'), '{phone}'))
             AS BIGINT) AS n_phones
    FROM ({corpus_sql})
    """


# --------------------------------------------------------------------------
# Repetition metrics — the Gopher/RefinedWeb-style intra-document quality
# signals: heavily repeated lines or n-grams mark boilerplate/spam. Pure
# array expressions (single scan, codegen).
# --------------------------------------------------------------------------


def repetition_stats(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_lines, dup_line_fraction, top_bigram_fraction):
    - dup_line_fraction = 1 − distinct(non-blank lines)/lines
    - top_bigram_fraction = occurrences of the most frequent word bigram
      over total bigrams (0 when the doc has < 2 tokens)."""
    lines = "filter(transform(split(text, '\\n'), l -> trim(l)), l -> l != '')"
    dup_frac = f"""CASE WHEN size({lines}) = 0 THEN 0.0
        ELSE round(1.0 - CAST(size(array_distinct({lines})) AS DOUBLE)
                   / size({lines}), 6) END"""
    bigrams = f"transform(array({WORDS}), tk -> {word_grams('tk', 2)})[0]"
    top_frac = f"""transform(array({bigrams}), bg ->
        CASE WHEN size(bg) = 0 THEN 0.0
        ELSE round(CAST(array_max(transform(array_distinct(bg),
                 d -> size(filter(bg, x -> x = d)))) AS DOUBLE)
             / size(bg), 6) END)[0]"""
    return corpus.select(
        "doc_id",
        F.expr(f"size({lines})").cast("bigint").alias("n_lines"),
        F.expr(dup_frac).alias("dup_line_fraction"),
        F.expr(top_frac).alias("top_bigram_fraction"),
    )


def sql_repetition_stats(corpus_sql: str) -> str:
    lines = r"list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l != '')"
    dup_frac = f"""CASE WHEN len({lines}) = 0 THEN 0.0
        ELSE round(1.0 - CAST(len(list_distinct({lines})) AS DOUBLE)
                   / len({lines}), 6) END"""
    return f"""
    WITH toks AS (
      SELECT doc_id, text, {SQL_WORDS} AS tk FROM ({corpus_sql})
    ),
    bg AS (
      SELECT doc_id, text,
             CASE WHEN len(tk) >= 2
             THEN list_transform(generate_series(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i+1])
             ELSE [] END AS bg
      FROM toks
    )
    SELECT doc_id,
           CAST(len({lines}) AS BIGINT) AS n_lines,
           {dup_frac} AS dup_line_fraction,
           CASE WHEN len(bg) = 0 THEN 0.0
           ELSE round(CAST(list_max(list_transform(list_distinct(bg),
                    d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
                / len(bg), 6) END AS top_bigram_fraction
    FROM bg
    """


# --------------------------------------------------------------------------
# Sequence packing — pack document chunks into fixed-token-budget training
# sequences (the pretraining batch-prep step after chunking).
#
# Packing rule (first-fit with overflow, deterministic): chunks are laid
# out in (lang, doc_id, chunk_index) order and chunk c joins sequence
# floor(cum_tokens_before_c / budget) — a sequence fills until its running
# total crosses the budget, the next chunk starts the next sequence;
# chunks are atomic (never split). This is ONE exclusive running-sum
# window per lang partition — no iteration, no state machine — so at
# 100 TB it is a single shuffle on lang + a partition-local sort, and the
# same SQL runs on any engine.
# --------------------------------------------------------------------------

PACK_BUDGET_TOKENS = 256


def pack_cumsum(chunks: DataFrame) -> DataFrame:
    """chunks(doc_id, chunk_index, n_tokens, lang) → the per-lang
    EXCLUSIVE token prefix sum in (doc_id, chunk_index) order — the
    budget-independent half of sequence packing, shared by every budget
    a sweep evaluates. Runs through two_pass_running_sum_in_groups
    (r8): languages are FEW and HUGE at corpus scale, exactly the case
    where ``Window.partitionBy(lang)`` (the pre-r8 shape) funnels each
    language's billions of chunks through one task."""
    from .util import two_pass_running_sum_in_groups

    cum = two_pass_running_sum_in_groups(
        chunks.select("lang", "doc_id", "chunk_index", "n_tokens"),
        "lang",
        [F.col("doc_id"), F.col("chunk_index")],
        "n_tokens",
        out_col="_cum",
    )
    return cum.select(
        "lang",
        "doc_id",
        "n_tokens",
        (F.col("_cum") - F.col("n_tokens")).alias("_before"),
    )


def pack_sequences(
    chunks: DataFrame, budget: int = PACK_BUDGET_TOKENS
) -> DataFrame:
    """chunks(doc_id, chunk_index, n_tokens, lang) → per-sequence manifest
    (lang, seq_id, n_chunks, n_docs, seq_tokens)."""
    return pack_sequences_from_cumsum(pack_cumsum(chunks), budget)


def pack_sequences_from_cumsum(
    cum: DataFrame, budget: int = PACK_BUDGET_TOKENS
) -> DataFrame:
    """The per-budget half of packing: seq_id = floor(exclusive prefix
    sum / budget), then one (lang, seq_id) rollup."""
    assigned = cum.select(
        "lang",
        "doc_id",
        "n_tokens",
        F.floor(F.col("_before") / budget).alias("seq_id"),
    )
    return assigned.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
    )


def sql_pack_sequences(
    chunks_sql: str, budget: int = PACK_BUDGET_TOKENS
) -> str:
    return f"""
    WITH assigned AS (
      SELECT lang, doc_id, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id, chunk_index
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) / {budget}) AS BIGINT) AS seq_id
      FROM ({chunks_sql})
    )
    SELECT lang, seq_id, count(*) AS n_chunks,
           count(DISTINCT doc_id) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
    FROM assigned GROUP BY lang, seq_id
    """


# --------------------------------------------------------------------------
# Benchmark decontamination — flag training documents that share any
# word-level n-gram with a held-out benchmark/eval set (the standard
# train-set hygiene pass before pretraining; cf. GPT-3 appendix C's 13-gram
# overlap rule, scaled down to these short synthetic docs).
#
# 100 TB shape: the benchmark side is an eval suite — megabytes, not
# terabytes — so its distinct n-gram set is BROADCAST and the corpus scan
# joins map-side with zero shuffle of corpus data. The only shuffle is the
# final per-doc hit count, and because a document's grams all live in the
# partition that scanned it, partial aggregation collapses them to ≤1 row
# per doc before the exchange. Per-doc `array_distinct` bounds the fan-out
# at (tokens − n + 1) grams per doc.
# --------------------------------------------------------------------------

# Overlap gram width: GPT-3 used 13-grams over web text; the synthetic docs
# here are ~30 tokens from a tiny vocabulary, so 4-grams give the same
# "rare-enough-to-mean-copying" selectivity (measured: 8/500 docs flagged
# at sf0.01, 727/5000 at sf0.1 — vs 0 flagged at n≥6).
DECON_NGRAM = 4
DECON_BENCH_MOD = 97  # doc_id % 97 == 0 → the ~1% held-out benchmark slice


def gram_stream(corpus: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, n_grams, gram): the exploded DECON_NGRAM-word gram
    stream of the corpus — the one fan-out of the contamination family
    and the streaming decontaminate filter. The tokens (functions/text.py
    ``WORDS``) bind once as a projected column and the grams build from
    it with ``word_grams`` inside the Generate (see decontaminate's plan
    notes); n_grams is the scalar stream length (tokens − n + 1), so no
    per-doc gram array is ever materialized. ``keep`` columns ride along
    the fan-out."""
    words = corpus.select("doc_id", *keep, F.expr(WORDS).alias("w"))
    return words.select(
        "doc_id",
        *keep,
        (F.size("w") - (DECON_NGRAM - 1)).cast("bigint").alias("n_grams"),
        F.explode(F.expr(word_grams("w", DECON_NGRAM))).alias("gram"),
    )


def decontaminate(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_hit_ngrams, n_grams, contamination) for every TRAINING
    document (doc_id % DECON_BENCH_MOD != 0) sharing ≥1 n-gram occurrence
    with the benchmark slice (doc_id % DECON_BENCH_MOD == 0). Counts are
    over the doc's gram STREAM (n_grams = tokens − n + 1), so the
    denominator is a scalar and no per-doc gram array is ever
    materialized. Clean docs are absent — downstream drops contaminated
    ids with an anti-join.

    Plan notes (measured, sf0.1): the gram fan-out is the expensive step
    and higher-order lambdas run OUTSIDE whole-stage codegen, so
    (a) grams build with O(1) ``element_at`` probes, not per-gram array
    ``slice`` copies, and (b) the transform is the Generate's OWN input —
    as a standalone Project, Catalyst pushes the computation below the
    repartition exchange into the (single-task at test scale) scan stage:
    24× slower. The repartition spreads short-doc skew before the
    fan-out."""
    grams = gram_stream(spread_for_compute(corpus))
    bench = (
        grams.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("gram")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit_ngrams"),
            F.first("n_grams").alias("n_grams"),
        )
        .withColumn(
            "contamination",
            F.round(
                F.col("n_hit_ngrams").cast("double") / F.col("n_grams"), 6
            ),
        )
    )


def sql_decontaminate(corpus_sql: str) -> str:
    grams = sql_word_grams("w", DECON_NGRAM)
    return f"""
    WITH tok AS (SELECT doc_id, {SQL_WORDS} AS w FROM ({corpus_sql})),
    e AS (
      SELECT doc_id, CAST(len(w) - {DECON_NGRAM - 1} AS BIGINT) AS n_grams,
             unnest({grams}) AS gram
      FROM tok
    ),
    bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % {DECON_BENCH_MOD} = 0),
    train AS (SELECT * FROM e WHERE doc_id % {DECON_BENCH_MOD} <> 0)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_hit_ngrams,
           any_value(t.n_grams) AS n_grams,
           round(CAST(count(*) AS DOUBLE) / any_value(t.n_grams), 6)
             AS contamination
    FROM train t JOIN bench b USING (gram)
    GROUP BY t.doc_id
    """


DECON_SCRUB_THRESHOLD = 0.03  # drop a train doc at >=3% gram overlap


def decontaminate_execute(corpus: DataFrame) -> DataFrame:
    """(source, n_train_docs, n_dropped, tokens_kept, tokens_dropped,
    drop_rate): the decontamination SCRUB EXECUTOR's per-source receipt
    (round 12) — ``decontaminate`` detects, this applies the release
    decision (drop every training doc whose benchmark-gram overlap is
    at or above DECON_SCRUB_THRESHOLD) and reports what shipping the scrub
    costs each source in documents and tokens. Sources with zero drops
    appear with 0 (left join + coalesce — the dedup_source_shift
    lesson).

    100 TB shape: the detection side is ``decontaminate``'s audited
    plan (gram stream -> broadcast bench-distinct join -> per-doc agg);
    the executor adds one bounded-side join (flagged doc_ids, a tiny
    fraction of the corpus) against the token-counted train frame and
    a per-source aggregation — no second gram pass, no new corpus
    shuffle beyond the groupBy(source)."""
    flagged = (
        decontaminate(corpus.select("doc_id", "text"))
        .filter(F.col("contamination") >= DECON_SCRUB_THRESHOLD)
        .select("doc_id", F.lit(1).alias("_drop"))
    )
    train = corpus.filter(
        F.col("doc_id") % DECON_BENCH_MOD != 0
    ).select(
        "doc_id", "source", F.expr(_N_TOKS_SPARK).alias("_t")
    )
    return (
        train.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train_docs"),
            F.coalesce(F.sum("_drop"), F.lit(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(F.when(F.col("_drop").isNull(), F.col("_t")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
            F.sum(F.when(F.col("_drop").isNotNull(), F.col("_t")).otherwise(0))
            .cast("bigint")
            .alias("tokens_dropped"),
        )
        .select(
            "source",
            "n_train_docs",
            "n_dropped",
            "tokens_kept",
            "tokens_dropped",
            F.round(
                F.col("n_dropped") / F.col("n_train_docs"), 6
            ).alias("drop_rate"),
        )
    )


def sql_decontaminate_execute(corpus_sql: str) -> str:
    decon = sql_decontaminate(
        f"SELECT doc_id, text FROM ({corpus_sql})"
    )
    return f"""
    WITH flagged AS (
      SELECT doc_id, 1 AS drp FROM ({decon})
      WHERE contamination >= {DECON_SCRUB_THRESHOLD!r}
    ),
    train AS (
      SELECT doc_id, source, CAST({_N_TOKS_DUCK} AS BIGINT) AS t
      FROM ({corpus_sql}) WHERE doc_id % {DECON_BENCH_MOD} <> 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(coalesce(sum(drp), 0) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN drp IS NULL THEN t ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CAST(sum(CASE WHEN drp IS NOT NULL THEN t ELSE 0 END)
                AS BIGINT) AS tokens_dropped,
           round(CAST(coalesce(sum(drp), 0) AS DOUBLE) / count(*), 6)
             AS drop_rate
    FROM train LEFT JOIN flagged USING (doc_id)
    GROUP BY source
    """


# --------------------------------------------------------------------------
# Per-source contamination DIRECTION (round 8, VERDICT r7 item 8) — the
# forensic follow-up to decontaminate: once n-gram overlap with the
# held-out benchmark slice exists, which way did it leak, and from
# where? Gram-set containment ratios CANCEL to a pure size ratio
# (|T∩E|/|E| ÷ |T∩E|/|T| = |T|/|E| — no signal), so the direction is
# read at the DOCUMENT level instead:
#   train_doc_rate  = contaminated train docs of source s / all train
#                     docs of s   (how widely benchmark text is smeared
#                     through the source — high when eval leaked INTO
#                     the training crawl, e.g. one eval item quoted by
#                     thousands of pages)
#   eval_doc_rate   = eval docs sharing a gram with source s / all
#                     eval docs   (how much of the benchmark this one
#                     source touches — high when the benchmark was
#                     BUILT from the source)
# direction_ratio = train_doc_rate / eval_doc_rate: >> 1 reads
# "eval→train" (drop the training hits), << 1 reads "train→eval"
# (rebuild or drop the eval items).
#
# 100 TB shape: the gram fan-out is the same spread + element_at
# pipeline as decontaminate; both doc-level distincts are hash
# aggregations whose keys include the gram (map-side partial bounds
# reducer traffic at vocabulary size — the top_terms argument); the
# benchmark side is the ~1 % slice, broadcast into both probes; the
# final rollup is |sources| rows.
# --------------------------------------------------------------------------


def contamination_direction(corpus: DataFrame) -> DataFrame:
    """(source, n_train_docs, n_contam_train_docs, train_doc_rate,
    n_contam_eval_docs, eval_doc_rate, direction_ratio) per source with
    ≥1 contaminated training document; ``corpus`` must carry
    (doc_id, text, source)."""
    grams = gram_stream(spread_for_compute(corpus), "source")
    # The gram fan-out is RECOMPUTED per probe (codegen'd scan work)
    # rather than materialized: checkpointing the full exploded
    # (doc_id, source, gram) stream is an n-grams×corpus block-storage
    # residency — measured as this engine's worst GC profile at sf0.1
    # and an outright scale-killer at 100 TB (VERDICT r9 item 3). What
    # IS persisted is the bounded frame every probe shares: the eval
    # slice's distinct (doc_id, gram) pairs — eval-suite-sized at any
    # corpus scale, by construction of the benchmark split.
    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    bench_grams = (
        grams.filter(is_bench)
        .select("doc_id", "gram")
        .distinct()
        .localCheckpoint()
    )
    bench_set = bench_grams.select("gram").distinct()
    n_eval_docs = bench_grams.agg(
        F.countDistinct("doc_id").alias("_ne")
    )
    train = grams.filter(~is_bench)
    # contaminated train docs: ≥1 gram in the benchmark vocabulary
    ct = (
        train.join(F.broadcast(bench_set), "gram")
        .select("source", "doc_id")
        .distinct()
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_contam_train_docs"))
    )
    n_train = corpus.filter(
        F.col("doc_id") % DECON_BENCH_MOD != 0
    ).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_train_docs")
    )
    # contaminated eval docs per source: the eval doc shares ≥1 gram
    # with the source's training grams (distinct on the pair key)
    src_grams = train.select("source", "gram").distinct()
    ce = (
        bench_grams.join(src_grams, "gram")
        .select("source", "doc_id")
        .distinct()
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_contam_eval_docs"))
    )
    tr = F.col("n_contam_train_docs") / F.col("n_train_docs")
    er = F.col("n_contam_eval_docs") / F.col("_ne")
    return (
        n_train.join(ct, "source")
        .join(ce, "source")
        .crossJoin(F.broadcast(n_eval_docs))
        .select(
            "source",
            "n_train_docs",
            "n_contam_train_docs",
            F.round(tr, 6).alias("train_doc_rate"),
            "n_contam_eval_docs",
            F.round(er, 6).alias("eval_doc_rate"),
            F.round(F.try_divide(tr, er), 6).alias("direction_ratio"),
        )
    )


def sql_contamination_direction(corpus_sql: str) -> str:
    grams = sql_word_grams("w", DECON_NGRAM)
    return f"""
    WITH tok AS (
      SELECT doc_id, source, {SQL_WORDS} AS w FROM ({corpus_sql})
    ),
    e AS (SELECT doc_id, source, unnest({grams}) AS gram FROM tok),
    bench_grams AS (
      SELECT DISTINCT doc_id, gram FROM e WHERE doc_id % {DECON_BENCH_MOD} = 0
    ),
    bench_set AS (SELECT DISTINCT gram FROM bench_grams),
    n_eval AS (
      SELECT count(DISTINCT doc_id) AS ne FROM bench_grams
    ),
    train AS (SELECT * FROM e WHERE doc_id % {DECON_BENCH_MOD} <> 0),
    ct AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_contam_train_docs
      FROM (
        SELECT DISTINCT t.source, t.doc_id
        FROM train t JOIN bench_set b USING (gram)
      ) GROUP BY 1
    ),
    n_train AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_train_docs
      FROM ({corpus_sql}) WHERE doc_id % {DECON_BENCH_MOD} <> 0
      GROUP BY 1
    ),
    src_grams AS (SELECT DISTINCT source, gram FROM train),
    ce AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_contam_eval_docs
      FROM (
        SELECT DISTINCT s.source, bg.doc_id
        FROM bench_grams bg JOIN src_grams s USING (gram)
      ) GROUP BY 1
    )
    SELECT t.source, t.n_train_docs, c.n_contam_train_docs,
           round(CAST(c.n_contam_train_docs AS DOUBLE)
                 / t.n_train_docs, 6) AS train_doc_rate,
           x.n_contam_eval_docs,
           round(CAST(x.n_contam_eval_docs AS DOUBLE) / ne, 6)
             AS eval_doc_rate,
           round((CAST(c.n_contam_train_docs AS DOUBLE) / t.n_train_docs)
                 / (CAST(x.n_contam_eval_docs AS DOUBLE) / ne), 6)
             AS direction_ratio
    FROM n_train t JOIN ct c USING (source) JOIN ce x USING (source)
    CROSS JOIN n_eval
    """


# --------------------------------------------------------------------------
# Unigram log-probability scoring — the CCNet-style language-model quality
# filter, degree zero: score each document by the mean log probability of
# its tokens under the corpus's own unigram distribution. Low scores mark
# gibberish / rare-token spam; high scores mark stopword soup.
#
# 100 TB shape: two aggregations. (1) token → count is zipfian-skewed but
# the token IS the grouping key, so map-side partial aggregation bounds
# per-reducer traffic at O(vocab) (same argument as top_terms). (2) The
# resulting unigram table is vocab-sized — broadcast it back over the
# token stream; the per-doc mean then partial-aggregates exactly like
# decontaminate's hit count. No corpus-sized shuffle anywhere.
# --------------------------------------------------------------------------


def unigram_logprob(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_scored_tokens, avg_logprob): mean natural-log unigram
    probability of the doc's tokens under the whole-corpus distribution.
    Docs with zero non-blank tokens are absent (nothing to score)."""
    toks = corpus.select(
        "doc_id", F.explode(F.expr(WORDS)).alias("token")
    ).filter(F.col("token") != "")
    freq = toks.groupBy("token").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").alias("total"))
    lm = F.broadcast(freq.crossJoin(F.broadcast(total)))
    return (
        toks.join(lm, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_scored_tokens"),
            F.round(
                F.avg(F.log(F.col("n").cast("double") / F.col("total"))), 6
            ).alias("avg_logprob"),
        )
    )


def sql_unigram_logprob(corpus_sql: str) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, t.token
      FROM ({corpus_sql}),
           LATERAL (SELECT unnest({SQL_WORDS}) AS token) t
      WHERE t.token <> ''
    ),
    freq AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
    total AS (SELECT sum(n) AS total FROM freq)
    SELECT doc_id,
           count(*) AS n_scored_tokens,
           round(avg(ln(CAST(n AS DOUBLE) / total)), 6) AS avg_logprob
    FROM toks JOIN freq USING (token) CROSS JOIN total
    GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# Source-mixture balancing — given target mixture weights per source,
# compute the LARGEST corpus satisfying them exactly: T = min_s(n_s/w_s)
# total docs, keep_s = floor(T·w_s) from each source. This is the
# data-mixing step of pretraining curation (e.g. The Pile / Dolma-style
# mixture tables). Weighted sources with no documents cap T at 0 — an
# unsatisfiable mixture reports all-zero keeps rather than silently
# rebalancing to whatever happens to exist.
#
# 100 TB shape: a source-count aggregation plus scalar arithmetic over a
# weights-sized frame — nothing corpus-sized moves. Applying the plan is
# a membership predicate, deterministic like text_train_val_split's:
# exact form `row_number() OVER (PARTITION BY source ORDER BY hash32(id))
# <= n_kept`, or the windowless hash-threshold form
# `hash32(id) < n_kept/n_available * 2^32` (approximate to ±1/2^32) when
# a single source is too large to rank.
# --------------------------------------------------------------------------

# Relative target weights per testbed source (normalized in the operator).
MIXTURE_WEIGHTS: dict[str, int] = {f"src{i}": (i % 4) + 1 for i in range(20)}


def source_mixture(
    corpus: DataFrame, weights: dict[str, int] | None = None
) -> DataFrame:
    """(source, n_available, n_kept, target_share, achieved_share): one
    row per WEIGHTED source (missing or floored-to-zero sources included,
    with n_kept = 0); achieved_share is n_kept over total kept, 0.0 when
    the mixture is unsatisfiable."""
    w = weights or MIXTURE_WEIGHTS
    total_w = sum(w.values())
    wanted = corpus.sparkSession.createDataFrame(
        [(s, rel / total_w) for s, rel in sorted(w.items())],
        "source string, w_s double",
    )
    counts = (
        corpus.filter(F.col("source").isin(list(w)))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    avail = wanted.join(counts, "source", "left").select(
        "source",
        "w_s",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_available"),
    )
    cap = avail.agg(
        F.min(F.col("n_available") / F.col("w_s")).alias("t_total")
    )
    plan = avail.crossJoin(F.broadcast(cap)).withColumn(
        "n_kept",
        F.floor(F.col("t_total") * F.col("w_s") + F.lit(1e-9)),
    )
    total = plan.agg(F.sum("n_kept").alias("total_kept"))
    return plan.crossJoin(F.broadcast(total)).select(
        "source",
        "n_available",
        "n_kept",
        F.round(F.col("w_s"), 6).alias("target_share"),
        F.when(F.col("total_kept") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("n_kept") / F.col("total_kept"), 6))
        .alias("achieved_share"),
    )


def sql_source_mixture(corpus_sql: str) -> str:
    total_w = sum(MIXTURE_WEIGHTS.values())
    in_list = ", ".join(f"'{s}'" for s in sorted(MIXTURE_WEIGHTS))
    wanted = ", ".join(
        f"('{s}', CAST({rel} AS DOUBLE) / {total_w})"
        for s, rel in sorted(MIXTURE_WEIGHTS.items())
    )
    return f"""
    WITH wanted(source, w_s) AS (VALUES {wanted}),
    counts AS (
      SELECT source, count(*) AS n
      FROM ({corpus_sql}) WHERE source IN ({in_list})
      GROUP BY source
    ),
    avail AS (
      SELECT w.source, w.w_s, CAST(coalesce(c.n, 0) AS BIGINT) AS n_available
      FROM wanted w LEFT JOIN counts c USING (source)
    ),
    cap AS (SELECT min(n_available / w_s) AS t_total FROM avail),
    plan AS (
      SELECT source, w_s, n_available,
             CAST(floor(t_total * w_s + 1e-9) AS BIGINT) AS n_kept
      FROM avail CROSS JOIN cap
    ),
    total AS (SELECT sum(n_kept) AS total_kept FROM plan)
    SELECT source, n_available, n_kept,
           round(w_s, 6) AS target_share,
           CASE WHEN total_kept = 0 THEN 0.0
                ELSE round(CAST(n_kept AS DOUBLE) / total_kept, 6)
           END AS achieved_share
    FROM plan CROSS JOIN total
    """


# --------------------------------------------------------------------------
# BM25 keyword retrieval — the lexical complement to the embedding-ANN
# operators: top-k documents per keyword query under Okapi BM25.
#
# 100 TB shape: the query set is tiny and literal, so the token stream is
# filtered to query terms AT THE SCAN (an IN-list predicate, no join, no
# inverted index materialized); tf then aggregates only matching tokens
# (groupBy doc_id/term with map-side combine), df and the global doc
# stats are term-count/scalar-sized and broadcast back. Nothing
# corpus-sized ever shuffles except the matching-token subset.
# --------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10

_BM25_IDENT_RX = r"^[A-Za-z0-9_\-]+$"


def _bm25_check_queries(
    queries: tuple[tuple[str, tuple[str, ...]], ...],
) -> None:
    """Terms and query ids are interpolated into BOTH engines' SQL as
    single-quoted literals; restrict them to a quote-free charset so the
    two dialects cannot diverge on escaping (a term like ``o'brien``
    would otherwise be a ParseException on one side and a silently
    different literal on the other)."""
    import re

    for qid, ts in queries:
        for s in (qid, *ts):
            if not re.match(_BM25_IDENT_RX, s):
                raise ValueError(
                    f"bm25 query ids/terms must match {_BM25_IDENT_RX}; "
                    f"got {s!r}"
                )
# Deterministic keyword queries over the testbed vocabulary (constants
# shared by both engines; replace with a real query table in production).
BM25_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q_storage", ("table", "row", "scan")),
    ("q_exec", ("hash", "merge", "sort")),
    ("q_perf", ("fast", "slow")),
)


def bm25_topk(
    corpus: DataFrame,
    queries: tuple[tuple[str, tuple[str, ...]], ...] = BM25_QUERIES,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """(query_id, doc_id, score, rank): top-k docs per keyword query by
    Okapi BM25 (idf = ln((N − df + 0.5)/(df + 0.5) + 1), standard k1/b).
    Ties break by doc_id for determinism; docs with zero matching terms
    never appear."""
    _bm25_check_queries(queries)
    all_terms = sorted({t for _, ts in queries for t in ts})
    docs = corpus.select(
        "doc_id",
        F.expr(_N_TOKS_SPARK).cast("double").alias("dl"),
        F.explode(F.expr(WORDS)).alias("term"),
    )
    stats = corpus.select(
        F.count("*").alias("n_docs"),
        F.avg(F.expr(_N_TOKS_SPARK)).alias("avgdl"),
    )
    tf = (
        docs.filter(F.col("term").isin(all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    df_ = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    # the query set is literal → fold term→query_ids into an expression
    # (an explode over a CASE of array literals) instead of a third
    # broadcast join; one fewer broadcast-build job per run
    by_term: dict[str, list[str]] = {}
    for qid, ts in queries:
        for t in ts:
            by_term.setdefault(t, []).append(qid)
    qcase = "CASE " + " ".join(
        "WHEN term = '{}' THEN array({})".format(
            t, ", ".join(f"'{q}'" for q in qs)
        )
        for t, qs in sorted(by_term.items())
    ) + " ELSE array() END"
    scored = (
        tf.join(F.broadcast(df_), "term")
        .withColumn("query_id", F.explode(F.expr(qcase)))
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
                + 1.0
            )
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    return top_k(
        scored, ["query_id"], [F.col("score").desc(), F.col("doc_id")], k
    )


def sql_bm25_topk(corpus_sql: str) -> str:
    all_terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in BM25_QUERIES for t in ts
    )
    return f"""
    WITH corpus AS ({corpus_sql}),
    docs AS (
      SELECT doc_id, CAST({_N_TOKS_DUCK} AS DOUBLE) AS dl, t.term
      FROM corpus, LATERAL (SELECT unnest({SQL_WORDS}) AS term) t
    ),
    stats AS (
      SELECT count(*) AS n_docs, avg({_N_TOKS_DUCK}) AS avgdl FROM corpus
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
      FROM docs WHERE term IN ({in_list})
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    qterms(query_id, term) AS (VALUES {qvals}),
    scored AS (
      SELECT q.query_id, tf.doc_id,
             round(sum(
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({BM25_K1} + 1))
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / s.avgdl))
             ), 6) AS score
      FROM tf JOIN df USING (term) JOIN qterms q USING (term)
      CROSS JOIN stats s
      GROUP BY q.query_id, tf.doc_id
    )
    SELECT query_id, doc_id, score, rank FROM (
      SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= {BM25_TOP_K}
    """


# --------------------------------------------------------------------------
# Corpus top terms — highest-frequency tokens per language.
#
# The classic zipfian-skew aggregation: explode(tokens) → groupBy
# (lang, token). The hot terms ("the", "de", …) are safe because the
# token is IN the grouping key and partial aggregation combines each
# term map-side before the shuffle — per-reducer traffic is
# O(distinct terms), not O(token occurrences). Rank per lang bounded by
# row_number ≤ K right after the window.
# --------------------------------------------------------------------------

TOP_TERMS_K = 20


def top_terms(corpus: DataFrame, k: int = TOP_TERMS_K) -> DataFrame:
    """(lang, token, term_count, doc_count, rank): the k most frequent
    whitespace tokens per language, ties broken lexicographically.
    Languages are few and their vocabularies huge, so the rank is a
    ``salted_top_k`` sharded by token."""
    toks = corpus.select(
        "lang",
        "doc_id",
        F.explode(F.expr(WORDS)).alias("token"),
    ).filter(F.col("token") != "")
    counts = toks.groupBy("lang", "token").agg(
        F.count("*").alias("term_count"),
        F.countDistinct("doc_id").alias("doc_count"),
    )
    return salted_top_k(
        counts.select("*", salt("token")),
        ["lang"], [F.col("term_count").desc(), F.col("token")], k,
    ).select("lang", "token", "term_count", "doc_count", "rank")


def sql_top_terms(corpus_sql: str) -> str:
    return f"""
    WITH toks AS (
      SELECT lang, doc_id, t.token
      FROM ({corpus_sql}),
           LATERAL (SELECT unnest({SQL_WORDS}) AS token) t
      WHERE t.token <> ''
    ),
    counts AS (
      SELECT lang, token, count(*) AS term_count,
             count(DISTINCT doc_id) AS doc_count
      FROM toks GROUP BY lang, token
    )
    SELECT lang, token, term_count, doc_count, rank FROM (
      SELECT lang, token, term_count, doc_count,
             CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY term_count DESC, token) AS INTEGER) AS rank
      FROM counts
    ) WHERE rank <= {TOP_TERMS_K}
    """


# --------------------------------------------------------------------------
# Bigram conditional-logprob scoring — one degree up from unigram_logprob:
# score each document by the mean ln P(w2 | w1) of its adjacent token
# pairs under the corpus's own bigram/context counts (the classic
# perplexity-style fluency filter; word-salad that passes a unigram filter
# fails here because its ADJACENCIES are improbable).
#
# 100 TB shape: bigram construction is array-local (zip_with over the
# token array — no window, no per-doc shuffle); then two aggregations
# whose grouping keys ARE the join keys (bigram, context word), so
# map-side partial aggregation bounds reducer traffic at O(vocab²-seen).
# The conditional-prob table is built pair-table ⋈ context-table (both
# already aggregated), and joined back to the bigram stream on the bigram
# key. Unlike the unigram table, the pair table is NOT forced broadcast:
# seen-bigram vocabulary grows with corpus diversity, so the plan leaves
# the strategy to AQE (broadcast when it fits, shuffle join when not).
# --------------------------------------------------------------------------


def bigram_logprob(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob): mean ln(count(w1 w2)/count(w1·))
    over the doc's adjacent pairs. Docs with <2 tokens are absent.
    Tokens are whitespace-split, so the ' ' pair separator is unambiguous.
    """
    toked = corpus.select("doc_id", F.expr(WORDS_NONEMPTY).alias("_ts"))
    n1 = F.greatest(F.size("_ts") - 1, F.lit(0))
    grams = (
        spread_for_compute(toked)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("_ts", 1, n1),
                    F.slice(F.col("_ts"), 2, n1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("bigram"),
        )
    )
    grams = grams.withColumn(
        "w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
    )
    pair = grams.groupBy("bigram", "w1").agg(F.count("*").alias("n2"))
    ctx = grams.groupBy("w1").agg(F.count("*").alias("n1"))
    lp = pair.join(ctx, "w1").select(
        "bigram",
        F.log(F.col("n2").cast("double") / F.col("n1")).alias("_lp"),
    )
    return (
        grams.join(lp, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("_lp"), 6).alias("avg_logprob"),
        )
    )


def sql_bigram_logprob(corpus_sql: str) -> str:
    return f"""
    WITH toked AS (
      SELECT doc_id, {SQL_WORDS_NONEMPTY} AS ts FROM ({corpus_sql})
    ),
    grams AS (
      SELECT doc_id,
             g.bigram,
             split_part(g.bigram, ' ', 1) AS w1
      FROM toked,
           LATERAL (
             SELECT unnest(list_transform(
               range(1, len(ts)),
               i -> ts[i] || ' ' || ts[i + 1]
             )) AS bigram
           ) g
    ),
    pair AS (SELECT bigram, w1, count(*) AS n2 FROM grams GROUP BY 1, 2),
    ctx AS (SELECT w1, count(*) AS n1 FROM grams GROUP BY 1),
    lp AS (
      SELECT bigram, ln(CAST(n2 AS DOUBLE) / n1) AS lp
      FROM pair JOIN ctx USING (w1)
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(lp), 6) AS avg_logprob
    FROM grams JOIN lp USING (bigram)
    GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# Deterministic stratified sampling — per-stratum keep rates applied via
# a hash-of-id bucket (the same discipline as text_train_val_split):
# stable across re-runs, executors, engines, and incremental corpus
# rebuilds, which rand()-based sampling is not. Downsampling
# over-represented sources (and upweighting rare ones) is the standard
# source-mixture step before LLM pretraining.
#
# 100 TB shape: completely shuffle-free — one narrow filter over the
# scan; the rate lookup is a literal CASE, the bucket one md5 per row.
# --------------------------------------------------------------------------

STRATIFIED_RATES = {"src0": 50, "src1": 5, "src2": 80}  # percent
STRATIFIED_DEFAULT_RATE = 20
_STRAT_SALT = "STRAT"


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Filter (doc_id, source, lang) rows to the per-source keep rate:
    kept iff hash-bucket(doc_id) < rate[source] (default
    STRATIFIED_DEFAULT_RATE %)."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(_STRAT_SALT), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    rate = F.lit(STRATIFIED_DEFAULT_RATE)
    for src, pct in STRATIFIED_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(pct)).otherwise(rate)
    return docs.filter(bucket < rate).select("doc_id", "source", "lang")


def sql_stratified_sample(docs_sql: str) -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {p}"
        for s, p in STRATIFIED_RATES.items()
    )
    return f"""
    SELECT doc_id, source, lang
    FROM ({docs_sql})
    WHERE CAST('0x' || substr(md5('{_STRAT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
          < CASE {cases} ELSE {STRATIFIED_DEFAULT_RATE} END
    """


# --------------------------------------------------------------------------
# Boilerplate n-gram detection — the C4/CCNet "repeated spans" pass:
# surface every N-token span that appears in more than one document
# (navigation chrome, license headers, templated intros), with its
# document- and occurrence-counts; downstream filters subtract these
# spans or drop the docs that are mostly boilerplate.
#
# 100 TB shape: span construction is array-local (transform over the
# token array — no window, no shuffle), then ONE groupBy on the span
# whose partial aggregation collapses each mapper's repeats before the
# wire; the span key is uniformly hash-distributed. At petabyte scale
# the groupBy key would be md5(span) (8-byte shuffle rows, join the
# strings back only for the surviving ≥min_docs spans); kept as the
# string here so the operator's output is directly readable.
# --------------------------------------------------------------------------

BOILERPLATE_N = 5  # tokens per span
BOILERPLATE_MIN_DOCS = 2


def boilerplate_ngrams(corpus: DataFrame) -> DataFrame:
    """(ngram, n_docs, n_total): every n-token span appearing in at
    least BOILERPLATE_MIN_DOCS distinct documents."""
    # the tokens bind once per doc: the span body reads them per span
    spans = F.expr(
        f"transform(array({WORDS_NONEMPTY}), tk -> "
        f"{word_grams('tk', BOILERPLATE_N)})[0]"
    )
    return (
        spread_for_compute(corpus)
        .select("doc_id", F.explode(spans).alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_total"),
        )
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
    )


def sql_boilerplate_ngrams(corpus_sql: str) -> str:
    return f"""
    WITH spans AS (
      SELECT doc_id, s.ngram
      FROM (SELECT doc_id, {SQL_WORDS_NONEMPTY} AS toks FROM ({corpus_sql})),
           LATERAL (
             SELECT unnest(list_transform(range(1, len(toks) - {BOILERPLATE_N} + 2),
                    i -> array_to_string(toks[i:i + {BOILERPLATE_N} - 1], ' ')))
               AS ngram
           ) s
    )
    SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total
    FROM spans GROUP BY ngram HAVING count(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
    """


# --------------------------------------------------------------------------
# TF-IDF keyword extraction — the per-document complement of top_terms
# (corpus-wide) and bm25_topk (query-side): each document's top-k terms
# by tf·idf, the classic topic-tagging / keyword-indexing pass.
#
# 100 TB shape: tf is a (doc, token) groupBy off the token explode; df is
# a token-keyed groupBy over the DISTINCT (doc, token) frame — both
# partial-aggregate map-side, and the df table is vocabulary-sized, so it
# broadcasts back onto the tf stream (same broadcast-the-small-aggregate
# pattern as unigram_logprob). The final per-doc top-k is a window over
# the tf frame — one row per (doc, distinct token), never per occurrence.
# idf uses the smoothed ln((N+1)/(df+1)) form so single-doc corpora keep
# nonzero weights; ROUNDING: tfidf rounds to 9 before ranking (ties then
# break on token) so both engines rank identically.
# --------------------------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_keywords(corpus: DataFrame) -> DataFrame:
    """(doc_id, token, tf, df, tfidf, rank): top-k terms per document."""
    toks = (
        spread_for_compute(corpus)
        .select("doc_id", F.explode(F.expr(WORDS_NONEMPTY)).alias("token"))
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    n_docs = corpus.agg(F.count("*").alias("_n"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df.crossJoin(F.broadcast(n_docs))), "token")
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("_n") + 1) / (F.col("df") + 1)),
                9,
            ),
        )
    )
    return top_k(
        scored, ["doc_id"], [F.col("tfidf").desc(), F.col("token")],
        TFIDF_TOP_K,
    ).select("doc_id", "token", "tf", "df", "tfidf", "rank")


def sql_tfidf_keywords(corpus_sql: str) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, t.token
      FROM (SELECT doc_id, {SQL_WORDS_NONEMPTY} AS ts FROM ({corpus_sql})),
           LATERAL (SELECT unnest(ts) AS token) t
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
    ),
    n_docs AS (SELECT count(*) AS n FROM ({corpus_sql})),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             round(tf.tf * ln((n_docs.n + 1) / (df.df + 1.0)), 9) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n_docs
    )
    SELECT doc_id, token, tf, df, tfidf, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, token) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= {TFIDF_TOP_K}
    """


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models: ...
# Gopher", Table A1 — the de-facto standard heuristic filter bundle, also
# used by RedPajama/Dolma): word-count band, mean-word-length band,
# symbol-to-word ratio (# and ellipsis), bullet-started and
# ellipsis-ended line fractions, alphabetic-word fraction, and a minimum
# stopword hit count. Emitted as per-rule measurements + the composite
# keep flag so a pipeline can tune individual thresholds downstream.
#
# 100 TB shape: completely shuffle-free — every rule is a column
# expression over the document scan (split / filter / startswith are all
# JVM codegen); comparisons use the ROUNDED ratios so both engines
# decide `keep` identically.
# --------------------------------------------------------------------------

GOPHER_WORDS_MIN, GOPHER_WORDS_MAX = 50, 100_000
GOPHER_MWL_MIN, GOPHER_MWL_MAX = 3.0, 10.0
GOPHER_SYMBOL_MAX = 0.1
GOPHER_BULLET_MAX = 0.9
GOPHER_ELLIPSIS_MAX = 0.3
GOPHER_ALPHA_MIN = 0.8
GOPHER_STOP_MIN = 2


def _gopher_exprs(dialect: str) -> dict[str, str]:
    """The rule expressions, built per SQL dialect from shared constants so
    the two dialects cannot drift."""
    if dialect == "spark":
        ws, size, flt = WORDS_NONEMPTY, "size", "filter"
        lines = "filter(split(text, '\\n'), l -> trim(l) != '')"
        starts, ends = "startswith", "endswith"
        rx = "w rlike '[a-zA-Z]'"
        hits = _spark_hits("en")
        # Spark SQL literals process backslash escapes → '\\s+'; DuckDB
        # literals don't → '\s+' (same split as WORDS/SQL_WORDS)
        nospace = "regexp_replace(trim(lower(text)), '\\\\s+', '')"
    else:
        ws, size, flt = SQL_WORDS_NONEMPTY, "len", "list_filter"
        lines = "list_filter(string_split(text, chr(10)), l -> trim(l) <> '')"
        starts, ends = "starts_with", "ends_with"
        rx = "regexp_matches(w, '[a-zA-Z]')"
        hits = _duck_hits("en")
        nospace = r"regexp_replace(trim(lower(text)), '\s+', '', 'g')"
    n_words = f"{size}({ws})"
    nw1 = f"greatest({n_words}, 1)"
    mean_wl = f"round(CAST(length({nospace}) AS DOUBLE) / {nw1}, 6)"
    symbols = (
        "(length(text) - length(replace(text, '#', ''))) "
        "+ (length(text) - length(replace(text, '...', ''))) / 3.0"
    )
    sym_ratio = f"round(CAST({symbols} AS DOUBLE) / {nw1}, 6)"
    nl1 = f"greatest({size}({lines}), 1)"
    bullet = (
        f"round(CAST({size}({flt}({lines}, l -> {starts}(ltrim(l), '-') "
        f"or {starts}(ltrim(l), '*') or {starts}(ltrim(l), '•'))) AS DOUBLE)"
        f" / {nl1}, 6)"
    )
    ellipsis = (
        f"round(CAST({size}({flt}({lines}, l -> {ends}(rtrim(l), '...') "
        f"or {ends}(rtrim(l), '…'))) AS DOUBLE) / {nl1}, 6)"
    )
    alpha = (
        f"round(CAST({size}({flt}({ws}, w -> {rx})) AS DOUBLE) / {nw1}, 6)"
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_word_ratio": sym_ratio,
        "bullet_line_frac": bullet,
        "ellipsis_line_frac": ellipsis,
        "alpha_word_frac": alpha,
        "n_stop_hits": hits,
    }


def _gopher_keep(e: dict[str, str]) -> str:
    return (
        f"({e['n_words']} >= {GOPHER_WORDS_MIN} "
        f"AND {e['n_words']} <= {GOPHER_WORDS_MAX} "
        f"AND {e['mean_word_len']} >= {GOPHER_MWL_MIN} "
        f"AND {e['mean_word_len']} <= {GOPHER_MWL_MAX} "
        f"AND {e['symbol_word_ratio']} <= {GOPHER_SYMBOL_MAX} "
        f"AND {e['bullet_line_frac']} <= {GOPHER_BULLET_MAX} "
        f"AND {e['ellipsis_line_frac']} <= {GOPHER_ELLIPSIS_MAX} "
        f"AND {e['alpha_word_frac']} >= {GOPHER_ALPHA_MIN} "
        f"AND {e['n_stop_hits']} >= {GOPHER_STOP_MIN})"
    )


def gopher_rules(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stop_hits,
    keep) — the Gopher heuristic filter bundle as one scan."""
    e = _gopher_exprs("spark")
    return corpus.select(
        "doc_id",
        F.expr(e["n_words"]).cast("bigint").alias("n_words"),
        F.expr(e["mean_word_len"]).alias("mean_word_len"),
        F.expr(e["symbol_word_ratio"]).alias("symbol_word_ratio"),
        F.expr(e["bullet_line_frac"]).alias("bullet_line_frac"),
        F.expr(e["ellipsis_line_frac"]).alias("ellipsis_line_frac"),
        F.expr(e["alpha_word_frac"]).alias("alpha_word_frac"),
        F.expr(e["n_stop_hits"]).cast("bigint").alias("n_stop_hits"),
        F.expr(_gopher_keep(e)).alias("keep"),
    )


def sql_gopher_rules(corpus_sql: str) -> str:
    e = _gopher_exprs("duck")
    return f"""
    SELECT doc_id,
           CAST({e["n_words"]} AS BIGINT) AS n_words,
           {e["mean_word_len"]} AS mean_word_len,
           {e["symbol_word_ratio"]} AS symbol_word_ratio,
           {e["bullet_line_frac"]} AS bullet_line_frac,
           {e["ellipsis_line_frac"]} AS ellipsis_line_frac,
           {e["alpha_word_frac"]} AS alpha_word_frac,
           CAST({e["n_stop_hits"]} AS BIGINT) AS n_stop_hits,
           {_gopher_keep(e)} AS keep
    FROM ({corpus_sql})
    """


# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): score each raw document by
# avg log(p_target(b) / p_raw(b)) over its HASHED BIGRAM features, where
# both probability tables are add-1-smoothed bucket LMs — p_target fit on
# an in-domain slice (here: lang = 'en' declared), p_raw on the full
# corpus. High weight = raw doc looks like the target domain.
#
# 100 TB shape: the bigram stream shuffles once onto DSIR_BUCKETS (64)
# keys with map-side combine for each LM (the target LM's counts are a
# filtered aggregate of the SAME stream — one pass, not two scans); both
# LM tables are 64 rows → broadcast back over the stream; the per-doc
# mean shuffles on doc_id. Nothing wider than (doc_id, bucket) ever
# crosses the wire. Totals ride a broadcast one-row frame, not a driver
# collect.
# --------------------------------------------------------------------------

DSIR_BUCKETS = 64
_DSIR_SEED = 77


def dsir_weights(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, dsir_weight) for every doc with ≥1 bigram."""
    from ..functions.hashing import hash32_expr_lambda

    toked = corpus.select(
        "doc_id", F.col("lang"), F.expr(WORDS_NONEMPTY).alias("_ts")
    )
    n1 = F.greatest(F.size("_ts") - 1, F.lit(0))
    h = hash32_expr_lambda(_DSIR_SEED)
    grams = spread_for_compute(toked).select(
        "doc_id",
        (F.col("lang") == "en").alias("_tgt"),
        F.explode(
            F.expr(
                f"transform(zip_with(slice(_ts, 1, greatest(size(_ts) - 1, 0)), "
                f"slice(_ts, 2, greatest(size(_ts) - 1, 0)), "
                f"(a, b) -> concat(a, ' ', b)), t -> {h} % {DSIR_BUCKETS})"
            )
        ).alias("bucket"),
    )
    counts = grams.groupBy("bucket").agg(
        F.count("*").alias("_nraw"),
        F.count_if(F.col("_tgt")).alias("_ntgt"),
    )
    totals = grams.agg(
        F.count("*").alias("_traw"), F.count_if(F.col("_tgt")).alias("_ttgt")
    )
    lm = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.log(
            ((F.col("_ntgt") + 1) / (F.col("_ttgt") + DSIR_BUCKETS))
            / ((F.col("_nraw") + 1) / (F.col("_traw") + DSIR_BUCKETS))
        ).alias("_llr"),
    )
    return (
        grams.join(F.broadcast(lm), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("_llr"), 6).alias("dsir_weight"),
        )
    )


def sql_dsir_weights(corpus_sql: str) -> str:
    from ..functions.hashing import sql_hash32_lambda

    h = sql_hash32_lambda(_DSIR_SEED, "ts[i] || ' ' || ts[i + 1]")
    return f"""
    WITH toked AS (
      SELECT doc_id, lang = 'en' AS tgt, {SQL_WORDS_NONEMPTY} AS ts
      FROM ({corpus_sql})
    ),
    grams AS (
      SELECT doc_id, tgt, g.bucket
      FROM toked,
           LATERAL (
             SELECT unnest(list_transform(
               range(1, len(ts)), i -> ({h}) % {DSIR_BUCKETS}
             )) AS bucket
           ) g
    ),
    totals AS (
      SELECT count(*) AS traw, count(*) FILTER (WHERE tgt) AS ttgt FROM grams
    ),
    lm AS (
      SELECT bucket,
             ln(((count(*) FILTER (WHERE tgt) + 1) / CAST(ttgt + {DSIR_BUCKETS} AS DOUBLE))
                / ((count(*) + 1) / CAST(traw + {DSIR_BUCKETS} AS DOUBLE))) AS llr
      FROM grams CROSS JOIN totals
      GROUP BY bucket, traw, ttgt
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(llr), 6) AS dsir_weight
    FROM grams JOIN lm USING (bucket)
    GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# Content-defined chunking (the rolling-hash boundary trick of rsync /
# LBFS / FastCDC, applied at token granularity): a chunk boundary falls
# AFTER any token whose portable hash ≡ 0 (mod CDC_DIVISOR), so chunk
# boundaries depend only on LOCAL content — insert one sentence into a
# document and only the chunks touching it change, unlike fixed-size
# chunking where every downstream chunk shifts. That stability is what
# makes CDC the dedup-pipeline standard: identical passages in different
# documents produce identical chunks, findable by digest equality.
#
# Emitted per chunk: (doc_id, chunk_id, n_tokens, digest,
# n_occurrences) — the global digest count surfaces cross-document
# repeated passages directly.
#
# 100 TB shape: boundary flags and the running chunk id are one window
# pass partitioned by doc_id (per-doc state, embarrassingly parallel
# across docs); chunk assembly is a (doc_id, chunk_id) groupBy on the
# same partitioning; the occurrence count shuffles 16-byte digests only.
# --------------------------------------------------------------------------

CDC_DIVISOR = 32  # expected chunk length in tokens
_CDC_SEED = 93


def cdc_chunks(corpus: DataFrame) -> DataFrame:
    """Token-level content-defined chunks with global duplicate counts."""
    from pyspark.sql import Window

    from ..functions.hashing import hash32

    toks = corpus.select(
        "doc_id",
        F.posexplode(F.expr(WORDS_NONEMPTY)).alias("pos", "tok"),
    )
    bounded = toks.withColumn(
        "_b", (F.pmod(hash32(F.col("tok"), seed=_CDC_SEED), F.lit(CDC_DIVISOR)) == 0).cast("int")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = bounded.withColumn(
        "chunk_id", F.coalesce(F.sum("_b").over(w), F.lit(0)).cast("bigint")
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.count("*").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok)"
                ),
            )
        ).alias("digest"),
    )
    wd = Window.partitionBy("digest")
    return chunks.select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        "digest",
        F.count("*").over(wd).alias("n_occurrences"),
    )


def sql_cdc_chunks(corpus_sql: str) -> str:
    from ..functions.hashing import sql_hash32_lambda

    h = sql_hash32_lambda(_CDC_SEED, "tok")
    return f"""
    WITH toks AS (
      SELECT doc_id, t.pos - 1 AS pos, t.tok
      FROM (SELECT doc_id, {SQL_WORDS_NONEMPTY} AS ts FROM ({corpus_sql})),
           LATERAL (
             SELECT unnest(ts) AS tok,
                    generate_subscripts(ts, 1) AS pos
           ) t
    ),
    bounded AS (
      SELECT doc_id, pos, tok,
             CASE WHEN ({h}) % {CDC_DIVISOR} = 0 THEN 1 ELSE 0 END AS b
      FROM toks
    ),
    chunked AS (
      SELECT doc_id, pos, tok,
             CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS chunk_id
      FROM bounded
    ),
    chunks AS (
      SELECT doc_id, chunk_id, count(*) AS n_tokens,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS digest
      FROM chunked GROUP BY doc_id, chunk_id
    )
    SELECT doc_id, chunk_id, n_tokens, digest,
           count(*) OVER (PARTITION BY digest) AS n_occurrences
    FROM chunks
    """


# --------------------------------------------------------------------------
# Token entropy — per-document Shannon entropy of the token distribution,
# a quality/repetition signal (boilerplate and spam sit at low entropy;
# the Gopher rules use the same intuition through ratio proxies). One
# pass: H = log2(n) - sum(c*log2(c))/n over the per-(doc, token) counts,
# so the plan is two keyed aggregations (map-side combined) and NO join
# back — the algebraic identity replaces the usual count⨝total join.
# --------------------------------------------------------------------------


def token_entropy(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, entropy): token-level Shannon
    entropy per document (empty docs drop — no distribution to measure)."""
    toks = corpus.select(
        "doc_id", F.explode(F.expr(WORDS)).alias("token")
    ).filter(F.col("token") != "")
    cnt = toks.groupBy("doc_id", "token").agg(F.count("*").alias("_c"))
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.sum(F.col("_c") * F.log2("_c")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round(
                F.log2("n_tokens") - F.col("_s") / F.col("n_tokens"), 6
            ).alias("entropy"),
        )
    )


def sql_token_entropy(corpus_sql: str) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, t.tok AS token
      FROM (SELECT doc_id, {SQL_WORDS} AS ts FROM ({corpus_sql})),
           LATERAL (SELECT unnest(ts) AS tok) t
      WHERE t.tok <> ''
    ),
    cnt AS (
      SELECT doc_id, token, count(*) AS c
      FROM toks GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
    FROM cnt GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# BPE merge candidates — corpus-wide adjacent-character-pair frequencies
# inside whitespace tokens: exactly the statistic a byte-pair-encoding
# tokenizer trainer (Sennrich et al. 2016) computes for its first merge
# decision, at corpus scale. The pair explosion is ~chars(corpus) rows
# but partial-aggregates map-side before the single pair-keyed shuffle;
# the top-k is a total order (count desc, pair asc) so the cut is
# deterministic across engines.
# --------------------------------------------------------------------------

BPE_TOP_N = 50


def bpe_merge_candidates(corpus: DataFrame, top_n: int = BPE_TOP_N) -> DataFrame:
    """(pair, n_occurrences): the ``top_n`` most frequent adjacent
    character pairs within tokens — BPE's first-iteration merge table."""
    words = corpus.select(
        F.explode(F.expr(WORDS)).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair"))
        .limit(top_n)
    )


def sql_bpe_merge_candidates(corpus_sql: str) -> str:
    return f"""
    WITH words AS (
      SELECT t.tok AS w
      FROM (SELECT {SQL_WORDS} AS ts FROM ({corpus_sql})),
           LATERAL (SELECT unnest(ts) AS tok) t
      WHERE length(t.tok) >= 2
    ),
    pairs AS (
      SELECT t.p AS pair
      FROM (
        SELECT list_transform(range(1, length(w)),
                              i -> substr(w, CAST(i AS INTEGER), 2)) AS ps
        FROM words
      ), LATERAL (SELECT unnest(ps) AS p) t
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT {BPE_TOP_N}
    """


# --------------------------------------------------------------------------
# Exact-substring dedup (Lee et al., ACL 2022 "Deduplicating Training
# Data Makes Language Models Better": ExactSubstr removes spans ≥50
# tokens shared verbatim between documents; their implementation is a
# single-node suffix array). Distributed re-expression: hash every
# SUBSTR_K-token window, attribute each distinct window to its minimum
# doc_id ("owner"), and measure per-document the fraction of windows
# already owned by an earlier document — docs over SUBSTR_DUP_FRAC are
# flagged exactly like ExactSubstr's removal pass.
#
# Scale shape: this is the MapReduce dual of the suffix array — no
# global sort, no single-node index. Shuffle 1 keys on the 32-bit window
# hash (uniform by construction, map-side combine for min/count);
# shuffle 2 is the per-doc rollup on doc_id. Both are linear in corpus
# token count; nothing is quadratic and nothing collects.
#
# Docs with fewer than SUBSTR_K tokens have no windows and drop (no
# span of length K can be shared).
# --------------------------------------------------------------------------

SUBSTR_K = 5  # tokens per window (the paper's 50, scaled to testbed docs)
SUBSTR_DUP_FRAC = 0.5


def substring_dedup(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, dup_fraction, flagged):
    per-doc distinct K-token windows, how many are owned by an earlier
    doc, and the ExactSubstr-style removal flag."""
    from ..functions.hashing import hash32_expr_lambda

    # Hash each token ONCE (md5 per token), then derive every window's
    # hash as a Rabin-Karp polynomial fold over the K-token integer
    # slice — no per-window string building and no per-window md5
    # (measured at sf0.1: 4.9 s → 1.2 s median). The `_th` projection is
    # referenced three times below; Spark's CollapseProject keeps the
    # expensive alias materialized instead of inlining it (the same
    # tokenize-once pattern as fingerprints).
    toks_h = f"transform({WORDS_NONEMPTY}, t -> {hash32_expr_lambda(83)})"
    wins_expr = (
        f"CASE WHEN size(_th) >= {SUBSTR_K} THEN "
        f"transform(sequence(1, size(_th) - {SUBSTR_K} + 1), "
        f"i -> aggregate(slice(_th, i, {SUBSTR_K}), cast(0 as bigint), "
        f"(acc, h) -> (acc * {ROLLING_BASE} + h) % {ROLLING_MOD})) "
        "ELSE array() END"
    )
    wins = (
        # the window fan-out (tokenize + per-position fold) is
        # interpreted lambda work — spread the 1-3-partition scan first
        spread_for_compute(corpus)
        .select("doc_id", F.expr(toks_h).alias("_th"))
        .select("doc_id", F.explode(F.expr(wins_expr)).alias("whash"))
        .distinct()
        # consumed by both the owner aggregation and the join back;
        # the barrier stops the tokenize+window scan running twice
        .localCheckpoint(eager=False)
    )
    owners = wins.groupBy("whash").agg(F.min("doc_id").alias("_owner"))
    return (
        wins.join(owners, "whash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(
                F.when(F.col("_owner") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows") / F.col("n_windows"), 6
            ).alias("dup_fraction"),
            (
                F.col("n_dup_windows") / F.col("n_windows")
                >= SUBSTR_DUP_FRAC
            ).alias("flagged"),
        )
    )


def sql_substring_dedup(corpus_sql: str) -> str:
    from ..functions.hashing import sql_hash32_lambda

    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_transform({SQL_WORDS_NONEMPTY}, t -> {sql_hash32_lambda(83)})
               AS th
      FROM ({corpus_sql})
    ),
    wins AS (
      SELECT DISTINCT doc_id, unnest(
          CASE WHEN len(th) >= {SUBSTR_K} THEN
            list_transform(generate_series(1, len(th) - {SUBSTR_K} + 1),
              i -> list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                             th[i:(i + {SUBSTR_K} - 1)]),
                (acc, h) -> (acc * {ROLLING_BASE} + h) % {ROLLING_MOD}))
          ELSE CAST([] AS BIGINT[]) END) AS whash
      FROM toks
    ),
    owners AS (SELECT whash, min(doc_id) AS owner FROM wins GROUP BY 1)
    SELECT w.doc_id,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN o.owner < w.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_windows,
           round(CAST(sum(CASE WHEN o.owner < w.doc_id THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS dup_fraction,
           (CAST(sum(CASE WHEN o.owner < w.doc_id THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*)) >= {SUBSTR_DUP_FRAC} AS flagged
    FROM wins w JOIN owners o USING (whash)
    GROUP BY w.doc_id
    """


# --------------------------------------------------------------------------
# Linear quality classifier — the fastText-style filter (Joulin et al.
# 2016) used as the GPT-3/CCNet "looks like reference text" gate: score
# a document as sigmoid(mean of per-token weights), where each token
# maps to one of QC_BUCKETS hashed feature buckets with a fixed weight.
# A real deployment loads trained weights; here the weight table is
# DERIVED deterministically from the portable hash (bucket b's weight =
# hash32('qc§b') mapped to [-1, 1], precomputed on the driver and
# inlined as a literal array) so both engines score identically with no
# model artifact.
#
# Numeric parity: per-token weights are INTEGER thousandths summed
# exactly (integer addition is order-independent, so Spark's partial
# aggregation and DuckDB's sequential sum agree bit-for-bit); the single
# divide and the sigmoid happen once per doc on the agreed sum, rounded
# to 6.
#
# Scale shape: one corpus scan, explode → hash → element_at against a
# broadcast-inlined 64-int literal, one map-side-combining groupBy on
# doc_id. JVM-side end to end; no UDF, no model file, no shuffle beyond
# the rollup.
# --------------------------------------------------------------------------

QC_BUCKETS = 64
QC_SEED = "qc"


def _qc_weights() -> list[int]:
    """Per-bucket weights in integer thousandths ∈ [-1000, 1000]."""
    import hashlib

    return [
        int(hashlib.md5(f"{QC_SEED}{SEED_SEP}{b}".encode()).hexdigest()[:8], 16)
        % 2001
        - 1000
        for b in range(QC_BUCKETS)
    ]


def quality_classifier(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, quality_prob, keep): hashed-linear classifier
    probability per doc (empty docs drop — nothing to score)."""
    from ..functions.hashing import hash32

    w = _qc_weights()
    arr = F.array(*[F.lit(x) for x in w])
    toks = corpus.select(
        "doc_id", F.explode(F.expr(WORDS_NONEMPTY)).alias("token")
    )
    wint = F.element_at(
        arr, (hash32(F.col("token")) % QC_BUCKETS).cast("int") + 1
    )
    return (
        toks.select("doc_id", wint.alias("_w"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("_w").alias("_s"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                1.0
                / (
                    1.0
                    + F.exp(
                        -(F.col("_s") / 1000.0 / F.col("n_tokens"))
                    )
                ),
                6,
            ).alias("quality_prob"),
            (F.col("_s") > 0).alias("keep"),
        )
    )


def sql_quality_classifier(corpus_sql: str) -> str:
    from ..functions.hashing import sql_hash32

    w = _qc_weights()
    arr = "[" + ", ".join(str(x) for x in w) + "]"
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_WORDS_NONEMPTY}) AS token FROM ({corpus_sql})
    ),
    weighted AS (
      SELECT doc_id,
             ({arr})[CAST({sql_hash32('token')} % {QC_BUCKETS} AS INTEGER) + 1]
               AS w
      FROM toks
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(1.0 / (1.0 + exp(-(CAST(sum(w) AS DOUBLE) / 1000.0
                 / count(*)))), 6) AS quality_prob,
           (sum(w) > 0) AS keep
    FROM weighted GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# Deterministic weighted sampling without replacement — the
# Efraimidis–Spirakis A-ES scheme (IPL 2006): draw u_i ~ U(0,1), rank
# by key_i = u_i^(1/w_i), keep the top n. Equivalently rank ln(u)/w
# descending (monotone transform), which is how both engines compute it
# here. "Sample training docs proportionally to length/quality weight"
# is the standard dup-aware mixture draw; u_i comes from the portable
# md5 top-60-bit fraction of doc_id, so the sample is reproducible and
# oracle-checkable — no RNG state.
#
# Scale shape: one scan + ``salted_top_k`` per stratum, as in the KMV
# sketch, so no task ever sorts a whole stratum. The ranking key rounds
# to 12 with doc_id tie-break so both engines pick the identical sample.
# --------------------------------------------------------------------------

WSAMPLE_N = 25
_WS_SCALE = 16**15


def weighted_sample(corpus: DataFrame) -> DataFrame:
    """(lang, doc_id, n_chars, rank): per-language weighted sample of n
    docs, weight = n_chars (longer docs proportionally likelier)."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"WS{SEED_SEP}"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(_WS_SCALE))
    )
    keyed = corpus.select(
        "lang",
        "doc_id",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 12).alias("_key"),
        salt("doc_id"),
    )
    return salted_top_k(
        keyed, ["lang"], [F.col("_key").desc(), "doc_id"], WSAMPLE_N
    ).select("lang", "doc_id", "n_chars", "rank")


def sql_weighted_sample(corpus_sql: str) -> str:
    u = (
        f"CAST('0x' || substr(md5('WS{SEED_SEP}' || CAST(doc_id AS VARCHAR)), 1, 15) "
        f"AS BIGINT) / {float(_WS_SCALE)!r}"
    )
    return f"""
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             round(ln({u}) / n_chars, 12) AS key
      FROM ({corpus_sql})
    )
    SELECT lang, doc_id, n_chars, CAST(rank AS INTEGER) AS rank FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                  ORDER BY key DESC, doc_id) AS rank
      FROM keyed
    ) WHERE rank <= {WSAMPLE_N}
    """


# --------------------------------------------------------------------------
# N-gram novelty — the corpus-level counterpart to the intra-document
# repetition stats above: for each document, the fraction of its
# DISTINCT word trigrams that appear in no other document. Low novelty
# marks template/boilerplate-heavy documents whose content is shared
# across the corpus (the signal behind RefinedWeb-style "copied
# spans" pruning); high novelty marks unique contributions worth
# keeping at full sampling weight.
#
# Scale: trigrams never leave the executor as strings — each is
# reduced to the md5-top-60-bit hash (the KMV/sketch hashing scheme,
# identical literal arithmetic in DuckDB), so both shuffles (the
# per-trigram document-frequency groupBy and the per-doc rollup) carry
# (8-byte hash, doc_id) pairs. Both aggregations partial-aggregate
# map-side; nothing is quadratic in corpus size.
# --------------------------------------------------------------------------


def ngram_novelty(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_trigrams, n_unique, novelty): distinct-trigram count,
    how many of those occur in no other doc, and their ratio (NULL for
    docs shorter than 3 tokens)."""
    tris = (
        f"transform(array({WORDS_NONEMPTY}), tk -> {word_grams('tk', 3)})[0]"
    )
    tri_h = (
        "CAST(conv(substring(md5(tri), 1, 15), 16, 10) AS BIGINT)"
    )
    per_doc = (
        corpus.select("doc_id", F.explode_outer(F.expr(tris)).alias("tri"))
        .select("doc_id", F.expr(tri_h).alias("h"))
        .distinct()
    )
    docfreq = per_doc.filter(F.col("h").isNotNull()).groupBy("h").agg(
        F.count("*").alias("df")
    )
    return (
        per_doc.join(docfreq, on="h", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("df").alias("n_trigrams"),
            F.coalesce(
                F.sum(F.when(F.col("df") == 1, 1)), F.lit(0)
            ).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_unique",
            F.when(
                F.col("n_trigrams") > 0,
                F.round(
                    F.col("n_unique") / F.col("n_trigrams"), 6
                ),
            ).alias("novelty"),
        )
    )


def sql_ngram_novelty(corpus_sql: str) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {SQL_WORDS_NONEMPTY} AS tk FROM ({corpus_sql})
    ),
    tris AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 3
             THEN list_transform(generate_series(1, len(tk) - 2),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             ELSE [] END AS tri
      FROM toks
    ),
    per_doc AS (
      SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(t.tg), 1, 15) AS BIGINT) AS h
      FROM tris LEFT JOIN LATERAL (SELECT unnest(tri) AS tg) t ON true
    ),
    docfreq AS (
      SELECT h, count(*) AS df FROM per_doc
      WHERE h IS NOT NULL GROUP BY 1
    ),
    rolled AS (
      SELECT p.doc_id,
             count(d.df) AS n_trigrams,
             CAST(coalesce(sum(CASE WHEN d.df = 1 THEN 1 END), 0)
                  AS BIGINT) AS n_unique
      FROM per_doc p LEFT JOIN docfreq d USING (h)
      GROUP BY 1
    )
    SELECT doc_id, n_trigrams, n_unique,
           CASE WHEN n_trigrams > 0
                THEN round(CAST(n_unique AS DOUBLE) / n_trigrams, 6)
           END AS novelty
    FROM rolled
    """


# --------------------------------------------------------------------------
# Zipf rank-frequency fit — the corpus-statistics health check: natural
# language follows freq ∝ rank^s with s ≈ −1 (Zipf's law); a corpus
# whose fitted slope is far off is word-soup, boilerplate, or spam-
# stuffed. Fit = closed-form OLS of ln(freq) on ln(rank) over each
# language's top-ZIPF_TOP terms; the log pairs are rounded to 9
# decimals and accumulated as DECIMALs (the rel_trend_slope recipe), so
# the five sums — and therefore the slope — are order-independent and
# deterministic cross-engine.
#
# Scale: one token-count groupBy (map-side combine), a per-lang top-N
# window over (lang, count) pairs — N·|langs| rows rank, never the
# corpus — then spine-sized OLS arithmetic.
# --------------------------------------------------------------------------

ZIPF_TOP = 100


def zipf_fit(corpus: DataFrame) -> DataFrame:
    """(lang, n_terms, slope, intercept): per-language OLS fit of
    ln(freq) ~ ln(rank) over the top-ZIPF_TOP terms."""
    counts = (
        corpus.select(
            "lang", F.explode(F.expr(WORDS_NONEMPTY)).alias("token")
        )
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = salted_top_k(
        counts.select("*", salt("token")),
        ["lang"], [F.col("cnt").desc(), F.col("token")], ZIPF_TOP,
    )
    x = F.round(F.log(F.col("rank").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    y = F.round(F.log(F.col("cnt").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    sums = ranked.select("lang", x.alias("x"), y.alias("y")).groupBy(
        "lang"
    ).agg(
        F.count("*").alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n_terms").cast("double"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
    )
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return sums.select(
        "lang",
        "n_terms",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


def sql_zipf_fit(corpus_sql: str) -> str:
    return f"""
    WITH counts AS (
      SELECT lang, t.token, count(*) AS cnt
      FROM (SELECT lang, {SQL_WORDS_NONEMPTY} AS toks FROM ({corpus_sql})),
           LATERAL (SELECT unnest(toks) AS token) t
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT lang, cnt,
             row_number() OVER (PARTITION BY lang
                  ORDER BY cnt DESC, token) AS rank
      FROM counts QUALIFY rank <= {ZIPF_TOP}
    ),
    pts AS (
      SELECT lang,
             CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9))
               AS x,
             CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9))
               AS y
      FROM ranked
    ),
    sums AS (
      SELECT lang, count(*) AS n_terms,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts GROUP BY 1
    )
    SELECT lang, n_terms,
           round((n_terms * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / nullif(n_terms * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0),
                 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - ((n_terms * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / nullif(n_terms * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),
                              0)) * CAST(sx AS DOUBLE))
                 / n_terms, 6) AS intercept
    FROM sums
    """


# --------------------------------------------------------------------------
# Language-ID confusion matrix — the eval for lang_id, in the same
# measure-your-pipeline family as sim_ann_recall: declared vs predicted
# language with per-cell share of the declared language's documents
# (row-normalized recall). The diagonal is per-language recall; big
# off-diagonal cells say which languages the stopword heuristic
# confuses — the evidence for promoting the classifier before trusting
# its routing decisions. One lang_id pass + one (declared, predicted)
# rollup + a broadcast per-declared total.
# --------------------------------------------------------------------------


def langid_confusion(corpus: DataFrame) -> DataFrame:
    """(lang_declared, lang_pred, n_docs, row_share): the confusion
    matrix of the stopword language classifier."""
    pred = lang_id(corpus).select("lang_declared", "lang_pred")
    cells = pred.groupBy("lang_declared", "lang_pred").agg(
        F.count("*").alias("n_docs")
    )
    rows = cells.groupBy("lang_declared").agg(
        F.sum("n_docs").alias("_row_total")
    )
    return cells.join(F.broadcast(rows), on="lang_declared").select(
        "lang_declared",
        "lang_pred",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_row_total"), 6).alias(
            "row_share"
        ),
    )


def sql_langid_confusion(corpus_sql: str) -> str:
    return f"""
    WITH pred AS (
      SELECT lang_declared, lang_pred FROM ({sql_lang_id(corpus_sql)})
    ),
    cells AS (
      SELECT lang_declared, lang_pred, count(*) AS n_docs
      FROM pred GROUP BY 1, 2
    ),
    rows_t AS (
      SELECT lang_declared, sum(n_docs) AS row_total
      FROM cells GROUP BY 1
    )
    SELECT c.lang_declared, c.lang_pred, c.n_docs,
           round(CAST(c.n_docs AS DOUBLE) / r.row_total, 6) AS row_share
    FROM cells c JOIN rows_t r USING (lang_declared)
    """


# --------------------------------------------------------------------------
# Heaps' law vocabulary-growth fit — Zipf's companion: vocabulary size
# grows as V ≈ K·N^β with β ≈ 0.4–0.6 for natural text. A corpus whose
# β is near 0 is a closed vocabulary (template spam); near 1, random
# strings (every token new). Deciles come from doc_id ranges against a
# broadcast max (NO global sort — the ntile alternative would
# single-partition-sort every doc id at scale); cumulative token and
# vocab counts come from two rollups folded over a 10-row spine (a
# token's first-appearance decile is just min(decile)); the β fit is
# the decimal-exact OLS recipe over the 10 (ln N, ln V) points.
# --------------------------------------------------------------------------

HEAPS_DECILES = 10


def heaps_law(corpus: DataFrame) -> DataFrame:
    """(decile, cum_tokens, cum_vocab, heaps_beta): vocabulary growth
    across doc_id-ordered tenths of the corpus, with the fitted Heaps
    exponent repeated on every row."""
    mx = corpus.agg(F.max("doc_id").alias("_mx"))
    toks = (
        corpus.crossJoin(F.broadcast(mx))
        .select(
            F.least(
                F.lit(HEAPS_DECILES - 1),
                F.floor(
                    F.lit(HEAPS_DECILES)
                    * F.col("doc_id")
                    / (F.col("_mx") + 1)
                ),
            )
            .cast("int")
            .alias("dec"),
            F.explode(F.expr(WORDS_NONEMPTY)).alias("token"),
        )
    )
    per_dec = toks.groupBy("dec").agg(F.count("*").alias("_n_toks"))
    first_seen = (
        toks.groupBy("token")
        .agg(F.min("dec").alias("dec"))
        .groupBy("dec")
        .agg(F.count("*").alias("_n_new"))
    )
    spark = corpus.sparkSession
    spine = spark.range(HEAPS_DECILES).select(
        F.col("id").cast("int").alias("decile")
    )
    # prefix sums over the 10-row spine as a broadcast triangular
    # self-join (the prefix_offsets pattern, round 14): no
    # unpartitioned WindowExec anywhere in the engine, even over
    # fixture-sized frames — the uniform invariant plan audits rely on
    per_point = (
        spine.join(per_dec, spine.decile == per_dec.dec, "left")
        .drop("dec")
        .join(first_seen, spine.decile == first_seen.dec, "left")
        .drop("dec")
        .select(
            F.col("decile").alias("_d2"),
            F.coalesce("_n_toks", F.lit(0)).alias("_t2"),
            F.coalesce("_n_new", F.lit(0)).alias("_v2"),
        )
    )
    curve = (
        spine.join(
            F.broadcast(per_point), F.col("_d2") <= F.col("decile")
        )
        .groupBy("decile")
        .agg(
            F.sum("_t2").alias("cum_tokens"),
            F.sum("_v2").alias("cum_vocab"),
        )
    )
    x = F.round(F.log(F.col("cum_tokens").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    y = F.round(F.log(F.col("cum_vocab").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    pts = curve.filter(
        (F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0)
    ).select(x.alias("x"), y.alias("y"))
    sums = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx")
    )
    beta = F.round(
        F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx), 6
    ).alias("heaps_beta")
    fit = sums.select(beta)
    return curve.crossJoin(F.broadcast(fit))


def sql_heaps_law(corpus_sql: str) -> str:
    d = HEAPS_DECILES
    return f"""
    WITH mx AS (SELECT max(doc_id) AS m FROM ({corpus_sql})),
    toks AS (
      SELECT CAST(least({d - 1}, (({d} * doc_id) // (m + 1)))
                  AS INTEGER) AS dec,
             t.token
      FROM ({corpus_sql}) CROSS JOIN mx,
           LATERAL (SELECT unnest({SQL_WORDS_NONEMPTY}) AS token) t
    ),
    per_dec AS (SELECT dec, count(*) AS n_toks FROM toks GROUP BY 1),
    first_seen AS (
      SELECT dec, count(*) AS n_new FROM (
        SELECT token, min(dec) AS dec FROM toks GROUP BY 1
      ) GROUP BY 1
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(0, {d - 1})) AS INTEGER)
        AS decile
    ),
    curve AS (
      SELECT s.decile,
             sum(coalesce(p.n_toks, 0)) OVER (ORDER BY s.decile)
               AS cum_tokens,
             sum(coalesce(f.n_new, 0)) OVER (ORDER BY s.decile)
               AS cum_vocab
      FROM spine s
      LEFT JOIN per_dec p ON s.decile = p.dec
      LEFT JOIN first_seen f ON s.decile = f.dec
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(cum_tokens AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS x,
             CAST(round(ln(CAST(cum_vocab AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS y
      FROM curve WHERE cum_tokens > 0 AND cum_vocab > 0
    ),
    sums AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts
    ),
    fit AS (
      SELECT round((n * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / nullif(n * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),
                            0), 6) AS heaps_beta
      FROM sums
    )
    SELECT c.decile, CAST(c.cum_tokens AS BIGINT) AS cum_tokens,
           CAST(c.cum_vocab AS BIGINT) AS cum_vocab, f.heaps_beta
    FROM curve c CROSS JOIN fit f
    """


# --------------------------------------------------------------------------
# Token burstiness — Church & Gale's observation: content words are
# BURSTY (when a document mentions a topic word once it mentions it
# again), function words are not. burstiness = total occurrences /
# containing documents; high values mark topical vocabulary, values
# near 1 mark glue words — the signal behind stopword-list induction
# and keyword weighting. One explode + one (token, doc) rollup + a
# top-N window over token totals, never corpus rows.
# --------------------------------------------------------------------------

BURSTY_TOP = 50


def token_burstiness(corpus: DataFrame) -> DataFrame:
    """(token, n_occurrences, n_docs, burstiness) for the BURSTY_TOP
    most frequent tokens."""
    occ = corpus.select(
        "doc_id", F.explode(F.expr(WORDS_NONEMPTY)).alias("token")
    )
    stats = occ.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    # global top-N via orderBy+limit: TakeOrderedAndProject keeps
    # per-partition top-N partials and merges N rows per partition at
    # the driver — no task ever sorts the whole vocabulary and no
    # WindowExec node exists (round 14: replaces the salted two-stage
    # rank, one stage less, same rows)
    return (
        stats.orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(BURSTY_TOP)
        .select(
            "token",
            "n_occurrences",
            "n_docs",
            F.round(
                F.col("n_occurrences") / F.col("n_docs"), 6
            ).alias("burstiness"),
        )
    )


def sql_token_burstiness(corpus_sql: str) -> str:
    return f"""
    WITH occ AS (
      SELECT doc_id, t.token
      FROM (SELECT doc_id, {SQL_WORDS_NONEMPTY} AS toks FROM ({corpus_sql})),
           LATERAL (SELECT unnest(toks) AS token) t
    ),
    stats AS (
      SELECT token, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS n_docs
      FROM occ GROUP BY 1
    )
    SELECT token, n_occurrences, n_docs,
           round(CAST(n_occurrences AS DOUBLE) / n_docs, 6)
             AS burstiness
    FROM stats
    ORDER BY n_occurrences DESC, token LIMIT {BURSTY_TOP}
    """


# --------------------------------------------------------------------------
# Jensen–Shannon divergence between source token distributions — the
# data-mixture diagnostic: which sources say the same things (JSD ≈ 0,
# dedup across them matters) and which bring genuinely different text
# (JSD high, mixture weights matter). Distributions are over the
# corpus-wide top-JSD_VOCAB tokens plus an OOV bucket (so every
# distribution sums to 1 on a SHARED support); each pair's divergence
# is ½KL(p‖m) + ½KL(q‖m) with per-term values rounded to 9 decimals
# and summed as DECIMALs — order-independent, the trend-slope recipe.
# Pair count is |sources|², token work is one explode + one
# (source, token) rollup; the pairwise stage sees only the
# |sources|·(vocab+1) distribution matrix.
# --------------------------------------------------------------------------

JSD_VOCAB = 100


def js_divergence_sources(corpus: DataFrame) -> DataFrame:
    """(source_a, source_b, jsd) for every ordered source pair
    (a < b)."""
    spark = corpus.sparkSession
    occ = corpus.select(
        "source", F.explode(F.expr(WORDS_NONEMPTY)).alias("token")
    )
    totals_tok = occ.groupBy("token").agg(F.count("*").alias("_n"))
    # top-vocab via orderBy+limit (TakeOrderedAndProject): no
    # vocabulary-wide sort, no WindowExec (round 14)
    top = (
        totals_tok.orderBy(F.col("_n").desc(), F.col("token"))
        .limit(JSD_VOCAB)
        .select("token")
    )
    mapped = occ.join(F.broadcast(top.withColumn("_in", F.lit(1))),
                      on="token", how="left").select(
        "source",
        F.when(F.col("_in").isNotNull(), F.col("token"))
        .otherwise(F.lit("<oov>"))
        .alias("tok"),
    )
    counts = mapped.groupBy("source", "tok").agg(
        F.count("*").alias("_c")
    )
    src_tot = counts.groupBy("source").agg(F.sum("_c").alias("_t"))
    support = top.select(F.col("token").alias("tok")).unionByName(
        spark.createDataFrame([("<oov>",)], "tok string")
    )
    dist = (
        src_tot.crossJoin(F.broadcast(support))
        .join(counts, on=["source", "tok"], how="left")
        .select(
            "source",
            "tok",
            (
                F.coalesce("_c", F.lit(0)) / F.col("_t")
            ).alias("p"),
        )
    )
    a = dist.select(
        F.col("source").alias("source_a"),
        "tok",
        F.col("p").alias("pa"),
    )
    b = dist.select(
        F.col("source").alias("source_b"),
        "tok",
        F.col("p").alias("pb"),
    )
    term = (
        F.when(
            F.col("pa") > 0,
            F.col("pa")
            * F.log(F.lit(2.0) * F.col("pa") / (F.col("pa") + F.col("pb"))),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("pb") > 0,
            F.col("pb")
            * F.log(F.lit(2.0) * F.col("pb") / (F.col("pa") + F.col("pb"))),
        ).otherwise(F.lit(0.0))
    ) * F.lit(0.5)
    return (
        a.join(b, on="tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .filter((F.col("pa") > 0) | (F.col("pb") > 0))
        .select(
            "source_a",
            "source_b",
            F.round(term, 9).cast("decimal(18,9)").alias("_term"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.round(F.sum("_term").cast("double"), 6).alias("jsd"))
    )


def sql_js_divergence_sources(corpus_sql: str) -> str:
    v = JSD_VOCAB
    return f"""
    WITH occ AS (
      SELECT source, t.token
      FROM (SELECT source, {SQL_WORDS_NONEMPTY} AS toks FROM ({corpus_sql})),
           LATERAL (SELECT unnest(toks) AS token) t
    ),
    top AS (
      SELECT token FROM (
        SELECT token, count(*) AS n FROM occ GROUP BY 1
      ) ORDER BY n DESC, token LIMIT {v}
    ),
    mapped AS (
      SELECT source,
             CASE WHEN token IN (SELECT token FROM top)
                  THEN token ELSE '<oov>' END AS tok
      FROM occ
    ),
    counts AS (
      SELECT source, tok, count(*) AS c FROM mapped GROUP BY 1, 2
    ),
    src_tot AS (SELECT source, sum(c) AS t FROM counts GROUP BY 1),
    support AS (
      SELECT token AS tok FROM top UNION ALL SELECT '<oov>'
    ),
    dist AS (
      SELECT st.source, s.tok,
             CAST(coalesce(c.c, 0) AS DOUBLE) / st.t AS p
      FROM src_tot st CROSS JOIN support s
      LEFT JOIN counts c ON c.source = st.source AND c.tok = s.tok
    ),
    terms AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(round(0.5 * (
               CASE WHEN a.p > 0
                    THEN a.p * ln(2.0 * a.p / (a.p + b.p)) ELSE 0 END
               + CASE WHEN b.p > 0
                      THEN b.p * ln(2.0 * b.p / (a.p + b.p)) ELSE 0 END
             ), 9) AS DECIMAL(18,9)) AS term
      FROM dist a JOIN dist b ON a.tok = b.tok AND a.source < b.source
      WHERE a.p > 0 OR b.p > 0
    )
    SELECT source_a, source_b,
           round(CAST(sum(term) AS DOUBLE), 6) AS jsd
    FROM terms GROUP BY 1, 2
    """


# --------------------------------------------------------------------------
# OOV rate by source — tokenizer-coverage health per source: the share
# of token occurrences falling outside the corpus-wide top-OOV_VOCAB
# vocabulary. A source whose OOV rate spikes is changing register
# (new domain, new language, spam) and will tokenize badly against a
# vocabulary trained on yesterday's mix — the per-source drill-down
# behind text_js_divergence's pairwise view. Same one-explode +
# salted-top-N machinery; per-source rollup is |sources| rows.
# --------------------------------------------------------------------------

OOV_VOCAB = 1000


def oov_rate_by_source(corpus: DataFrame) -> DataFrame:
    """(source, n_tokens, n_oov, oov_rate) against the corpus-wide
    top-OOV_VOCAB vocabulary."""
    occ = corpus.select(
        "source", F.explode(F.expr(WORDS_NONEMPTY)).alias("token")
    )
    totals = occ.groupBy("token").agg(F.count("*").alias("_n"))
    # top-vocab via orderBy+limit (TakeOrderedAndProject): no
    # vocabulary-wide sort, no WindowExec (round 14)
    top = (
        totals.orderBy(F.col("_n").desc(), F.col("token"))
        .limit(OOV_VOCAB)
        .select("token", F.lit(1).alias("_in"))
    )
    return (
        occ.join(F.broadcast(top), on="token", how="left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("_in").isNull(), 1)), F.lit(0)
            ).cast("bigint").alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias(
                "oov_rate"
            ),
        )
    )


def sql_oov_rate_by_source(corpus_sql: str) -> str:
    return f"""
    WITH occ AS (
      SELECT source, t.token
      FROM (SELECT source, {SQL_WORDS_NONEMPTY} AS toks FROM ({corpus_sql})),
           LATERAL (SELECT unnest(toks) AS token) t
    ),
    top AS (
      SELECT token FROM (
        SELECT token, count(*) AS n FROM occ GROUP BY 1
      ) ORDER BY n DESC, token LIMIT {OOV_VOCAB}
    )
    SELECT source, count(*) AS n_tokens,
           CAST(coalesce(sum(CASE WHEN token NOT IN
                    (SELECT token FROM top) THEN 1 END), 0) AS BIGINT)
             AS n_oov,
           round(CAST(coalesce(sum(CASE WHEN token NOT IN
                    (SELECT token FROM top) THEN 1 END), 0) AS DOUBLE)
                 / count(*), 6) AS oov_rate
    FROM occ GROUP BY source
    """


# --------------------------------------------------------------------------
# Lexical diversity — type-token ratio + hapax-legomena ratio per
# document, the classic lexical-richness screens (low TTR = template /
# boilerplate text; high hapax share = OCR noise or gibberish). Both are
# standard curation features next to the Gopher rules.
#
# 100 TB shape: explode → ONE hash shuffle on (doc_id, token) with
# map-side partial aggregation, then a doc-keyed rollup that partial-
# aggregates too. No corpus-sized frame is ever collected or windowed.
# --------------------------------------------------------------------------


def lexical_diversity(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_types, ttr, hapax_ratio); docs with zero
    non-blank tokens are absent (nothing to measure)."""
    toks = corpus.select(
        "doc_id", F.explode(F.expr(WORDS)).alias("token")
    ).filter(F.col("token") != "")
    per_word = toks.groupBy("doc_id", "token").agg(
        F.count("*").alias("_n")
    )
    return per_word.groupBy("doc_id").agg(
        F.sum("_n").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.round(F.count("*") / F.sum("_n"), 6).alias("ttr"),
        F.round(
            F.coalesce(F.sum(F.when(F.col("_n") == 1, 1)), F.lit(0))
            / F.sum("_n"),
            6,
        ).alias("hapax_ratio"),
    )


def sql_lexical_diversity(corpus_sql: str) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, t.token
      FROM ({corpus_sql}),
           LATERAL (SELECT unnest({SQL_WORDS}) AS token) t
      WHERE t.token <> ''
    ),
    per_word AS (
      SELECT doc_id, token, count(*) AS n FROM toks GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(count(*) / sum(n), 6) AS ttr,
           round(coalesce(sum(CASE WHEN n = 1 THEN 1 END), 0)
                 / sum(n), 6) AS hapax_ratio
    FROM per_word GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# Tokenizer fertility — BPE-ish tokens per whitespace word and chars per
# BPE token, per language: the standard tokenizer-efficiency audit (a
# high-fertility language pays more sequence length per word, which
# skews mixture budgeting). Pure column expressions + one tiny rollup.
# --------------------------------------------------------------------------


def tokenizer_fertility(corpus: DataFrame) -> DataFrame:
    """(lang, n_docs, n_bpe_tokens, fertility, chars_per_token) — corpus
    needs doc_id/text/lang."""
    bpe = F.size(
        F.expr(
            "regexp_extract_all(text, '"
            + _BPE_RX.replace("\\", "\\\\")
            + "', 0)"
        )
    )
    base = corpus.select(
        "lang",
        F.expr(_N_TOKS_SPARK).cast("bigint").alias("_w"),
        bpe.cast("bigint").alias("_b"),
        F.length("text").cast("bigint").alias("_c"),
    )
    return base.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_b").cast("bigint").alias("n_bpe_tokens"),
        F.round(F.sum("_b") / F.sum("_w"), 6).alias("fertility"),
        F.round(F.sum("_c") / F.sum("_b"), 6).alias("chars_per_token"),
    )


def sql_tokenizer_fertility(corpus_sql: str) -> str:
    return f"""
    WITH base AS (
      SELECT lang,
             CAST({_N_TOKS_DUCK} AS BIGINT) AS w,
             CAST(len(regexp_extract_all(text, '{_BPE_RX}')) AS BIGINT)
               AS b,
             CAST(length(text) AS BIGINT) AS c
      FROM ({corpus_sql})
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(b) AS BIGINT) AS n_bpe_tokens,
           round(sum(b) / sum(w), 6) AS fertility,
           round(sum(c) / sum(b), 6) AS chars_per_token
    FROM base GROUP BY lang
    """


# --------------------------------------------------------------------------
# C4-style line dedup — the famous "remove any line occurring ≥ 3 times
# in the corpus" rule (C4 / CCNet), adapted to the testbed's
# newline-free documents by defining a "line" as a non-overlapping
# LINE_WORDS-word segment (the trailing short segment counts). Reports
# the per-document duplicated-segment ratio; a production pipeline
# filters or strips on it.
#
# 100 TB shape: segments hash to 16-byte md5 before any shuffle; the
# corpus-frequency rollup groups BY the hash (map-side partial
# aggregation bounds reducer traffic at O(distinct segments)); the
# flag-back join is hash-keyed on the same column. The interpreted
# transform/slice fan-out is preceded by spread_for_compute.
# --------------------------------------------------------------------------

LINE_WORDS = 16
LINE_DUP_MIN = 3
# segment i of the bound token array _w, and the segment indices
_LINE_SEG = f"slice(_w, i * {LINE_WORDS} + 1, {LINE_WORDS})"
_LINE_SEGS = f"sequence(0, CAST(ceil(size(_w) / {LINE_WORDS}.0) AS INT) - 1)"


def _line_words(corpus: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, _w): the non-empty token array of every doc with
    at least one token, spread for the interpreted segment fan-out."""
    return spread_for_compute(
        corpus.select("doc_id", *keep, F.expr(WORDS_NONEMPTY).alias("_w"))
        .filter(F.size("_w") > 0)
    )


def line_dedup(corpus: DataFrame) -> DataFrame:
    """(doc_id, n_segments, n_dup_segments, dup_ratio): share of the
    doc's LINE_WORDS-word segments occurring >= LINE_DUP_MIN times
    corpus-wide."""
    segs_expr = F.expr(
        f"transform({_LINE_SEGS}, i -> md5(array_join({_LINE_SEG}, ' ')))"
    )
    segs = _line_words(corpus).select(
        "doc_id", F.explode(segs_expr).alias("_h")
    )
    freq = segs.groupBy("_h").agg(F.count("*").alias("_n"))
    return (
        segs.join(freq, "_h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.coalesce(
                F.sum(F.when(F.col("_n") >= LINE_DUP_MIN, 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_dup_segments"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("_n") >= LINE_DUP_MIN, 1)),
                    F.lit(0),
                )
                / F.count("*"),
                6,
            ).alias("dup_ratio"),
        )
    )


def sql_line_dedup(corpus_sql: str) -> str:
    return f"""
    WITH words AS (
      SELECT doc_id,
             {SQL_WORDS_NONEMPTY} AS w
      FROM ({corpus_sql})
    ),
    nz AS (SELECT * FROM words WHERE len(w) > 0),
    segs AS (
      SELECT doc_id,
             md5(array_to_string(
               w[(g.i * {LINE_WORDS} + 1):(g.i * {LINE_WORDS} + {LINE_WORDS})],
               ' ')) AS h
      FROM nz,
           LATERAL (SELECT unnest(generate_series(0,
             CAST(ceil(len(w) / {LINE_WORDS}.0) AS INT) - 1)) AS i) g
    ),
    freq AS (SELECT h, count(*) AS n FROM segs GROUP BY h)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(coalesce(sum(CASE WHEN n >= {LINE_DUP_MIN} THEN 1 END), 0)
                AS BIGINT) AS n_dup_segments,
           round(coalesce(sum(CASE WHEN n >= {LINE_DUP_MIN} THEN 1 END), 0)
                 / count(*), 6) AS dup_ratio
    FROM segs JOIN freq USING (h)
    GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# CCNet perplexity buckets — rank documents per language by their
# unigram-LM score (higher avg logprob = lower perplexity = cleaner
# text) and cut each language into head / middle / tail thirds — the
# exact bucketing CCNet uses to stratify CommonCrawl quality. Bucketing
# is by RANK (ntile semantics), not by score threshold, so it is fully
# deterministic under ties (doc_id tiebreak).
#
# 100 TB shape: the rank is the GROUPED two-pass form
# (operators/util.two_pass_rank_in_groups) — a per-language
# Window.orderBy would funnel each language (billions of docs) through
# one task. Per-language totals broadcast back; bucket arithmetic
# reproduces ntile(3) exactly, so the oracle is a plain windowed ntile.
# --------------------------------------------------------------------------


def ppl_buckets(corpus: DataFrame) -> DataFrame:
    """(doc_id, lang, avg_logprob, ppl_bucket): per-language
    head/middle/tail thirds by unigram-LM score."""
    from .util import ntile_from_rank, two_pass_rank_in_groups

    scored = unigram_logprob(corpus).select("doc_id", "avg_logprob")
    labeled = scored.join(corpus.select("doc_id", "lang"), "doc_id")
    ranked = two_pass_rank_in_groups(
        labeled,
        "lang",
        [F.col("avg_logprob").desc(), F.col("doc_id")],
        out_col="_rank",
    )
    totals = ranked.groupBy("lang").agg(F.count("*").alias("_n"))
    tile = ntile_from_rank(F.col("_rank"), F.col("_n"), 3)
    bucket = (
        F.when(tile == 1, F.lit("head"))
        .when(tile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.join(F.broadcast(totals), "lang").select(
        "doc_id", "lang", "avg_logprob", bucket.alias("ppl_bucket")
    )


def sql_ppl_buckets(corpus_sql: str) -> str:
    return f"""
    WITH scored AS ({sql_unigram_logprob(corpus_sql)}),
    j AS (
      SELECT s.doc_id, c.lang, s.avg_logprob
      FROM scored s JOIN ({corpus_sql}) c USING (doc_id)
    )
    SELECT doc_id, lang, avg_logprob,
           CASE ntile(3) OVER (PARTITION BY lang
                               ORDER BY avg_logprob DESC, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM j
    """


# --------------------------------------------------------------------------
# PMI collocations — classic collocation mining (Church & Hanks 1990):
# top adjacent-token pairs by pointwise mutual information,
# ln(p(ab) / (p(a)·p(b))), restricted to pairs seen >= PMI_MIN_COUNT
# times (PMI over rare pairs is noise). The phrase-detection pass of a
# tokenizer/curation pipeline (word2vec's phrase merging uses the same
# statistic).
#
# 100 TB shape: bigram and unigram counts are hash-shuffled partial
# aggregations; the MIN_COUNT filter prunes the bigram table BEFORE the
# two unigram joins (hash equi-joins on token — the unigram table is
# vocabulary-sized, deliberately NOT broadcast); the corpus-total
# scalars ride the 1-row broadcast crossJoin idiom; the final top-K is
# the salted two-stage rank (bounded <= 16·K second stage).
# --------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP_K = 20


def pmi_collocations(corpus: DataFrame) -> DataFrame:
    """(bigram, n_pair, pmi): top-PMI_TOP_K collocations by rounded PMI
    (ties by bigram)."""
    toked = corpus.select("doc_id", F.expr(WORDS_NONEMPTY).alias("_ts"))
    nb = F.greatest(F.size("_ts") - 1, F.lit(0))
    grams = spread_for_compute(toked).select(
        F.explode(
            F.zip_with(
                F.slice("_ts", 1, nb),
                F.slice(F.col("_ts"), 2, nb),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram")
    )
    uni = (
        toked.select(F.explode("_ts").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("_nu"))
    )
    # corpus totals from the TOKED frame's sizes (one cheap row per
    # doc), not by re-running the explode fan-outs a second time
    n_uni = toked.agg(
        F.sum(F.size("_ts")).cast("bigint").alias("_tu")
    )
    n_pairs = toked.agg(
        F.sum(F.greatest(F.size("_ts") - 1, F.lit(0)))
        .cast("bigint")
        .alias("_tp")
    )
    pairs = (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= PMI_MIN_COUNT)
        .withColumn(
            "_w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
        )
        .withColumn(
            "_w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2))
        )
    )
    scored = (
        pairs.join(
            uni.select(F.col("token").alias("_w1"), F.col("_nu").alias("_na")),
            "_w1",
        )
        .join(
            uni.select(F.col("token").alias("_w2"), F.col("_nu").alias("_nb")),
            "_w2",
        )
        .crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_uni))
        .select(
            "bigram",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("_tp"))
                    / (
                        (F.col("_na") / F.col("_tu"))
                        * (F.col("_nb") / F.col("_tu"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    # top-K via orderBy+limit (TakeOrderedAndProject): no bigram-wide
    # sort, no WindowExec (round 14)
    return (
        scored.orderBy(F.col("pmi").desc(), F.col("bigram"))
        .limit(PMI_TOP_K)
        .select("bigram", "n_pair", "pmi")
    )


def sql_pmi_collocations(corpus_sql: str) -> str:
    return f"""
    WITH toked AS (
      SELECT doc_id, {SQL_WORDS_NONEMPTY} AS ts FROM ({corpus_sql})
    ),
    grams AS (
      SELECT g.bigram FROM toked,
           LATERAL (
             SELECT unnest(list_transform(
               range(1, len(ts)),
               i -> ts[i] || ' ' || ts[i + 1]
             )) AS bigram
           ) g
    ),
    uni AS (
      SELECT t.token, count(*) AS nu
      FROM toked, LATERAL (SELECT unnest(ts) AS token) t
      GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT CAST(sum(nu) AS BIGINT) FROM uni) AS tu,
             (SELECT CAST(count(*) AS BIGINT) FROM grams) AS tp
    ),
    pairs AS (
      SELECT bigram, count(*) AS n_pair FROM grams GROUP BY 1
      HAVING count(*) >= {PMI_MIN_COUNT}
    ),
    scored AS (
      SELECT p.bigram, p.n_pair,
             round(ln((CAST(p.n_pair AS DOUBLE) / t.tp)
                   / ((CAST(a.nu AS DOUBLE) / t.tu)
                      * (CAST(b.nu AS DOUBLE) / t.tu))), 6) AS pmi
      FROM pairs p
      JOIN uni a ON a.token = split_part(p.bigram, ' ', 1)
      JOIN uni b ON b.token = split_part(p.bigram, ' ', 2)
      CROSS JOIN tot t
    )
    SELECT bigram, n_pair, pmi FROM scored
    ORDER BY pmi DESC, bigram LIMIT {PMI_TOP_K}
    """


# --------------------------------------------------------------------------
# IDF drift — vocabulary-stability screen between two corpus cohorts
# (even/odd doc_id — the deterministic stand-in for "crawl snapshot A
# vs B"): tokens whose inverse document frequency moved most between
# the cohorts. A large drift set means retrieval/quality models trained
# on one snapshot mis-weight the other. Tokens must clear IDF_MIN_DF
# docs in BOTH cohorts (IDF of near-absent tokens is noise).
#
# 100 TB shape: ONE (token, doc) distinct pass (hash partial agg), then
# one token-keyed conditional rollup; the 2 cohort doc-counts ride a
# 1-row broadcast; final top-K is the salted two-stage rank.
# --------------------------------------------------------------------------

IDF_MIN_DF = 5
IDF_TOP_K = 20


def idf_drift(corpus: DataFrame) -> DataFrame:
    """(token, df_a, df_b, idf_drift): top-IDF_TOP_K tokens by
    |idf_even - idf_odd| (ties by token)."""
    occ = (
        spread_for_compute(corpus)
        .select(
            "doc_id",
            (F.col("doc_id") % 2).alias("_c"),
            F.explode(F.expr(WORDS_NONEMPTY)).alias("token"),
        )
        .distinct()
    )
    ndocs = corpus.select(
        F.coalesce(
            F.sum(F.when(F.col("doc_id") % 2 == 0, 1)), F.lit(0)
        ).cast("bigint").alias("_da"),
        F.coalesce(
            F.sum(F.when(F.col("doc_id") % 2 == 1, 1)), F.lit(0)
        ).cast("bigint").alias("_db"),
    )
    per = (
        occ.groupBy("token")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_c") == 0, 1)), F.lit(0)
            ).cast("bigint").alias("df_a"),
            F.coalesce(
                F.sum(F.when(F.col("_c") == 1, 1)), F.lit(0)
            ).cast("bigint").alias("df_b"),
        )
        .filter(
            (F.col("df_a") >= IDF_MIN_DF) & (F.col("df_b") >= IDF_MIN_DF)
        )
    )
    scored = per.crossJoin(F.broadcast(ndocs)).select(
        "token",
        "df_a",
        "df_b",
        F.round(
            F.abs(
                F.log(F.col("_da") / F.col("df_a"))
                - F.log(F.col("_db") / F.col("df_b"))
            ),
            6,
        ).alias("idf_drift"),
    )
    # top-K via orderBy+limit (TakeOrderedAndProject): no
    # vocabulary-wide sort, no WindowExec (round 14)
    return (
        scored.orderBy(F.col("idf_drift").desc(), F.col("token"))
        .limit(IDF_TOP_K)
        .select("token", "df_a", "df_b", "idf_drift")
    )


def sql_idf_drift(corpus_sql: str) -> str:
    return f"""
    WITH base AS ({corpus_sql}),
    occ AS (
      SELECT DISTINCT doc_id, doc_id % 2 AS c, t.token
      FROM (SELECT doc_id, {SQL_WORDS_NONEMPTY} AS ts FROM base),
           LATERAL (SELECT unnest(ts) AS token) t
    ),
    nd AS (
      SELECT CAST(coalesce(sum(CASE WHEN doc_id % 2 = 0 THEN 1 END), 0)
                  AS BIGINT) AS da,
             CAST(coalesce(sum(CASE WHEN doc_id % 2 = 1 THEN 1 END), 0)
                  AS BIGINT) AS db
      FROM base
    ),
    per AS (
      SELECT token,
             CAST(coalesce(sum(CASE WHEN c = 0 THEN 1 END), 0) AS BIGINT)
               AS df_a,
             CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT)
               AS df_b
      FROM occ GROUP BY 1
      HAVING coalesce(sum(CASE WHEN c = 0 THEN 1 END), 0) >= {IDF_MIN_DF}
         AND coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) >= {IDF_MIN_DF}
    )
    SELECT token, df_a, df_b,
           round(abs(ln(CAST(n.da AS DOUBLE) / df_a)
                     - ln(CAST(n.db AS DOUBLE) / df_b)), 6) AS idf_drift
    FROM per CROSS JOIN nd n
    ORDER BY idf_drift DESC, token LIMIT {IDF_TOP_K}
    """


# --------------------------------------------------------------------------
# Vocabulary coverage curve — tokenizer-budget planning: what share of
# the corpus token mass does a top-K vocabulary cover, for a sweep of
# K. The coverage-vs-size curve is the standard input to choosing a
# BPE/unigram vocab budget (the knee is where OOV fall-through stops
# paying for vocab slots).
#
# 100 TB shape: one unigram rollup (hash partial agg), then the global
# frequency rank runs through two_pass_rank — NEVER a single-task
# Window.orderBy over the vocabulary — and the per-K coverage sums are
# ONE conditional-aggregation pass unpivoted with a constant-size
# stack() (the k_anonymity pattern).
# --------------------------------------------------------------------------

COVERAGE_KS = (100, 1000, 10000)


def vocab_coverage(corpus: DataFrame) -> DataFrame:
    """(k, n_types, covered_tokens, total_tokens, coverage): token-mass
    coverage of the top-k vocabulary, per swept k."""
    from .util import two_pass_rank

    counts = (
        spread_for_compute(corpus)
        .select(F.explode(F.expr(WORDS_NONEMPTY)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("_n"))
    )
    ranked = two_pass_rank(
        counts,
        [F.col("_n").desc(), F.col("token")],
        out_col="_rk",
    )
    aggs = [
        F.count("*").cast("bigint").alias("_types"),
        F.sum("_n").cast("bigint").alias("_tot"),
    ]
    for k in COVERAGE_KS:
        aggs.append(
            F.coalesce(F.sum(F.when(F.col("_rk") <= k, F.col("_n"))), F.lit(0))
            .cast("bigint")
            .alias(f"_cov_{k}")
        )
    wide = ranked.agg(*aggs)
    stack = ", ".join(f"{k}, _cov_{k}" for k in COVERAGE_KS)
    return wide.selectExpr(
        f"stack({len(COVERAGE_KS)}, {stack}) AS (k, covered_tokens)",
        "_types",
        "_tot",
    ).select(
        F.col("k").cast("int").alias("k"),
        F.least(F.col("k").cast("bigint"), F.col("_types"))
        .alias("n_types"),
        "covered_tokens",
        F.col("_tot").alias("total_tokens"),
        F.round(F.col("covered_tokens") / F.col("_tot"), 6).alias(
            "coverage"
        ),
    )


def sql_vocab_coverage(corpus_sql: str) -> str:
    ks = ", ".join(str(k) for k in COVERAGE_KS)
    return f"""
    WITH counts AS (
      SELECT t.token, count(*) AS n
      FROM (SELECT {SQL_WORDS_NONEMPTY} AS ts FROM ({corpus_sql})),
           LATERAL (SELECT unnest(ts) AS token) t
      GROUP BY 1
    ),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rk
      FROM counts
    ),
    spine AS (SELECT CAST(unnest([{ks}]) AS INTEGER) AS k)
    SELECT s.k,
           CAST(least(s.k, (SELECT count(*) FROM counts)) AS BIGINT)
             AS n_types,
           CAST(coalesce(sum(CASE WHEN rk <= s.k THEN n END), 0) AS BIGINT)
             AS covered_tokens,
           (SELECT CAST(sum(n) AS BIGINT) FROM counts) AS total_tokens,
           round(CAST(coalesce(sum(CASE WHEN rk <= s.k THEN n END), 0)
                      AS DOUBLE)
                 / (SELECT sum(n) FROM counts), 6) AS coverage
    FROM spine s CROSS JOIN ranked
    GROUP BY s.k
    """


# --------------------------------------------------------------------------
# Document length histogram — the first panel of every corpus datasheet
# (C4/Gopher/Dolma all publish one): log2-bucketed document lengths per
# source. Truncation spikes, boilerplate floods, and chunking artifacts
# all show up as bucket anomalies before any deeper signal fires.
#
# 100 TB shape: pure column arithmetic (floor(log2)) + one hash partial
# aggregation over (source, bucket) — at most ~40 cells per source; the
# per-source share attaches via a |sources|-row broadcast.
# --------------------------------------------------------------------------


def length_histogram(corpus: DataFrame) -> DataFrame:
    """(source, bucket, lo_chars, n_docs, share): log2 length histogram
    per source; ``lo_chars`` = 2^bucket, the bucket's lower edge."""
    b = F.floor(F.log2(F.col("n_chars") + 1)).cast("int").alias("bucket")
    cells = (
        corpus.select("source", b)
        .groupBy("source", "bucket")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    per_src = cells.groupBy("source").agg(
        F.sum("n_docs").alias("_t")
    )
    return cells.join(F.broadcast(per_src), "source").select(
        "source",
        "bucket",
        F.pow(F.lit(2.0), F.col("bucket")).cast("long").alias("lo_chars"),
        "n_docs",
        F.round(F.col("n_docs") / F.col("_t"), 6).alias("share"),
    )


def sql_length_histogram(corpus_sql: str) -> str:
    return f"""
    WITH cells AS (
      SELECT source,
             CAST(floor(log2(n_chars + 1)) AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM ({corpus_sql}) GROUP BY 1, 2
    ),
    per_src AS (SELECT source, sum(n_docs) AS t FROM cells GROUP BY 1)
    SELECT c.source, c.bucket,
           CAST(pow(2.0, c.bucket) AS BIGINT) AS lo_chars,
           c.n_docs,
           round(CAST(c.n_docs AS DOUBLE) / p.t, 6) AS share
    FROM cells c JOIN per_src p USING (source)
    """


# --------------------------------------------------------------------------
# Contamination pair drill-down (round 8) — the third step of the
# decontaminate → direction → PAIRS audit chain: once a source is
# implicated, which training document matches which benchmark item?
# Evidence = count of DISTINCT shared n-grams per (train doc, eval
# doc) pair, keeping pairs with >= CONTAM_PAIR_MIN shared grams.
#
# The join is keyed on the gram, and a gram carried by MANY eval docs
# (benchmark boilerplate: shared prompts, answer prefixes) would fan
# out quadratically — so grams appearing in more than
# CONTAM_GRAM_MAX_DF eval docs are dropped from the evidence set
# first (the rare-gram rule contamination audits use: only
# rare-enough grams indicate copying; cf. decontaminate's width
# note). That bound makes the pair fan-out ≤ |eval grams| ·
# CONTAM_GRAM_MAX_DF rows regardless of corpus size.
# --------------------------------------------------------------------------

CONTAM_PAIR_MIN = 2  # >= 2 distinct shared grams = a reportable pair
CONTAM_GRAM_MAX_DF = 8  # grams in more eval docs than this are boilerplate


def contamination_pairs(corpus: DataFrame) -> DataFrame:
    """(train_doc_id, eval_doc_id, n_shared_grams): training/benchmark
    doc pairs sharing >= CONTAM_PAIR_MIN distinct rare n-grams."""
    grams = gram_stream(spread_for_compute(corpus)).select("doc_id", "gram")
    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    bench = grams.filter(is_bench).distinct()
    rare = (
        bench.groupBy("gram")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= CONTAM_GRAM_MAX_DF)
        .select("gram")
    )
    evidence = bench.join(rare, "gram").select(
        F.col("doc_id").alias("eval_doc_id"), "gram"
    )
    # The RAW train gram stream goes straight into the broadcast join —
    # no pre-join ``.distinct()``.  A distinct here would shuffle the
    # full (doc_id, gram) corpus (doc_id in the key makes it corpus-
    # sized, unlike contamination_direction's vocab-bounded (source,
    # gram) distincts); joining first means only the MATCHED rows
    # (bounded by |eval grams| * CONTAM_GRAM_MAX_DF, the operator's fan-out
    # bound) ever reach a shuffle, and ``countDistinct("gram")`` per
    # pair collapses within-doc gram repeats — result-identical to
    # distinct-then-count(*).  The broadcast hint is sound because a
    # real contamination audit's evidence set is eval-suite-sized
    # (benchmarks are megabytes); the bench harness's doc_id % 97
    # slice is a stand-in and must stay eval-suite-sized, NOT a fixed
    # corpus fraction, for the hint to hold at scale.
    train = grams.filter(~is_bench)
    return (
        train.join(F.broadcast(evidence), "gram")
        .groupBy(
            F.col("doc_id").alias("train_doc_id"), "eval_doc_id"
        )
        .agg(
            F.countDistinct("gram").cast("bigint").alias("n_shared_grams")
        )
        .filter(F.col("n_shared_grams") >= CONTAM_PAIR_MIN)
    )


def sql_contamination_pairs(corpus_sql: str) -> str:
    grams = sql_word_grams("w", DECON_NGRAM)
    return f"""
    WITH tok AS (SELECT doc_id, {SQL_WORDS} AS w FROM ({corpus_sql})),
    e AS (SELECT DISTINCT doc_id, unnest({grams}) AS gram FROM tok),
    bench AS (SELECT * FROM e WHERE doc_id % {DECON_BENCH_MOD} = 0),
    rare AS (
      SELECT gram FROM bench GROUP BY 1 HAVING count(*) <= {CONTAM_GRAM_MAX_DF}
    ),
    evidence AS (
      SELECT b.doc_id AS eval_doc_id, b.gram
      FROM bench b JOIN rare r USING (gram)
    ),
    train AS (SELECT * FROM e WHERE doc_id % {DECON_BENCH_MOD} <> 0)
    SELECT t.doc_id AS train_doc_id, v.eval_doc_id,
           CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM train t JOIN evidence v USING (gram)
    GROUP BY 1, 2
    HAVING count(*) >= {CONTAM_PAIR_MIN}
    """


# --------------------------------------------------------------------------
# Temperature-based source mixture (round 9) — the multilingual /
# multi-source sampling scheme (share_s ∝ tokens_s^(1/τ)): τ > 1
# flattens the natural distribution, up-weighting low-resource sources
# (epochs > 1, i.e. repetition) and down-weighting the head. The
# complement of source_mixture's hard doc-count solver: this one works
# in TOKENS, allows repetition up to an epoch cap, and reports where
# the cap binds — the "how many epochs of each source" decision
# data-constrained training actually makes.
#
# 100 TB shape: one hash aggregation to (source, Σtokens) — map-side
# partial, |sources| cells — then pure column arithmetic against a
# 1-row broadcast of the totals. The report is |sources| rows.
# --------------------------------------------------------------------------

MIX_TEMPERATURE = 2.0  # share ∝ tokens^(1/τ); τ=2 = sqrt scaling
MIX_MAX_EPOCHS = 4.0  # repetition cap per source


def temperature_mixture(corpus: DataFrame) -> DataFrame:
    """(source, n_tokens, nat_share, temp_share, epochs_raw, epochs,
    achieved_tokens, achieved_share): temperature-flattened sampling
    plan over a one-total-epoch token budget. ``epochs_raw`` is the
    uncapped requirement; ``epochs`` caps at MIX_MAX_EPOCHS (where the
    two differ, the cap binds and achieved_share < temp_share)."""
    toks = (
        corpus.select(
            "source", F.expr(_N_TOKS_SPARK).cast("bigint").alias("_t")
        )
        .groupBy("source")
        .agg(F.sum("_t").alias("n_tokens"))
    )
    inv_t = 1.0 / MIX_TEMPERATURE
    powed = toks.withColumn(
        "_p", F.pow(F.col("n_tokens").cast("double"), F.lit(inv_t))
    )
    totals = powed.agg(
        F.sum("n_tokens").alias("_tot"), F.sum("_p").alias("_ptot")
    )
    temp_share = F.col("_p") / F.col("_ptot")
    epochs_raw = F.try_divide(
        temp_share * F.col("_tot"), F.col("n_tokens")
    )
    epochs = F.least(epochs_raw, F.lit(float(MIX_MAX_EPOCHS)))
    achieved = epochs * F.col("n_tokens")
    plan = powed.crossJoin(F.broadcast(totals)).withColumn(
        "_ach", achieved
    )
    ach_tot = plan.agg(F.sum("_ach").alias("_atot"))
    return (
        plan.crossJoin(F.broadcast(ach_tot))
        .select(
            "source",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("_tot"), 6).alias(
                "nat_share"
            ),
            F.round(temp_share, 6).alias("temp_share"),
            F.round(epochs_raw, 6).alias("epochs_raw"),
            F.round(epochs, 6).alias("epochs"),
            F.round(F.col("_ach"), 3).alias("achieved_tokens"),
            F.round(F.col("_ach") / F.col("_atot"), 6).alias(
                "achieved_share"
            ),
        )
    )


def sql_temperature_mixture(corpus_sql: str) -> str:
    inv_t = repr(1.0 / MIX_TEMPERATURE)
    return f"""
    WITH toks AS (
      SELECT source, CAST(sum({_N_TOKS_DUCK}) AS BIGINT) AS n_tokens
      FROM ({corpus_sql}) GROUP BY 1
    ),
    powed AS (
      SELECT *, pow(CAST(n_tokens AS DOUBLE), {inv_t}) AS p FROM toks
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS DOUBLE) AS t, sum(p) AS ptot
      FROM powed
    ),
    plan AS (
      SELECT source, n_tokens,
             n_tokens / t AS nat_share,
             p / ptot AS temp_share,
             (p / ptot) * t / n_tokens AS epochs_raw,
             least((p / ptot) * t / n_tokens, {repr(float(MIX_MAX_EPOCHS))})
               AS epochs
      FROM powed CROSS JOIN tot
    ),
    ach AS (SELECT sum(epochs * n_tokens) AS atot FROM plan)
    SELECT source, n_tokens,
           round(nat_share, 6) AS nat_share,
           round(temp_share, 6) AS temp_share,
           round(epochs_raw, 6) AS epochs_raw,
           round(epochs, 6) AS epochs,
           round(epochs * n_tokens, 3) AS achieved_tokens,
           round(epochs * n_tokens / atot, 6) AS achieved_share
    FROM plan CROSS JOIN ach
    """


# --------------------------------------------------------------------------
# Mixture EXECUTOR (round 10, VERDICT r9 item 7a) — the step after the
# temperature_mixture plan: actually materialize the sampled corpus.
# Per source with epochs e_s: every document is emitted floor(e_s)
# whole times (full epochs), and the fractional epoch f_s = e_s -
# floor(e_s) is filled deterministically — documents in md5(doc_id)
# hash order are admitted one more time while the tokens admitted
# BEFORE them stay under f_s · n_tokens_s (so the fractional slice is
# an unbiased, reproducible ~f_s-of-an-epoch token prefix, overshooting
# by at most one document). No RNG state anywhere: the same corpus and
# knobs emit the identical sample on any cluster, which is what makes
# the executor oracle-checkable and a re-run of a 100 TB job resumable.
#
# 100 TB shape: the plan is |sources| rows (broadcast); the fractional
# admission needs a per-source running token sum in hash order — the
# few-huge-groups case, so it runs through two_pass_running_sum_in_
# groups (range shuffle of NARROW (source, doc_id, tokens) triples,
# never the text column; per-source offsets carried by a broadcast
# |sources|·|partitions| frame). Replication is explode(sequence(1,
# n_copies)) — row fan-out inside the scan stage, no extra shuffle. A
# production sink joins the emitted (doc_id, copy) spine back to text
# on the co-partitioned doc_id key at write time.
# --------------------------------------------------------------------------


def _mixture_plan(
    corpus: DataFrame, temperature: float, max_epochs: float
) -> DataFrame:
    """(source, n_docs, n_tokens, epochs): the capped temperature plan
    (same math as temperature_mixture, kept to the columns the executor
    needs)."""
    toks = corpus.select(
        "source", F.expr(_N_TOKS_SPARK).cast("bigint").alias("_t")
    ).groupBy("source").agg(
        F.sum("_t").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    powed = toks.withColumn(
        "_p",
        F.pow(F.col("n_tokens").cast("double"), F.lit(1.0 / temperature)),
    )
    totals = powed.agg(
        F.sum("n_tokens").alias("_tot"), F.sum("_p").alias("_ptot")
    )
    epochs = F.least(
        F.try_divide(
            (F.col("_p") / F.col("_ptot")) * F.col("_tot"),
            F.col("n_tokens"),
        ),
        F.lit(float(max_epochs)),
    )
    return (
        powed.crossJoin(F.broadcast(totals))
        .select("source", "n_docs", "n_tokens", epochs.alias("epochs"))
    )


def mixture_execute(
    corpus: DataFrame,
    temperature: float = MIX_TEMPERATURE,
    max_epochs: float = MIX_MAX_EPOCHS,
    plan: DataFrame | None = None,
) -> DataFrame:
    """The emitted sample spine: (source, doc_id, n_toks, copy) — one
    row per emitted copy of each admitted document. ``corpus`` must
    carry (doc_id, text, source).

    ``plan``: optionally a PRE-COMPUTED ``_mixture_plan`` frame over
    the same (corpus, temperature, max_epochs) (round 15, guide §1.2 —
    the plan is a full-corpus token pass; the registered queries
    session-stage one plan and share it across every consumer that
    needs the identical per-source totals)."""
    from .util import two_pass_running_sum_in_groups

    if plan is None:
        plan = _mixture_plan(corpus, temperature, max_epochs)
    hashed = corpus.select(
        "source",
        "doc_id",
        F.expr(_N_TOKS_SPARK).cast("bigint").alias("_t"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"MX{SEED_SEP}"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint").alias("_h"),
    )
    cum = two_pass_running_sum_in_groups(
        hashed,
        "source",
        [F.col("_h"), F.col("doc_id")],
        "_t",
        out_col="_cin",
    )
    frac_target = (F.col("epochs") - F.floor("epochs")) * F.col(
        "n_tokens"
    )
    n_copies = (
        F.floor("epochs").cast("bigint")
        + F.when(
            (F.col("_cin") - F.col("_t")) < frac_target, F.lit(1)
        ).otherwise(F.lit(0))
    )
    return (
        cum.join(F.broadcast(plan), "source")
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select(
            "source",
            "doc_id",
            F.col("_t").alias("n_toks"),
            F.explode(
                F.sequence(F.lit(1).cast("bigint"), F.col("n_copies"))
            ).alias("copy"),
        )
    )


def mixture_report(
    corpus: DataFrame,
    emitted: DataFrame | None = None,
    plan: DataFrame | None = None,
) -> DataFrame:
    """(source, n_docs, n_full_epochs, target_tokens, n_rows_emitted,
    emitted_tokens, fill_rate): the achieved-vs-target receipt computed
    FROM the materialized sample, so the oracle certifies the executor,
    not just the plan.

    ``emitted``: optionally a pre-computed ``mixture_execute`` frame
    over the same corpus/params (round 12, VERDICT r11 item 4 — the
    registered queries session-stage one emitted spine and share it
    across the three consumers). ``plan``: optionally a pre-computed
    ``_mixture_plan`` frame over the same inputs (round 15 — skips
    this call's own full-corpus token pass)."""
    if plan is None:
        plan = _mixture_plan(corpus, MIX_TEMPERATURE, MIX_MAX_EPOCHS)
    if emitted is None:
        emitted = mixture_execute(corpus, MIX_TEMPERATURE, MIX_MAX_EPOCHS)
    rolled = emitted.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_emitted"),
        F.sum("n_toks").cast("bigint").alias("emitted_tokens"),
    )
    return (
        rolled.join(F.broadcast(plan), "source")
        .select(
            "source",
            "n_docs",
            F.floor("epochs").cast("bigint").alias("n_full_epochs"),
            F.round(F.col("epochs") * F.col("n_tokens"), 3).alias(
                "target_tokens"
            ),
            "n_rows_emitted",
            "emitted_tokens",
            F.round(
                F.try_divide(
                    F.col("emitted_tokens"),
                    F.col("epochs") * F.col("n_tokens"),
                ),
                4,
            ).alias("fill_rate"),
        )
    )


def sql_mixture_report(corpus_sql: str) -> str:
    inv_t = repr(1.0 / MIX_TEMPERATURE)
    cap = repr(float(MIX_MAX_EPOCHS))
    h = (
        f"CAST('0x' || substr(md5('MX{SEED_SEP}' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, source, CAST({_N_TOKS_DUCK} AS BIGINT) AS t
      FROM ({corpus_sql})
    ),
    agg AS (
      SELECT source, CAST(sum(t) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM toks GROUP BY 1
    ),
    powed AS (
      SELECT *, pow(CAST(n_tokens AS DOUBLE), {inv_t}) AS p FROM agg
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt, sum(p) AS ptot
      FROM powed
    ),
    plan AS (
      SELECT source, n_docs, n_tokens,
             least((p / ptot) * tt / n_tokens, {cap}) AS epochs
      FROM powed CROSS JOIN tot
    ),
    cum AS (
      SELECT source, doc_id, t,
             coalesce(sum(t) OVER (PARTITION BY source
                  ORDER BY {h}, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cex
      FROM toks
    ),
    cop AS (
      SELECT c.source, c.t,
             CAST(floor(p.epochs) AS BIGINT)
               + CASE WHEN c.cex < (p.epochs - floor(p.epochs))
                               * p.n_tokens
                      THEN 1 ELSE 0 END AS n_copies
      FROM cum c JOIN plan p USING (source)
    )
    SELECT p.source, p.n_docs,
           CAST(floor(p.epochs) AS BIGINT) AS n_full_epochs,
           round(p.epochs * p.n_tokens, 3) AS target_tokens,
           CAST(sum(n_copies) AS BIGINT) AS n_rows_emitted,
           CAST(sum(n_copies * t) AS BIGINT) AS emitted_tokens,
           round(CAST(sum(n_copies * t) AS DOUBLE)
                 / (p.epochs * p.n_tokens), 4) AS fill_rate
    FROM cop JOIN plan p USING (source)
    WHERE n_copies > 0
    GROUP BY p.source, p.n_docs, p.epochs, p.n_tokens
    """


# --------------------------------------------------------------------------
# Readability (round 9) — Flesch-style reading-ease per source. The
# curation signal the quality composite (quality_score) doesn't carry:
# a source whose text reads at graduate density (score < 30) or
# baby-talk (score > 90) both deserve a mixing look, independent of
# boilerplate/repetition. Syllables are approximated as vowel runs —
# the standard dictionary-free proxy; the score is the classic
# 206.835 - 1.015·(words/sentences) - 84.6·(syllables/words) with both
# denominators clamped to ≥1 so headline-only docs stay finite.
# --------------------------------------------------------------------------

_SENT_RE = "[.!?]+"
_SYLL_RE = "[aeiouy]+"


def readability(corpus: DataFrame) -> DataFrame:
    """(source, n_docs, mean_score, p_hard, p_easy): per-source Flesch
    reading-ease rollup; ``p_hard`` = share of docs under 30 (academic
    density), ``p_easy`` = share over 90.

    100 TB shape: three regex counters per row in whole-stage codegen
    after a compute spread (per-row regex CPU dwarfs the testbed's
    single-file scan, the pii_density finding), then one hash partial
    aggregation on source — the report is |sources| rows."""
    corpus = spread_for_compute(corpus)
    words = F.greatest(
        F.lit(1), F.size(F.expr(WORDS_NONEMPTY)).cast("bigint")
    )
    sents = F.greatest(
        F.lit(1),
        F.size(
            F.expr(f"regexp_extract_all(text, '{_SENT_RE}', 0)")
        ).cast("bigint"),
    )
    sylls = F.greatest(
        F.lit(1),
        F.size(
            F.expr(f"regexp_extract_all(lower(text), '{_SYLL_RE}', 0)")
        ).cast("bigint"),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * words / sents
        - F.lit(84.6) * sylls / words
    )
    return (
        # per-doc score rounded to 6 then summed as DECIMAL: the sum is
        # exact, so the cross-engine hash is independent of partial-sum
        # order (the norm_outliers trick)
        corpus.select(
            "source",
            F.round(score, 6).cast("decimal(18,6)").alias("_s"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.sum("_s").cast("double") / F.count("*"), 6
            ).alias("mean_score"),
            F.round(
                F.avg((F.col("_s") < 30).cast("double")), 6
            ).alias("p_hard"),
            F.round(
                F.avg((F.col("_s") > 90).cast("double")), 6
            ).alias("p_easy"),
        )
    )


def sql_readability(corpus_sql: str) -> str:
    return f"""
    WITH per_doc AS (
      SELECT source,
             greatest(1, len({SQL_WORDS_NONEMPTY})) AS w,
             greatest(1, len(regexp_extract_all(text, '{_SENT_RE}')))
               AS s,
             greatest(1, len(regexp_extract_all(lower(text),
                                                '{_SYLL_RE}'))) AS y
      FROM ({corpus_sql})
    ),
    scored AS (
      -- 6-decimal DECIMAL score: exact sums, order-independent hash
      SELECT source,
             CAST(round(206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                        - 84.6 * (CAST(y AS DOUBLE) / w), 6)
                  AS DECIMAL(18,6)) AS sc
      FROM per_doc
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(sc) AS DOUBLE) / count(*), 6) AS mean_score,
           round(avg(CASE WHEN sc < 30 THEN 1.0 ELSE 0.0 END), 6)
             AS p_hard,
           round(avg(CASE WHEN sc > 90 THEN 1.0 ELSE 0.0 END), 6)
             AS p_easy
    FROM scored GROUP BY source
    """


# --------------------------------------------------------------------------
# Filter funnel — the report every curation pipeline prints before
# committing to a rule chain: the Gopher rules applied in ORDER, with
# each stage's marginal kill count (docs that survived every earlier
# rule but fail this one) and the cumulative survival rate. One corpus
# scan computes all per-rule flags; the funnel arithmetic runs on a
# single 8-counter aggregate row exploded into stage rows — nothing
# corpus-sized crosses the wire twice, and reordering experiments are
# free (the flags are rule-independent).
# --------------------------------------------------------------------------


def _funnel_rules(e: dict[str, str]) -> list[tuple[str, str]]:
    """Ordered (name, predicate) chain — the same constants and
    expressions _gopher_keep ANDs together, split per rule."""
    return [
        (
            "word_count",
            f"({e['n_words']} >= {GOPHER_WORDS_MIN} "
            f"AND {e['n_words']} <= {GOPHER_WORDS_MAX})",
        ),
        (
            "mean_word_len",
            f"({e['mean_word_len']} >= {GOPHER_MWL_MIN} "
            f"AND {e['mean_word_len']} <= {GOPHER_MWL_MAX})",
        ),
        ("symbol_word_ratio", f"{e['symbol_word_ratio']} <= {GOPHER_SYMBOL_MAX}"),
        ("bullet_lines", f"{e['bullet_line_frac']} <= {GOPHER_BULLET_MAX}"),
        ("ellipsis_lines", f"{e['ellipsis_line_frac']} <= {GOPHER_ELLIPSIS_MAX}"),
        ("alpha_word_frac", f"{e['alpha_word_frac']} >= {GOPHER_ALPHA_MIN}"),
        ("stopword_hits", f"{e['n_stop_hits']} >= {GOPHER_STOP_MIN}"),
    ]


def filter_funnel(corpus: DataFrame) -> DataFrame:
    """(stage, rule, n_in, n_killed, n_out, survival_rate) per ordered
    Gopher rule."""
    from .util import spread_for_compute

    e = _gopher_exprs("spark")
    rules = _funnel_rules(e)
    # the per-rule flags are interpreted higher-order-function work —
    # spread the single-file scan to cluster parallelism first
    # (measured at 8× documents: 3.96 → 1.52 s)
    flags = spread_for_compute(corpus).select(
        *[F.expr(p).alias(f"r{i}") for i, (_, p) in enumerate(rules, 1)]
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("total")]
    for i in range(1, len(rules) + 1):
        conj = " AND ".join(
            [f"r{j}" for j in range(1, i)] + [f"NOT r{i}"]
        )
        aggs.append(
            F.sum(F.when(F.expr(conj), 1).otherwise(0))
            .cast("bigint")
            .alias(f"k{i}")
        )
    row = flags.agg(*aggs)
    structs = []
    drop = "CAST(0 AS BIGINT)"
    for i, (name, _) in enumerate(rules, 1):
        n_in = f"total - ({drop})"
        structs.append(
            f"struct(CAST({i} AS INT) AS stage, '{name}' AS rule, "
            f"{n_in} AS n_in, k{i} AS n_killed, "
            f"{n_in} - k{i} AS n_out, "
            f"round(CAST({n_in} - k{i} AS DOUBLE) / total, 6) "
            f"AS survival_rate)"
        )
        drop = f"({drop}) + k{i}"
    return row.select(
        F.explode(F.array(*[F.expr(s) for s in structs])).alias("s")
    ).select("s.*")


def sql_filter_funnel(corpus_sql: str) -> str:
    e = _gopher_exprs("duck")
    rules = _funnel_rules(e)
    flag_cols = ", ".join(
        f"{p} AS r{i}" for i, (_, p) in enumerate(rules, 1)
    )
    ksel = ["CAST(count(*) AS BIGINT) AS total"]
    for i in range(1, len(rules) + 1):
        conj = " AND ".join(
            [f"r{j}" for j in range(1, i)] + [f"NOT r{i}"]
        )
        ksel.append(
            f"CAST(sum(CASE WHEN {conj} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS k{i}"
        )
    parts = []
    drop = "CAST(0 AS BIGINT)"
    for i, (name, _) in enumerate(rules, 1):
        n_in = f"total - ({drop})"
        parts.append(
            f"SELECT CAST({i} AS INTEGER) AS stage, '{name}' AS rule, "
            f"{n_in} AS n_in, k{i} AS n_killed, {n_in} - k{i} AS n_out, "
            f"round(CAST({n_in} - k{i} AS DOUBLE) / total, 6) "
            f"AS survival_rate FROM a"
        )
        drop = f"({drop}) + k{i}"
    return (
        f"WITH flags AS (SELECT {flag_cols} FROM ({corpus_sql})), "
        f"a AS (SELECT {', '.join(ksel)} FROM flags) "
        + " UNION ALL ".join(parts)
    )


# --------------------------------------------------------------------------
# Code-vs-prose detection — the mixture-routing screen a pretraining
# pipeline runs before deciding per-source sampling weights: code wants
# different tokenization, different dedup thresholds (license headers
# repeat legitimately), and its own mixture bucket.  A real deployment
# uses a trained classifier; the portable heuristic here is the
# structural-symbol density ({}();=<>[] per char), which separates
# code from prose at >10x density gaps and — unlike keyword lists — is
# language-agnostic across programming languages.
#
# Numeric parity: the per-doc score is INTEGER thousandths
# floor(1000·sym/chars) (integer division on integer counts, exact on
# both engines); the rollup sums integers and divides exactly once per
# source, rounded to 6.
#
# Scale shape: one corpus scan; sym counts come from length-after-
# translate (codegen string ops, no regex engine, no explode); one
# map-side-combining groupBy on source — |sources| rows over the wire.
# --------------------------------------------------------------------------

CODE_SYMBOLS = "{}();=<>[]"
CODE_SCORE_MILLI_MIN = 15  # >=1.5% structural symbols → routed as code


def code_detection(corpus: DataFrame) -> DataFrame:
    """(source, n_docs, n_code, code_rate, mean_score_milli): per-source
    code-routing report over (doc_id, text, source)."""
    n_chars = F.length("text")
    sym = n_chars - F.length(F.translate(F.col("text"), CODE_SYMBOLS, ""))
    score = F.floor(
        (F.lit(1000).cast("bigint") * sym)
        / F.greatest(n_chars, F.lit(1))
    ).cast("bigint")
    scored = corpus.select(F.col("source"), score.alias("_s"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("_s") >= CODE_SCORE_MILLI_MIN, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_code"),
            F.sum("_s").cast("bigint").alias("_ssum"),
        )
        .select(
            "source",
            "n_docs",
            "n_code",
            F.round(F.col("n_code") / F.col("n_docs"), 6).alias("code_rate"),
            F.round(F.col("_ssum") / F.col("n_docs"), 4).alias(
                "mean_score_milli"
            ),
        )
    )


def sql_code_detection(corpus_sql: str) -> str:
    return f"""
    WITH scored AS (
      SELECT source,
             CAST(floor(
               (1000 * (length(text)
                        - length(translate(text, '{CODE_SYMBOLS}', ''))))
               // greatest(length(text), 1)) AS BIGINT) AS s
      FROM ({corpus_sql})
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN s >= {CODE_SCORE_MILLI_MIN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_code,
           round(CAST(sum(CASE WHEN s >= {CODE_SCORE_MILLI_MIN} THEN 1
                          ELSE 0 END) AS DOUBLE) / count(*), 6) AS code_rate,
           round(CAST(sum(s) AS DOUBLE) / count(*), 4) AS mean_score_milli
    FROM scored GROUP BY source
    """


# --------------------------------------------------------------------------
# Classifier-calibration audit (ECE) — before quality-classifier scores
# gate a 100 TB corpus ("drop everything under p=0.3"), the scores must
# MEAN something: expected calibration error against a labeled proxy is
# the standard readout (Guo et al., ICML 2017).  Here the classifier is
# the engine's own hashed-linear quality_classifier and the proxy label
# is lang='en' (the majority-language membership a curator would audit
# against first); the operator is the reusable binning/gap machinery.
#
# Numeric parity: quality_prob is the already-certified 6-decimal score
# (identical doubles on both engines — same integer sums, same single
# division chain), so floor(prob·10) bins identically; per-bin means go
# through integer MILLIONTHS (round(prob·1e6) is exact on a 6-decimal
# double) so partial-aggregation order can't move them; gaps and the
# ECE are computed from already-rounded per-bin values.
#
# Scale shape: classifier rollup (one explode + hash + groupBy doc_id),
# a doc-keyed hash join back to the label column, then a 10-row bin
# aggregate; the ECE total row folds the 10-row frame — no second
# corpus pass, no window over data rows.
# --------------------------------------------------------------------------

ECE_BINS = 10


def calibration_ece(corpus: DataFrame) -> DataFrame:
    """(bin, n_docs, mean_pred, frac_pos, abs_gap): reliability table of
    quality_classifier vs the lang='en' proxy label over
    (doc_id, text, lang); bin = -1 row carries the overall ECE in
    abs_gap and corpus-level mean_pred / frac_pos."""
    scored = quality_classifier(corpus.select("doc_id", "text"))
    labeled = scored.join(
        corpus.select("doc_id", (F.col("lang") == "en").alias("_pos")),
        "doc_id",
    )
    binned = labeled.select(
        F.least(
            F.floor(F.col("quality_prob") * ECE_BINS), F.lit(ECE_BINS - 1)
        )
        .cast("int")
        .alias("bin"),
        F.round(F.col("quality_prob") * 1_000_000)
        .cast("bigint")
        .alias("_pm"),
        F.when(F.col("_pos"), 1).otherwise(0).cast("bigint").alias("_y"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_pm").alias("_pms"),
        F.sum("_y").alias("_ys"),
    )
    gap = F.round(
        F.abs(
            F.round(F.col("_pms") / 1_000_000.0 / F.col("n_docs"), 6)
            - F.round(F.col("_ys") / F.col("n_docs"), 6)
        ),
        6,
    )
    # gap_micro re-integerizes the 6-decimal gap so the ECE total row is
    # an integer sum (order-independent under partial aggregation), not
    # a sum of doubles.
    staged = per_bin.withColumn(
        "_gm", F.round(gap * 1_000_000).cast("bigint")
    )
    bins = staged.select(
        "bin",
        "n_docs",
        F.round(F.col("_pms") / 1_000_000.0 / F.col("n_docs"), 6).alias(
            "mean_pred"
        ),
        F.round(F.col("_ys") / F.col("n_docs"), 6).alias("frac_pos"),
        F.round(F.col("_gm") / 1_000_000.0, 6).alias("abs_gap"),
    )
    total = staged.agg(
        F.lit(-1).cast("int").alias("bin"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.round(
            F.sum("_pms") / 1_000_000.0 / F.sum("n_docs"), 6
        ).alias("mean_pred"),
        F.round(F.sum("_ys") / F.sum("n_docs"), 6).alias("frac_pos"),
        F.round(
            F.sum(F.col("_gm") * F.col("n_docs"))
            / 1_000_000.0
            / F.sum("n_docs"),
            6,
        ).alias("abs_gap"),
    )
    return bins.unionByName(total)


def sql_calibration_ece(corpus_sql: str) -> str:
    qc = sql_quality_classifier(
        f"SELECT doc_id, text FROM ({corpus_sql})"
    )
    return f"""
    WITH scored AS ({qc}),
    labeled AS (
      SELECT s.quality_prob, (c.lang = 'en') AS pos
      FROM scored s JOIN ({corpus_sql}) c USING (doc_id)
    ),
    binned AS (
      SELECT CAST(least(floor(quality_prob * {ECE_BINS}),
                        {ECE_BINS - 1}) AS INTEGER) AS bin,
             CAST(round(quality_prob * 1000000) AS BIGINT) AS pm,
             CASE WHEN pos THEN 1 ELSE 0 END AS y
      FROM labeled
    ),
    per_bin AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(pm) AS BIGINT) AS pms,
             CAST(sum(y) AS BIGINT) AS ys
      FROM binned GROUP BY bin
    ),
    staged AS (
      SELECT bin, n_docs, pms, ys,
             CAST(round(1000000 * round(abs(
               round(CAST(pms AS DOUBLE) / 1000000.0 / n_docs, 6)
               - round(CAST(ys AS DOUBLE) / n_docs, 6)), 6)) AS BIGINT)
               AS gm
      FROM per_bin
    )
    SELECT bin, n_docs,
           round(CAST(pms AS DOUBLE) / 1000000.0 / n_docs, 6) AS mean_pred,
           round(CAST(ys AS DOUBLE) / n_docs, 6) AS frac_pos,
           round(CAST(gm AS DOUBLE) / 1000000.0, 6) AS abs_gap
    FROM staged
    UNION ALL
    SELECT CAST(-1 AS INTEGER) AS bin,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           round(CAST(sum(pms) AS DOUBLE) / 1000000.0 / sum(n_docs), 6)
             AS mean_pred,
           round(CAST(sum(ys) AS DOUBLE) / sum(n_docs), 6) AS frac_pos,
           round(CAST(sum(gm * n_docs) AS DOUBLE) / 1000000.0
                 / sum(n_docs), 6) AS abs_gap
    FROM staged
    """


# --------------------------------------------------------------------------
# Token-balanced shard assignment (round 10) — the corpus WRITER step:
# training jobs read fixed-size shards (webdataset/TFRecord style), so
# after curation+mixing the corpus must be cut into N shards of
# near-equal TOKEN mass in a globally shuffled order. Both needs are
# served by one construction: order documents by the md5(doc_id) hash
# (the deterministic global shuffle — no RNG state, identical layout on
# re-run), take the global running token sum, and cut at multiples of
# target = ceil(total/N) in the cumulative domain: shard(doc) =
# floor(tokens_before_doc / target). A shard boundary lands inside at
# most one document, so shard token mass deviates from target by less
# than one document — the balance a naive hash-mod assignment only
# achieves in expectation.
#
# 100 TB shape: the global running sum is two_pass_running_sum (range
# shuffle of NARROW (doc_id, tokens, hash) triples + a broadcast
# |partitions|-row offset frame — never a single-task sort, never the
# text column); the receipt is an N-row rollup. The real writer then
# repartitions BY the shard id so each shard lands as one output file.
# --------------------------------------------------------------------------

N_SHARDS = 16


def shard_assign(
    corpus: DataFrame, n_shards: int = N_SHARDS
) -> DataFrame:
    """(doc_id, _t, _target, shard): the doc-level token-balanced
    hash-shuffled shard assignment — shard_balance's rollup input,
    exposed (round 11) so cross-audits (dedup_shard_locality) can read
    WHERE each doc lands, not just how full each shard is."""
    from .util import two_pass_running_sum

    toks = corpus.select(
        "doc_id",
        F.expr(_N_TOKS_SPARK).cast("bigint").alias("_t"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"SH{SEED_SEP}"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint").alias("_h"),
    )
    cum = two_pass_running_sum(
        toks, [F.col("_h"), F.col("doc_id")], "_t", out_col="_cin"
    )
    total = toks.agg(F.sum("_t").alias("_tot"))
    target = F.ceil(F.col("_tot") / F.lit(n_shards)).cast("bigint")
    return (
        cum.crossJoin(F.broadcast(total))
        .withColumn("_target", target)
        .withColumn(
            "shard",
            F.floor(
                (F.col("_cin") - F.col("_t")) / F.col("_target")
            ).cast("int"),
        )
        .select("doc_id", "_t", "_target", "shard")
    )


def shard_balance(corpus: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    """(shard, n_docs, n_tokens, fill_rate): the per-shard receipt of
    the token-balanced hash-shuffled shard cut. ``corpus`` must carry
    (doc_id, text)."""
    return (
        shard_assign(corpus, n_shards)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_t").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("_t") / F.first("_target").cast("double"), 4
            ).alias("fill_rate"),
        )
    )


def _sql_shard_assign_ctes(corpus_sql: str, n_shards: int) -> str:
    """The shared toks/tot/cum CTE chain of the shard cut; ``cum``
    carries doc_id so the assignment is readable per doc."""
    h = (
        f"CAST('0x' || substr(md5('SH{SEED_SEP}' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
    )
    return f"""toks AS (
      SELECT doc_id, CAST({_N_TOKS_DUCK} AS BIGINT) AS t
      FROM ({corpus_sql})
    ),
    tot AS (
      SELECT CAST(ceil(CAST(sum(t) AS DOUBLE) / {n_shards}) AS BIGINT)
               AS target
      FROM toks
    ),
    cum AS (
      SELECT doc_id, t,
             coalesce(sum(t) OVER (ORDER BY {h}, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cex
      FROM toks
    )"""


def sql_shard_balance(corpus_sql: str) -> str:
    return f"""
    WITH {_sql_shard_assign_ctes(corpus_sql, N_SHARDS)}
    SELECT CAST(floor(CAST(cex AS DOUBLE) / target) AS INTEGER)
             AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t) AS BIGINT) AS n_tokens,
           round(CAST(sum(t) AS DOUBLE) / target, 4) AS fill_rate
    FROM cum CROSS JOIN tot
    GROUP BY 1, target
    """


# --------------------------------------------------------------------------
# Quality-threshold sweep (round 10) — the tuning step AFTER
# calibration_ece says the classifier's probabilities are (or aren't)
# trustworthy: pick the keep/drop cutoff. For each candidate threshold,
# precision / recall / F1 of "quality_prob >= t" against the lang='en'
# proxy label — the dedup_threshold_sweep pattern applied to the
# quality dial, so the curation config records WHY its cutoff was
# chosen instead of inheriting a folklore 0.5.
#
# 100 TB shape: one classifier pass (the same hashed-linear scorer the
# other quality queries stage), then a broadcast 9-row threshold frame
# fans each scored doc into 9 candidate verdicts whose confusion
# counts partial-aggregate inside the scan task — reducer traffic is
# 9 rows × |partitions|, and the report is 9 rows. Probabilities are
# compared in exact micro-units (the classifier rounds to 6 decimals),
# so both engines make identical keep/drop calls at every threshold.
# --------------------------------------------------------------------------

QT_THRESHOLDS = [i * 100_000 for i in range(1, 10)]  # 0.1 .. 0.9 micros


def quality_threshold_sweep(corpus: DataFrame) -> DataFrame:
    """(threshold, n_kept, tp, fp, fn, precision, recall, f1) per
    candidate cutoff; ``corpus`` must carry (doc_id, text, lang)."""
    scored = quality_classifier(corpus.select("doc_id", "text"))
    labeled = scored.join(
        corpus.select("doc_id", (F.col("lang") == "en").alias("_pos")),
        "doc_id",
    ).select(
        F.round(F.col("quality_prob") * 1_000_000)
        .cast("bigint")
        .alias("_pm"),
        F.when(F.col("_pos"), 1).otherwise(0).cast("bigint").alias("_y"),
    )
    thr = F.explode(
        F.array(*[F.lit(t) for t in QT_THRESHOLDS])
    ).alias("threshold")
    fanned = labeled.select("_pm", "_y", thr)
    keep = F.col("_pm") >= F.col("threshold")
    per = fanned.groupBy("threshold").agg(
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(keep, F.col("_y")).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(keep, 1 - F.col("_y")).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~keep, F.col("_y")).otherwise(0))
        .cast("bigint")
        .alias("fn"),
    )
    return per.select(
        F.round(F.col("threshold") / 1_000_000.0, 1).alias("threshold"),
        "n_kept",
        "tp",
        "fp",
        "fn",
        F.round(F.try_divide(F.col("tp"), F.col("tp") + F.col("fp")), 6)
        .alias("precision"),
        F.round(F.try_divide(F.col("tp"), F.col("tp") + F.col("fn")), 6)
        .alias("recall"),
        F.round(
            F.try_divide(
                2 * F.col("tp"),
                2 * F.col("tp") + F.col("fp") + F.col("fn"),
            ),
            6,
        ).alias("f1"),
    )


def sql_quality_threshold_sweep(corpus_sql: str) -> str:
    qc = sql_quality_classifier(
        f"SELECT doc_id, text FROM ({corpus_sql})"
    )
    thr_rows = ", ".join(f"({t})" for t in QT_THRESHOLDS)
    return f"""
    WITH scored AS ({qc}),
    labeled AS (
      SELECT CAST(round(s.quality_prob * 1000000) AS BIGINT) AS pm,
             CASE WHEN c.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM scored s JOIN ({corpus_sql}) c USING (doc_id)
    ),
    thr(t) AS (VALUES {thr_rows}),
    per AS (
      SELECT t,
             CAST(sum(CASE WHEN pm >= t THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(sum(CASE WHEN pm >= t THEN y ELSE 0 END) AS BIGINT)
               AS tp,
             CAST(sum(CASE WHEN pm >= t THEN 1 - y ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(sum(CASE WHEN pm < t THEN y ELSE 0 END) AS BIGINT)
               AS fn
      FROM labeled CROSS JOIN thr GROUP BY 1
    )
    SELECT round(t / 1000000.0, 1) AS threshold, n_kept, tp, fp, fn,
           round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6)
             AS precision,
           round(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall,
           round(CAST(2 * tp AS DOUBLE) / nullif(2 * tp + fp + fn, 0), 6)
             AS f1
    FROM per
    """


def sql_mixture_emitted(corpus_sql: str) -> str:
    """Per-document emitted-copy counts of the mixture executor —
    (doc_id, source, t, n_copies) for admitted docs — the reusable
    oracle fragment downstream audits (deletion propagation) build on."""
    inv_t = repr(1.0 / MIX_TEMPERATURE)
    cap = repr(float(MIX_MAX_EPOCHS))
    h = (
        f"CAST('0x' || substr(md5('MX{SEED_SEP}' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, source, CAST({_N_TOKS_DUCK} AS BIGINT) AS t
      FROM ({corpus_sql})
    ),
    agg AS (
      SELECT source, CAST(sum(t) AS BIGINT) AS n_tokens
      FROM toks GROUP BY 1
    ),
    powed AS (
      SELECT *, pow(CAST(n_tokens AS DOUBLE), {inv_t}) AS p FROM agg
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt, sum(p) AS ptot
      FROM powed
    ),
    plan AS (
      SELECT source, n_tokens,
             least((p / ptot) * tt / n_tokens, {cap}) AS epochs
      FROM powed CROSS JOIN tot
    ),
    cum AS (
      SELECT source, doc_id, t,
             coalesce(sum(t) OVER (PARTITION BY source
                  ORDER BY {h}, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cex
      FROM toks
    )
    SELECT c.doc_id, c.source, c.t,
           CAST(floor(p.epochs) AS BIGINT)
             + CASE WHEN c.cex < (p.epochs - floor(p.epochs))
                             * p.n_tokens
                    THEN 1 ELSE 0 END AS n_copies
    FROM cum c JOIN plan p USING (source)
    """


# --------------------------------------------------------------------------
# Curriculum stages (round 10) — the data SCHEDULE step: order the
# corpus by quality and cut it into K equal-count stages (curriculum /
# annealing training feeds low-stage data early and saves the
# highest-quality stage for the final tokens). The receipt per stage:
# volume (docs, tokens), mean quality, and the SOURCE-mix entropy —
# a quality-ordered curriculum silently narrowing to one source at the
# top stage is exactly the failure this report exposes before training.
#
# 100 TB shape: the global quality ordering runs through two_pass_rank
# (range shuffle of narrow rows + broadcast offsets — never a
# single-task sort), stage = ntile_from_rank arithmetic on the rank;
# the entropy needs one extra (stage, source) rollup — K·|sources|
# rows — merged back onto the K-row stage frame. Quality sums
# accumulate in exact micro-units (the score is round-6 by contract),
# so mean_quality carries no float-summation-order surface.
# --------------------------------------------------------------------------

CURRICULUM_STAGES = 10


def curriculum_stages(
    corpus: DataFrame, quality: DataFrame | None = None
) -> DataFrame:
    """(stage, n_docs, n_tokens, mean_quality, src_entropy) over
    (doc_id, text, source); stage 1 = lowest quality.

    ``quality``: optionally a pre-computed (doc_id, n_tokens, quality)
    frame over the same corpus — the registered query passes the
    session-staged score scan shared with llm_corpus_release
    (round 12, VERDICT r11 item 4)."""
    from .util import ntile_from_rank, two_pass_rank

    if quality is None:
        quality = quality_score(corpus.select("doc_id", "text")).select(
            "doc_id", "n_tokens", "quality"
        )
    scored = quality.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("quality") * 1_000_000)
        .cast("bigint")
        .alias("_qm"),
    )
    labeled = scored.join(corpus.select("doc_id", "source"), "doc_id")
    ranked = two_pass_rank(
        labeled, [F.col("_qm"), F.col("doc_id")], out_col="_rank"
    )
    total = ranked.agg(F.max("_rank").alias("_n"))
    staged = ranked.crossJoin(F.broadcast(total)).withColumn(
        "stage",
        ntile_from_rank(F.col("_rank"), F.col("_n"), CURRICULUM_STAGES),
    )
    per = staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("_qm").alias("_qms"),
    )
    cs = staged.groupBy("stage", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    # H = ln(tot) - sum(c·ln c)/tot (exact regrouping of -Σ p ln p);
    # each c·ln c term rounds to micro-units BEFORE the sum so the
    # accumulation is integer — float-summation order can't diverge
    # between engines (the drift/ECE oracle idiom).
    clc = F.round(F.col("_c") * F.log("_c") * 1_000_000).cast("bigint")
    ent = (
        cs.select("stage", "_c", clc.alias("_clc"))
        .groupBy("stage")
        .agg(F.sum("_c").alias("_tot"), F.sum("_clc").alias("_clcs"))
        .select(
            "stage",
            (
                F.log("_tot")
                - F.col("_clcs") / 1_000_000.0 / F.col("_tot")
            ).alias("_h"),
        )
    )
    return per.join(ent, "stage").select(
        "stage",
        "n_docs",
        "n_tokens",
        F.round(F.col("_qms") / 1_000_000.0 / F.col("n_docs"), 6).alias(
            "mean_quality"
        ),
        F.round(F.col("_h"), 6).alias("src_entropy"),
    )


def sql_curriculum_stages(corpus_sql: str) -> str:
    qs = sql_quality_score(f"SELECT doc_id, text FROM ({corpus_sql})")
    return f"""
    WITH scored AS ({qs}),
    labeled AS (
      SELECT s.doc_id, s.n_tokens,
             CAST(round(s.quality * 1000000) AS BIGINT) AS qm,
             c.source
      FROM scored s JOIN ({corpus_sql}) c USING (doc_id)
    ),
    staged AS (
      SELECT *, CAST(ntile({CURRICULUM_STAGES}) OVER (ORDER BY qm, doc_id)
                     AS INTEGER) AS stage
      FROM labeled
    ),
    per AS (
      SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             sum(qm) AS qms
      FROM staged GROUP BY 1
    ),
    cs AS (
      SELECT stage, source, CAST(count(*) AS BIGINT) AS c
      FROM staged GROUP BY 1, 2
    ),
    ent AS (
      SELECT stage,
             ln(sum(c))
               - CAST(sum(CAST(round(c * ln(c) * 1000000) AS BIGINT))
                      AS DOUBLE) / 1000000.0 / sum(c) AS h
      FROM cs GROUP BY 1
    )
    SELECT p.stage, p.n_docs, p.n_tokens,
           round(CAST(p.qms AS DOUBLE) / 1000000.0 / p.n_docs, 6)
             AS mean_quality,
           round(e.h, 6) AS src_entropy
    FROM per p JOIN ent e USING (stage)
    """


# --------------------------------------------------------------------------
# Split-leakage audit (round 10) — certifies text_train_val_split's
# output the way decontaminate certifies the corpus against an external
# benchmark: a hash split guarantees DISJOINT DOCUMENTS, not disjoint
# CONTENT — near-identical docs land on opposite sides of any
# id-hash split, and the val loss silently becomes a memorization
# probe. The audit counts val documents sharing ≥1 word n-gram with
# the train side, the leaked-doc rate, and the worst offender's shared
# gram count — the receipt an eval split ships with.
#
# 100 TB shape: the same spread + element_at gram pipeline as
# decontaminate; both sides collapse to distinct grams BEFORE the join
# (map-side combined); the join shuffles on the gram key (val is the
# 5% slice, so its distinct-gram frame is the small side AQE can
# broadcast at testbed scale; at 100 TB it stays a key-partitioned
# equi-join). The receipt is one row.
# --------------------------------------------------------------------------


def split_leakage(corpus: DataFrame) -> DataFrame:
    """(n_train, n_val, n_leaked_val, leak_rate, max_shared_grams) over
    (doc_id, text) under the SPLIT-hash 95/5 assignment."""
    bucket = F.expr(
        "cast(conv(substring(md5(concat('SPLIT', cast(doc_id as string)"
        ")), 1, 8), 16, 10) as bigint) % 100"
    )
    is_val = bucket >= 95
    grams = gram_stream(
        spread_for_compute(corpus).withColumn("_v", is_val), "_v"
    )
    val_grams = (
        grams.filter(F.col("_v")).select("doc_id", "gram").distinct()
    )
    train_grams = grams.filter(~F.col("_v")).select("gram").distinct()
    hits = (
        val_grams.join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_s"))
    )
    counts = corpus.select(is_val.alias("_v")).agg(
        F.sum(F.when(F.col("_v"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("_v"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_val"),
    )
    leak = hits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_leaked_val"),
        F.coalesce(F.max("_s"), F.lit(0))
        .cast("bigint")
        .alias("max_shared_grams"),
    )
    return counts.crossJoin(F.broadcast(leak)).select(
        "n_train",
        "n_val",
        "n_leaked_val",
        # try_divide: a corpus small enough that NO doc hashes into
        # the 5% val bucket has n_val = 0 — ANSI `/` threw where the
        # DuckDB oracle yields NULL (found by the round-11 random-
        # corpus property test; the testbed never exercises it)
        F.round(
            F.try_divide(F.col("n_leaked_val"), F.col("n_val")), 6
        ).alias("leak_rate"),
        "max_shared_grams",
    )


def sql_split_leakage(corpus_sql: str) -> str:
    grams = sql_word_grams("w", DECON_NGRAM)
    is_val = (
        "CAST('0x' || substr(md5('SPLIT' || CAST(doc_id AS VARCHAR)), "
        "1, 8) AS BIGINT) % 100 >= 95"
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, {is_val} AS v, {SQL_WORDS} AS w
      FROM ({corpus_sql})
    ),
    e AS (SELECT doc_id, v, unnest({grams}) AS gram FROM tok),
    val_grams AS (
      SELECT DISTINCT doc_id, gram FROM e WHERE v
    ),
    train_grams AS (SELECT DISTINCT gram FROM e WHERE NOT v),
    hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS s
      FROM val_grams JOIN train_grams USING (gram)
      GROUP BY 1
    ),
    counts AS (
      SELECT CAST(sum(CASE WHEN {is_val} THEN 0 ELSE 1 END) AS BIGINT)
               AS n_train,
             CAST(sum(CASE WHEN {is_val} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_val
      FROM ({corpus_sql})
    ),
    leak AS (
      SELECT CAST(count(*) AS BIGINT) AS n_leaked_val,
             CAST(coalesce(max(s), 0) AS BIGINT) AS max_shared_grams
      FROM hits
    )
    SELECT n_train, n_val, n_leaked_val,
           round(CAST(n_leaked_val AS DOUBLE) / n_val, 6) AS leak_rate,
           max_shared_grams
    FROM counts CROSS JOIN leak
    """


# --------------------------------------------------------------------------
# Boilerplate scrub (round 10) — the executor behind line_dedup's
# diagnostic: actually REMOVE the corpus-frequent segments (navigation
# chrome, cookie banners, footer text — any LINE_WORDS-word segment
# occurring >= LINE_DUP_MIN times corpus-wide) and report per source
# what the scrub took out. The C4/RefinedWeb line-dedup cleaning step,
# expressed as segment-hash frequency + a keep/drop verdict per
# segment; the receipt (docs touched, words removed, removal rate per
# source) is what a curation run records before committing the
# scrubbed corpus.
#
# 100 TB shape: identical skeleton to line_dedup (one segment-hash
# fan-out inside the scan, one map-side-combined frequency rollup on
# the 16-byte hash key, one join back on that key) plus a |sources|-row
# rollup — the executor costs ONE more aggregation than the
# diagnostic. The segment WORD COUNTS ride along in the fan-out struct
# so removed volume is exact (tail segments are shorter than
# LINE_WORDS).
# --------------------------------------------------------------------------


def boilerplate_scrub(corpus: DataFrame) -> DataFrame:
    """(source, n_docs, n_docs_touched, segs_total, segs_removed,
    words_removed, removal_rate) over (doc_id, text, source)."""
    segs_expr = F.expr(
        f"transform({_LINE_SEGS}, i -> struct("
        f"md5(array_join({_LINE_SEG}, ' ')) AS h, size({_LINE_SEG}) AS wc))"
    )
    segs = _line_words(corpus, "source").select(
        "doc_id", "source", F.explode(segs_expr).alias("_s")
    ).select("doc_id", "source", F.col("_s.h").alias("_h"), F.col("_s.wc").alias("_wc"))
    freq = segs.groupBy("_h").agg(F.count("*").alias("_n"))
    dup = F.col("_n") >= LINE_DUP_MIN
    return (
        segs.join(freq, "_h")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.countDistinct(F.when(dup, F.col("doc_id")))
            .cast("bigint")
            .alias("n_docs_touched"),
            F.count("*").cast("bigint").alias("segs_total"),
            F.sum(F.when(dup, 1).otherwise(0))
            .cast("bigint")
            .alias("segs_removed"),
            F.sum(F.when(dup, F.col("_wc")).otherwise(0))
            .cast("bigint")
            .alias("words_removed"),
            F.round(
                F.sum(F.when(dup, F.col("_wc")).otherwise(0))
                / F.sum("_wc"),
                6,
            ).alias("removal_rate"),
        )
    )


def sql_boilerplate_scrub(corpus_sql: str) -> str:
    return f"""
    WITH words AS (
      SELECT doc_id, source,
             {SQL_WORDS_NONEMPTY} AS w
      FROM ({corpus_sql})
    ),
    nz AS (SELECT * FROM words WHERE len(w) > 0),
    segs AS (
      SELECT doc_id, source,
             md5(array_to_string(
               w[(g.i * {LINE_WORDS} + 1):(g.i * {LINE_WORDS} + {LINE_WORDS})],
               ' ')) AS h,
             len(w[(g.i * {LINE_WORDS} + 1):(g.i * {LINE_WORDS} + {LINE_WORDS})])
               AS wc
      FROM nz,
           LATERAL (SELECT unnest(generate_series(0,
             CAST(ceil(len(w) / {LINE_WORDS}.0) AS INT) - 1)) AS i) g
    ),
    freq AS (SELECT h, count(*) AS n FROM segs GROUP BY h)
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT CASE WHEN n >= {LINE_DUP_MIN}
                                    THEN doc_id END) AS BIGINT)
             AS n_docs_touched,
           CAST(count(*) AS BIGINT) AS segs_total,
           CAST(coalesce(sum(CASE WHEN n >= {LINE_DUP_MIN} THEN 1 END),
                0) AS BIGINT) AS segs_removed,
           CAST(coalesce(sum(CASE WHEN n >= {LINE_DUP_MIN} THEN wc END),
                0) AS BIGINT) AS words_removed,
           round(coalesce(sum(CASE WHEN n >= {LINE_DUP_MIN} THEN wc END),
                 0) / CAST(sum(wc) AS DOUBLE), 6) AS removal_rate
    FROM segs JOIN freq USING (h)
    GROUP BY source
    """


# --------------------------------------------------------------------------
# Corpus-release receipt (round 11, VERDICT r10 item 4) — the north-star
# composition: the curation EXECUTORS that shipped separately in round 10
# (mixture_execute = sample, curriculum stage cut = order, shard cut =
# write layout, split_leakage = gate) composed into ONE release query
# that emits the end-to-end receipt a corpus release ships with, the way
# llm_corpus_pipeline composes the filter→dedup→chunk chain (reference
# precedent: the multi-step pipeline composition at app.py:936-972).
#
# Long-format receipt (section, key, n_units, n_tokens, metric), one
# row-group per release surface:
#   section='source' — achieved-vs-target per source FROM the emitted
#     sample: n_units = emitted copy-rows, n_tokens = emitted tokens,
#     metric = fill_rate (emitted / temperature-plan target).
#   section='shard'  — token-balanced hash-shuffled shard cut over the
#     EMITTED copies (each replica is a unit — the writer lays out the
#     sample, not the raw corpus): n_units = copies, n_tokens = tokens,
#     metric = fill vs the ceil(total/n_shards) target.
#   section='stage'  — quality-ordered curriculum cut of the ADMITTED
#     docs; emitted volume aggregated per stage (n_units = copies,
#     n_tokens = tokens, metric = copy-weighted mean quality).
#   section='gate'   — the split-leakage verdict row (n_units =
#     leaked val docs, n_tokens = worst offender's shared grams,
#     metric = leak_rate): the go/no-go a release records.
#
# 100 TB shape: every piece reuses an already-shape-audited skeleton —
# the mixture sampler's salted two-pass running sum per source, ONE
# extra global two-pass running sum over the emitted spine for the
# shard cut (never an unpartitioned window), a two_pass_rank +
# ntile_from_rank arithmetic for the stage cut, and the gram-join
# leakage audit whose both sides collapse to distinct grams before the
# shuffle. The receipt is |sources| + n_shards + n_stages + 1 rows.
# --------------------------------------------------------------------------

RELEASE_SHARDS = 8
RELEASE_STAGES = 4


def corpus_release(
    corpus: DataFrame,
    leakage: DataFrame | None = None,
    emitted: DataFrame | None = None,
    quality: DataFrame | None = None,
    plan: DataFrame | None = None,
) -> DataFrame:
    """(section, key, n_units, n_tokens, metric) release receipt over
    (doc_id, text, source) — see the block comment for section
    semantics.

    ``leakage`` / ``emitted`` / ``quality``: optionally PRE-COMPUTED
    constituent frames over the same corpus (round 12, VERDICT r11
    item 4) — the split_leakage result (1 row; also computed by
    text_split_leakage and llm_eval_guard), the mixture_execute
    emitted spine (O(corpus); also consumed by text_mixture_execute
    and rel_deletion_audit), and the (doc_id, quality) scores
    (O(corpus); also a registered query of their own). ``plan``:
    optionally a pre-computed ``_mixture_plan`` frame (round 15,
    VERDICT r14 item 5 — the plan's per-source token totals are a
    full-corpus token pass; sharing the session-staged plan removes
    that pass from this call). The registered queries session-stage
    each once and share them, instead of re-deriving the gram
    fan-out / sampler / score scan / plan totals per query."""
    from .util import ntile_from_rank, two_pass_rank, two_pass_running_sum

    # The emitted sample spine feeds THREE sections (source, shard,
    # stage); without a checkpoint Catalyst re-runs the whole sampler
    # subtree per branch (and mixture_report would add a fourth run) —
    # measured 5.5 → 5.1 s at sf0.1 (the remaining cost is the four
    # composed executors themselves: sampler + shard cut + stage rank
    # + gram-join leakage gate, each already shape-audited alone).
    # O(corpus) materialization, the same size class the two-pass
    # helpers already checkpoint internally — NOT the n-grams×corpus
    # blowup the r9 lesson bans. A caller holding a session-staged
    # spine (already checkpointed) passes it via ``emitted``.
    if emitted is None:
        emitted = mixture_execute(corpus, plan=plan).localCheckpoint()
    if plan is None:
        plan = _mixture_plan(corpus, MIX_TEMPERATURE, MIX_MAX_EPOCHS)
    plan = plan.select(
        "source", "epochs", F.col("n_tokens").alias("n_tokens_src")
    )
    src = (
        emitted.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
        .join(F.broadcast(plan), "source")
        .select(
            F.lit("source").alias("section"),
            F.col("source").alias("key"),
            "n_units",
            "n_tokens",
            # identical expression to mixture_report's fill_rate
            F.round(
                F.try_divide(
                    F.col("n_tokens"),
                    F.col("epochs") * F.col("n_tokens_src"),
                ),
                4,
            ).alias("metric"),
        )
    )
    hashed = emitted.select(
        "doc_id",
        "copy",
        F.col("n_toks").alias("_t"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"RL{SEED_SEP}"),
                        F.col("doc_id").cast("string"),
                        F.lit("#"),
                        F.col("copy").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint").alias("_h"),
    )
    cum = two_pass_running_sum(
        hashed,
        [F.col("_h"), F.col("doc_id"), F.col("copy")],
        "_t",
        out_col="_cin",
    )
    total = hashed.agg(F.sum("_t").alias("_tot"))
    shard = (
        cum.crossJoin(F.broadcast(total))
        .withColumn(
            "_target",
            F.ceil(F.col("_tot") / F.lit(RELEASE_SHARDS)).cast("bigint"),
        )
        .withColumn(
            "_shard",
            F.floor(
                (F.col("_cin") - F.col("_t")) / F.col("_target")
            ).cast("int"),
        )
        .groupBy("_shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            F.sum("_t").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("_t") / F.first("_target").cast("double"), 4
            ).alias("metric"),
        )
        .select(
            F.lit("shard").alias("section"),
            F.col("_shard").cast("string").alias("key"),
            "n_units",
            "n_tokens",
            "metric",
        )
    )

    percopy = (
        emitted.select("doc_id", F.col("n_toks").alias("_t"), "copy")
        .groupBy("doc_id", "_t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    if quality is None:
        quality = quality_score(corpus.select("doc_id", "text")).select(
            "doc_id", "quality"
        )
    q = quality.select(
        "doc_id",
        F.round(F.col("quality") * 1_000_000)
        .cast("bigint")
        .alias("_qm"),
    )
    ranked = two_pass_rank(
        percopy.join(q, "doc_id"),
        [F.col("_qm"), F.col("doc_id")],
        out_col="_rank",
    )
    totn = ranked.agg(F.max("_rank").alias("_n"))
    stage = (
        ranked.crossJoin(F.broadcast(totn))
        .withColumn(
            "stage",
            ntile_from_rank(F.col("_rank"), F.col("_n"), RELEASE_STAGES),
        )
        .groupBy("stage")
        .agg(
            F.sum("_c").cast("bigint").alias("n_units"),
            F.sum(F.col("_c") * F.col("_t"))
            .cast("bigint")
            .alias("n_tokens"),
            F.sum(F.col("_qm") * F.col("_c")).alias("_qms"),
        )
        .select(
            F.lit("stage").alias("section"),
            F.col("stage").cast("string").alias("key"),
            "n_units",
            "n_tokens",
            F.round(
                F.col("_qms") / 1_000_000.0 / F.col("n_units"), 6
            ).alias("metric"),
        )
    )

    if leakage is None:
        leakage = split_leakage(corpus.select("doc_id", "text"))
    gate = leakage.select(
        F.lit("gate").alias("section"),
        F.lit("split_leakage").alias("key"),
        F.col("n_leaked_val").alias("n_units"),
        F.col("max_shared_grams").alias("n_tokens"),
        F.col("leak_rate").alias("metric"),
    )

    return (
        src.unionByName(shard).unionByName(stage).unionByName(gate)
    )


def sql_corpus_release(corpus_sql: str) -> str:
    rep = sql_mixture_report(corpus_sql)
    em = sql_mixture_emitted(corpus_sql)
    q = sql_quality_score(f"SELECT doc_id, text FROM ({corpus_sql})")
    leak = sql_split_leakage(
        f"SELECT doc_id, text FROM ({corpus_sql})"
    )
    # column is named cp (COPY is a DuckDB statement keyword); the hash
    # input string is identical to the Spark side's, so names don't
    # matter for parity
    h = (
        f"CAST('0x' || substr(md5('RL{SEED_SEP}' || "
        f"CAST(doc_id AS VARCHAR) || '#' || CAST(cp AS VARCHAR)), "
        f"1, 15) AS BIGINT)"
    )
    return f"""
    WITH em AS ({em}),
    copies AS (
      SELECT doc_id, t, unnest(generate_series(1, n_copies)) AS cp
      FROM em WHERE n_copies > 0
    ),
    shard_tot AS (
      SELECT CAST(ceil(CAST(sum(t) AS DOUBLE) / {RELEASE_SHARDS}) AS BIGINT)
               AS target
      FROM copies
    ),
    shard_cum AS (
      SELECT t, coalesce(sum(t) OVER (ORDER BY {h}, doc_id, cp
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cex
      FROM copies
    ),
    shard AS (
      SELECT 'shard' AS section,
             CAST(CAST(floor(CAST(cex AS DOUBLE) / target) AS INTEGER)
                  AS VARCHAR) AS key,
             CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(t) AS BIGINT) AS n_tokens,
             round(CAST(sum(t) AS DOUBLE) / target, 4) AS metric
      FROM shard_cum CROSS JOIN shard_tot
      GROUP BY 2, target
    ),
    qual AS ({q}),
    aq AS (
      SELECT e.doc_id, e.t, e.n_copies,
             CAST(round(qual.quality * 1000000) AS BIGINT) AS qm
      FROM em e JOIN qual USING (doc_id)
      WHERE e.n_copies > 0
    ),
    staged AS (
      SELECT *, CAST(ntile({RELEASE_STAGES}) OVER (ORDER BY qm, doc_id)
                     AS INTEGER) AS stage
      FROM aq
    ),
    stage AS (
      SELECT 'stage' AS section, CAST(stage AS VARCHAR) AS key,
             CAST(sum(n_copies) AS BIGINT) AS n_units,
             CAST(sum(n_copies * t) AS BIGINT) AS n_tokens,
             round(CAST(sum(qm * n_copies) AS DOUBLE) / 1000000.0
                   / sum(n_copies), 6) AS metric
      FROM staged GROUP BY 2
    ),
    src AS (
      SELECT 'source' AS section, source AS key,
             n_rows_emitted AS n_units, emitted_tokens AS n_tokens,
             fill_rate AS metric
      FROM ({rep})
    ),
    gate AS (
      SELECT 'gate' AS section, 'split_leakage' AS key,
             n_leaked_val AS n_units, max_shared_grams AS n_tokens,
             leak_rate AS metric
      FROM ({leak})
    )
    SELECT * FROM src UNION ALL SELECT * FROM shard
    UNION ALL SELECT * FROM stage UNION ALL SELECT * FROM gate
    """


# --------------------------------------------------------------------------
# DSIR EXECUTE (round 11) — the sampler behind text_dsir_weights, the
# same diagnostic→executor promotion mixture_execute gave
# temperature_mixture: dsir_weights scores every doc by the
# target-vs-raw hashed-bigram log-likelihood ratio (Xie et al. 2023);
# this DRAWS the importance-weighted sample. Gumbel top-k — score =
# weight + Gumbel(u), u from the portable md5 top-60-bit fraction of
# doc_id — is the exact weighted-sampling-without-replacement scheme
# (equivalent to A-ES, the weighted_sample precedent) with no RNG
# state, so the drawn sample is reproducible and oracle-checkable.
# The receipt aggregates FROM the materialized sample, per language:
# the selection-pressure proof is mean_weight_sampled ≫
# mean_weight_all and the target domain (en) oversampled.
#
# 100 TB shape: weights are the dsir_weights pipeline (hash-bucketed
# bigram partial aggregation, broadcast 10k-bucket LM); the top-n is
# the salted two-stage rank (stage 1 ranks within 16 hash salts so no
# task ever sorts the corpus; stage 2's global window sees ≤ 16·n
# survivor rows — the documented bounded escape hatch). The receipt is
# |langs| rows.
# --------------------------------------------------------------------------

DSIR_SAMPLE_N = 100


def dsir_execute(corpus: DataFrame) -> DataFrame:
    """(lang, n_docs, n_sampled, sample_rate, mean_weight_all,
    mean_weight_sampled) after drawing the global Gumbel-top-n
    importance sample; ``corpus`` must carry (doc_id, text, lang).
    n_docs counts the eligible pool (docs with ≥1 bigram)."""
    w = dsir_weights(corpus)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"DX{SEED_SEP}"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(16**15))
    )
    # the DSIR sampling weight is the per-doc SUM of bigram
    # log-ratios (avg · n_bigrams) — the mean alone is O(1e-3) and
    # Gumbel noise would drown the selection pressure entirely
    doc_w = F.col("dsir_weight") * F.col("n_bigrams")
    scored = w.join(corpus.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "doc_id",
        F.round(doc_w * 1_000_000).cast("bigint").alias("_wm"),
        F.round(doc_w - F.log(-F.log(u)), 12).alias("_score"),
    )
    # Gumbel-top-n via orderBy+limit: TakeOrderedAndProject keeps
    # per-partition top-n partials — no corpus-wide sort, no WindowExec
    # (round 14: replaces the salted two-stage rank, same rows)
    sampled = scored.orderBy(F.col("_score").desc(), "doc_id").limit(
        DSIR_SAMPLE_N
    )
    alla = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_wm").alias("_wa"),
    )
    smp = sampled.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("_ns"),
        F.sum("_wm").alias("_ws"),
    )
    return alla.join(smp, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce("_ns", F.lit(0)).cast("bigint").alias("n_sampled"),
        F.round(
            F.coalesce("_ns", F.lit(0)) / F.col("n_docs"), 6
        ).alias("sample_rate"),
        F.round(F.col("_wa") / 1_000_000.0 / F.col("n_docs"), 6).alias(
            "mean_weight_all"
        ),
        F.round(
            F.try_divide(F.col("_ws") / 1_000_000.0, F.col("_ns")), 6
        ).alias("mean_weight_sampled"),
    )


def sql_dsir_execute(corpus_sql: str) -> str:
    weights = sql_dsir_weights(corpus_sql)
    u = (
        f"CAST('0x' || substr(md5('DX{SEED_SEP}' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) "
        f"/ {float(16**15)!r}"
    )
    return f"""
    WITH w AS ({weights}),
    scored AS (
      SELECT c.lang, w.doc_id,
             CAST(round(w.dsir_weight * w.n_bigrams * 1000000)
                  AS BIGINT) AS wm,
             round(w.dsir_weight * w.n_bigrams - ln(-ln({u})), 12)
               AS score
      FROM w JOIN ({corpus_sql}) c USING (doc_id)
    ),
    samp AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
                 AS rk
        FROM scored
      ) WHERE rk <= {DSIR_SAMPLE_N}
    ),
    a AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, sum(wm) AS wa
      FROM scored GROUP BY 1
    ),
    s AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS ns, sum(wm) AS ws
      FROM samp GROUP BY 1
    )
    SELECT a.lang, a.n_docs,
           CAST(coalesce(s.ns, 0) AS BIGINT) AS n_sampled,
           round(CAST(coalesce(s.ns, 0) AS DOUBLE) / a.n_docs, 6)
             AS sample_rate,
           round(CAST(a.wa AS DOUBLE) / 1000000.0 / a.n_docs, 6)
             AS mean_weight_all,
           round(CAST(s.ws AS DOUBLE) / 1000000.0 / s.ns, 6)
             AS mean_weight_sampled
    FROM a LEFT JOIN s USING (lang)
    """


# --------------------------------------------------------------------------
# Fixed-budget token allocation under epoch caps (round 12) — the
# missing half of temperature_mixture: that plan caps each source at
# MAX_EPOCHS and simply UNDER-FILLS when the cap binds (achieved_share
# < temp_share, the budget shortfall is dropped on the floor). A real
# data-constrained training run has a FIXED token budget B and must
# redistribute what capped sources cannot absorb to the sources that
# still have headroom — the waterfall every published mixing recipe
# (epoch-capped temperature sampling) actually runs. Deterministic
# unrolled waterfall, no iteration-to-convergence: each pass assigns
# uncapped sources budget ∝ their temperature weight, moves sources
# that would exceed cap·supply onto the cap, and re-offers the
# remainder; with monotone cap sets, |passes| needed ≤ |sources|, and
# three passes are exact unless three separate cap frontiers bind in
# sequence — the receipt carries the residual (`unallocated_tokens`)
# so an inexact fill is visible, never silent.
#
# 100 TB shape: one hash aggregation to (source, Σtokens) — map-side
# partial, |sources| cells — then pure arithmetic over the bounded
# per-source frame with broadcast 1-row totals per pass (3 passes = 3
# tiny agg+crossJoin rounds, no corpus re-scan).
# --------------------------------------------------------------------------

# B = 1.45 × total corpus tokens with a 1.5-epoch repetition ceiling:
# chosen so the cap frontier BINDS on the long-tail sources in the
# near-uniform testbed (epochs_raw spans ~1.36–1.59 at these knobs) and
# the redistribution passes are genuinely exercised — with the
# temperature_mixture defaults (cap 4.0) every source sits far under
# cap and the waterfall would be dead code in every test run.
BUDGET_EPOCHS = 1.45
BUDGET_MAX_EPOCHS = 1.5


def _budget_pass(plan: DataFrame, budget_col: str) -> DataFrame:
    """One waterfall pass: offer each UNCAPPED source its weight share
    of the remaining budget on top of its current allocation; sources
    that would exceed cap·supply land ON the cap. ``plan`` carries
    (source, n_tokens, _w, _cap, _alloc, _capped)."""
    rem = plan.agg(
        (F.first(budget_col) - F.sum("_alloc")).alias("_rem"),
        F.sum(F.when(~F.col("_capped"), F.col("_w"))).alias("_wu"),
    )
    offered = F.when(
        F.col("_capped") | F.col("_wu").isNull(), F.col("_alloc")
    ).otherwise(
        F.col("_alloc") + F.col("_rem") * F.col("_w") / F.col("_wu")
    )
    return (
        plan.crossJoin(F.broadcast(rem))
        .withColumn("_offer", offered)
        .withColumn(
            "_alloc",
            F.when(F.col("_offer") > F.col("_cap"), F.col("_cap")).otherwise(
                F.col("_offer")
            ),
        )
        .withColumn(
            "_capped", F.col("_capped") | (F.col("_offer") > F.col("_cap"))
        )
        .drop("_rem", "_wu", "_offer")
    )


def token_budget(corpus: DataFrame) -> DataFrame:
    """(source, n_tokens, temp_share, alloc_tokens, epochs, cap_bound,
    budget_share, unallocated_tokens): per-source allocation of the
    fixed budget B = BUDGET_EPOCHS · Σtokens, weights ∝ tokens^(1/τ),
    each source capped at BUDGET_MAX_EPOCHS · tokens, capped sources'
    excess re-offered to the rest (3-pass waterfall). ``corpus`` must
    carry (text, source)."""
    toks = (
        corpus.select(
            "source", F.expr(_N_TOKS_SPARK).cast("bigint").alias("_t")
        )
        .groupBy("source")
        .agg(F.sum("_t").alias("n_tokens"))
    )
    powed = toks.withColumn(
        "_p",
        F.pow(F.col("n_tokens").cast("double"), F.lit(1.0 / MIX_TEMPERATURE)),
    )
    totals = powed.agg(
        F.sum("n_tokens").cast("double").alias("_tot"),
        F.sum("_p").alias("_ptot"),
    )
    plan = (
        powed.crossJoin(F.broadcast(totals))
        .withColumn("_w", F.col("_p") / F.col("_ptot"))
        .withColumn("_b", F.col("_tot") * F.lit(float(BUDGET_EPOCHS)))
        .withColumn(
            "_cap",
            F.col("n_tokens").cast("double") * F.lit(float(BUDGET_MAX_EPOCHS)),
        )
        .withColumn("_alloc", F.lit(0.0))
        .withColumn("_capped", F.lit(False))
        .select(
            "source", "n_tokens", "_w", "_b", "_cap", "_alloc", "_capped"
        )
        # materialize the |sources|-row frame ONCE: each pass references
        # its input twice (the remaining-budget agg + the join), so an
        # unmaterialized lineage doubles per pass — 2^3 corpus re-scans
        # and a 63-exchange plan, measured before this checkpoint.
        .localCheckpoint()
    )
    for _ in range(3):
        # checkpoint per pass: tiny frame, keeps the tree linear
        plan = _budget_pass(plan, "_b").localCheckpoint()
    # + 0.0 normalizes IEEE -0.0 to +0.0 (repr parity across engines)
    resid = plan.agg(
        (F.round(F.first("_b") - F.sum("_alloc"), 3) + F.lit(0.0)).alias(
            "_resid"
        )
    )
    return (
        plan.crossJoin(F.broadcast(resid))
        .select(
            "source",
            "n_tokens",
            F.round(F.col("_w"), 6).alias("temp_share"),
            F.round(F.col("_alloc"), 3).alias("alloc_tokens"),
            F.round(
                F.col("_alloc") / F.col("n_tokens").cast("double"), 6
            ).alias("epochs"),
            F.col("_capped").alias("cap_bound"),
            F.round(F.col("_alloc") / F.col("_b"), 6).alias(
                "budget_share"
            ),
            F.col("_resid").alias("unallocated_tokens"),
        )
    )


def sql_token_budget(corpus_sql: str) -> str:
    inv_t = repr(1.0 / MIX_TEMPERATURE)
    be = repr(float(BUDGET_EPOCHS))
    me = repr(float(BUDGET_MAX_EPOCHS))
    # unrolled 3-pass waterfall, one CTE pair per pass (rem_k, p_k)
    passes = []
    prev = "p0"
    for k in (1, 2, 3):
        passes.append(
            f"""
    rem{k} AS (
      SELECT any_value(b) - sum(alloc) AS rem,
             sum(CASE WHEN NOT capped THEN w END) AS wu
      FROM {prev}
    ),
    p{k} AS (
      SELECT source, n_tokens, w, b, cap,
             CASE WHEN offer > cap THEN cap ELSE offer END AS alloc,
             capped OR offer > cap AS capped
      FROM (
        SELECT p.*,
               CASE WHEN p.capped OR r.wu IS NULL THEN p.alloc
                    ELSE p.alloc + r.rem * p.w / r.wu END AS offer
        FROM {prev} p CROSS JOIN rem{k} r
      )
    )"""
        )
        prev = f"p{k}"
    return f"""
    WITH toks AS (
      SELECT source, CAST(sum({_N_TOKS_DUCK}) AS BIGINT) AS n_tokens
      FROM ({corpus_sql}) GROUP BY 1
    ),
    powed AS (
      SELECT *, pow(CAST(n_tokens AS DOUBLE), {inv_t}) AS p FROM toks
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS DOUBLE) AS t, sum(p) AS ptot
      FROM powed
    ),
    p0 AS (
      SELECT source, n_tokens, p / ptot AS w, t * {be} AS b,
             CAST(n_tokens AS DOUBLE) * {me} AS cap,
             0.0 AS alloc, FALSE AS capped
      FROM powed CROSS JOIN tot
    ),{",".join(passes)},
    resid AS (
      SELECT round(any_value(b) - sum(alloc), 3) + 0.0 AS resid FROM p3
    )
    SELECT source, n_tokens,
           round(w, 6) AS temp_share,
           round(alloc, 3) AS alloc_tokens,
           round(alloc / CAST(n_tokens AS DOUBLE), 6) AS epochs,
           capped AS cap_bound,
           round(alloc / b, 6) AS budget_share,
           resid AS unallocated_tokens
    FROM p3 CROSS JOIN resid
    """


# --------------------------------------------------------------------------
# K-fold split balance audit (round 12) — the ablation-infrastructure
# sibling of train_val_split (2-way leakage) and split_leakage: a
# deterministic md5 hash assigns every document to one of K folds, and
# the receipt answers "are the folds exchangeable?" — per-fold volume
# (docs, tokens) plus the fold×source contingency fit: chi² against
# the independence expectation and the worst per-source composition
# deviation. A fold whose source mix drifts from the corpus makes every
# ablation trained on it confounded; this is the check run before
# trusting K-fold data ablations.
#
# χ² per fold uses the present-cells identity Σ(obs−exp)²/exp =
# (N/n_f)·Σ obs²/n_s − n_f, but the worst-deviation max must also see
# ABSENT (fold, source) cells (deviation n_s/N), so the rollup runs on
# the full K×|sources| spine (bounded, broadcast).
#
# 100 TB shape: one scan to (fold, source) cells — map-side partial,
# K·|sources| cells — then arithmetic over the bounded spine; the fold
# hash is one md5 per row inside the scan stage.
# --------------------------------------------------------------------------

FOLD_K = 5


def fold_balance(corpus: DataFrame) -> DataFrame:
    """(fold, n_docs, n_tokens, doc_share, chi2, max_src_dev): per-fold
    balance receipt over the md5(doc_id) fold assignment. ``corpus``
    must carry (doc_id, text, source)."""
    fold = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"FB{SEED_SEP}"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(FOLD_K),
    )
    assigned = corpus.select(
        fold.alias("fold"),
        "source",
        F.expr(_N_TOKS_SPARK).cast("bigint").alias("_t"),
    )
    # the K×|sources| cell frame feeds FOUR consumers (src totals, the
    # spine, the per-fold rollup, the deviation pass) — materialize it
    # once so the corpus aggregates exactly one time
    cells = assigned.groupBy("fold", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("_obs"),
        F.sum("_t").alias("_tok"),
    ).localCheckpoint()
    src = cells.groupBy("source").agg(F.sum("_obs").alias("_ns"))
    tot = src.agg(F.sum("_ns").cast("double").alias("_n"))
    spine = (
        assigned.sparkSession.range(FOLD_K)
        .select(F.col("id").cast("bigint").alias("fold"))
        .crossJoin(F.broadcast(src))
    )
    full = (
        spine.join(cells, ["fold", "source"], "left")
        .withColumn("_obs", F.coalesce("_obs", F.lit(0)))
        .withColumn("_tok", F.coalesce("_tok", F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    per_fold = full.groupBy("fold").agg(
        F.sum("_obs").cast("bigint").alias("n_docs"),
        F.sum("_tok").cast("bigint").alias("n_tokens"),
        F.first("_n").alias("_n"),
        F.sum(
            F.col("_obs").cast("double") * F.col("_obs") / F.col("_ns")
        ).alias("_o2"),
    )
    fold_tot = full.groupBy("fold").agg(
        F.sum("_obs").cast("double").alias("_nf")
    )
    devs = (
        full.join(fold_tot, "fold")
        .withColumn(
            "_dev",
            F.when(F.col("_nf") == 0, F.lit(None)).otherwise(
                F.abs(
                    F.try_divide(
                        F.col("_obs").cast("double"), F.col("_nf")
                    )
                    - F.col("_ns") / F.col("_n")
                )
            ),
        )
        .groupBy("fold")
        .agg(F.max("_dev").alias("_maxdev"))
    )
    return (
        per_fold.join(fold_tot, "fold")
        .join(devs, "fold")
        .select(
            F.col("fold").cast("int").alias("fold"),
            "n_docs",
            "n_tokens",
            F.round(F.col("_nf") / F.col("_n"), 6).alias("doc_share"),
            F.round(
                F.when(F.col("_nf") == 0, F.lit(None)).otherwise(
                    F.col("_n") / F.col("_nf") * F.col("_o2")
                    - F.col("_nf")
                ),
                6,
            ).alias("chi2"),
            F.round(F.col("_maxdev"), 6).alias("max_src_dev"),
        )
    )


def sql_fold_balance(corpus_sql: str) -> str:
    fold = (
        f"CAST('0x' || substr(md5('FB{SEED_SEP}' || "
        f"CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % {FOLD_K}"
    )
    return f"""
    WITH assigned AS (
      SELECT {fold} AS fold, source,
             CAST({_N_TOKS_DUCK} AS BIGINT) AS t
      FROM ({corpus_sql})
    ),
    cells AS (
      SELECT fold, source, CAST(count(*) AS BIGINT) AS obs,
             sum(t) AS tok
      FROM assigned GROUP BY 1, 2
    ),
    src AS (SELECT source, sum(obs) AS ns FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(ns) AS DOUBLE) AS n FROM src),
    spine AS (
      SELECT f.fold, s.source, s.ns
      FROM (SELECT CAST(unnest(generate_series(0, {FOLD_K - 1})) AS BIGINT)
                   AS fold) f
      CROSS JOIN src s
    ),
    full_cells AS (
      SELECT sp.fold, sp.source, sp.ns,
             coalesce(c.obs, 0) AS obs, coalesce(c.tok, 0) AS tok
      FROM spine sp LEFT JOIN cells c USING (fold, source)
    ),
    ft AS (
      SELECT fold, CAST(sum(obs) AS DOUBLE) AS nf FROM full_cells
      GROUP BY 1
    )
    SELECT CAST(fc.fold AS INTEGER) AS fold,
           CAST(sum(fc.obs) AS BIGINT) AS n_docs,
           CAST(sum(fc.tok) AS BIGINT) AS n_tokens,
           round(any_value(ft.nf) / any_value(t.n), 6) AS doc_share,
           round(CASE WHEN any_value(ft.nf) = 0 THEN NULL
                 ELSE any_value(t.n) / any_value(ft.nf)
                      * sum(CAST(fc.obs AS DOUBLE) * fc.obs / fc.ns)
                      - any_value(ft.nf) END, 6) AS chi2,
           round(max(CASE WHEN ft.nf = 0 THEN NULL
                     ELSE abs(CAST(fc.obs AS DOUBLE) / ft.nf
                              - fc.ns / t.n) END), 6) AS max_src_dev
    FROM full_cells fc
    JOIN ft USING (fold)
    CROSS JOIN tot t
    GROUP BY fc.fold
    """


# --------------------------------------------------------------------------
# Training read-order shuffle audit (round 12) — dataloader hygiene:
# a pretraining loader reads the corpus in a deterministic shuffled
# order (hash order within hash-assigned blocks — the block-shuffle
# every sharded loader actually implements, because a single global
# permutation of 100 TB is unbuildable). If consecutive reads cluster
# by source, gradient batches are serially correlated and loss curves
# go wavy; the receipt measures per-source adjacency in the PLANNED
# read order against the well-shuffled expectation (P(next is same
# source) = p_s) and reports the lift. Lift ≈ 1 everywhere is the
# green light; lift >> 1 on a source means the hash/block scheme is
# leaking arrival locality into training order.
#
# 100 TB shape: block count SCALES with the corpus (⌈n/BLOCK_TARGET⌉,
# counted in one map-side aggregate) so the per-block ordered window
# is bounded at ~BLOCK_TARGET rows regardless of corpus size — never
# a few-huge-groups window; one md5 per row inside the scan; the pair
# stream aggregates map-side to |sources| cells.
# --------------------------------------------------------------------------

SHUFFLE_BLOCK_TARGET = 512  # docs per loader block


def shuffle_quality(corpus: DataFrame) -> DataFrame:
    """(source, n_docs, n_pairs, n_adj_same, adj_rate, expected_rate,
    lift): per-source adjacency audit of the planned block-shuffled
    read order. ``corpus`` must carry (doc_id, source)."""
    n = corpus.agg(
        F.ceil(
            F.count(F.lit(1)).cast("double")
            / F.lit(float(SHUFFLE_BLOCK_TARGET))
        ).alias("_nb"),
        F.count(F.lit(1)).cast("double").alias("_n"),
    )
    h = F.md5(
        F.concat(F.lit(f"SH{SEED_SEP}"), F.col("doc_id").cast("string"))
    )
    keyed = (
        corpus.crossJoin(F.broadcast(n))
        .select(
            "source",
            "doc_id",
            "_n",
            h.alias("_h"),
            F.pmod(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"),
                F.col("_nb"),
            ).alias("_block"),
        )
    )
    w = Window.partitionBy("_block").orderBy("_h", "doc_id")
    pairs = keyed.withColumn(
        "_prev", F.lag("source").over(w)
    ).filter(F.col("_prev").isNotNull())
    per_src = pairs.groupBy(F.col("_prev").alias("source")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("_prev") == F.col("source"), 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_adj_same"),
    )
    base = keyed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.first("_n").alias("_n"),
    )
    rate = F.try_divide(
        F.col("n_adj_same").cast("double"), F.col("n_pairs")
    )
    expected = F.col("n_docs").cast("double") / F.col("_n")
    return (
        base.join(per_src, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias(
                "n_pairs"
            ),
            F.coalesce("n_adj_same", F.lit(0)).cast("bigint").alias(
                "n_adj_same"
            ),
            F.round(rate, 6).alias("adj_rate"),
            F.round(expected, 6).alias("expected_rate"),
            F.round(F.try_divide(rate, expected), 6).alias("lift"),
        )
    )


def sql_shuffle_quality(corpus_sql: str) -> str:
    h = f"md5('SH{SEED_SEP}' || CAST(doc_id AS VARCHAR))"
    return f"""
    WITH n AS (
      SELECT ceil(CAST(count(*) AS DOUBLE) / {float(SHUFFLE_BLOCK_TARGET)!r})
               AS nb,
             CAST(count(*) AS DOUBLE) AS n
      FROM ({corpus_sql})
    ),
    keyed AS (
      SELECT source, doc_id, {h} AS h,
             CAST('0x' || substr({h}, 1, 8) AS BIGINT)
               % CAST(nb AS BIGINT) AS block
      FROM ({corpus_sql}) CROSS JOIN n
    ),
    pairs AS (
      SELECT lag(source) OVER (PARTITION BY block ORDER BY h, doc_id)
               AS prev, source
      FROM keyed
    ),
    per_src AS (
      SELECT prev AS source, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(coalesce(sum(CASE WHEN prev = source THEN 1 END), 0)
                  AS BIGINT) AS n_adj_same
      FROM pairs WHERE prev IS NOT NULL GROUP BY 1
    ),
    base AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM keyed GROUP BY 1
    )
    SELECT b.source, b.n_docs,
           CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(p.n_adj_same, 0) AS BIGINT) AS n_adj_same,
           round(CAST(p.n_adj_same AS DOUBLE) / p.n_pairs, 6)
             AS adj_rate,
           round(b.n_docs / n.n, 6) AS expected_rate,
           round(CAST(p.n_adj_same AS DOUBLE) / p.n_pairs
                 / (b.n_docs / n.n), 6) AS lift
    FROM base b LEFT JOIN per_src p USING (source) CROSS JOIN n
    """


# --------------------------------------------------------------------------
# Bloom-filter decontamination pre-filter (round 14) — the map-side
# form of the benchmark-overlap check: at 100 TB you do NOT join every
# corpus gram against the eval gram set first; you broadcast a Bloom
# bitmask of the eval grams (kilobytes, not the gram strings) and test
# each corpus gram with K O(1) bit probes inside the scan, then run
# the exact (expensive, broadcast-join) confirmation ONLY on the
# candidate docs. This operator is the METROLOGY for that design: it
# runs both arms over the whole train slice and reports, per source,
# how many docs the bloom would have surfaced vs the exact truth —
# the false-positive cost of the cheap pass (bloom FPs waste exact-arm
# work; false negatives are impossible by construction, which the
# pytest asserts).
#
# The bloom is built with EXPLICIT double hashing (h1 + i*h2 over the
# md5 hex of the gram, 32-bit words so no engine overflows a shift) so
# the DuckDB oracle reproduces the exact same bitmask — a native
# engine bloom would not be cross-engine testable.
# --------------------------------------------------------------------------

BLOOM_M = 4096  # bits
BLOOM_K = 3  # probes per gram
_BLOOM_WORD = 32  # word width: shifts stay <= 31 (DuckDB 1<<63 throws)


def _bloom_pos_spark(i: int) -> str:
    """SQL expr: probe i's bit position for column ``gram``."""
    h1 = "cast(conv(substring(md5(gram), 1, 8), 16, 10) as bigint)"
    h2 = (
        "(cast(conv(substring(md5(gram), 9, 8), 16, 10) as bigint)"
        " * 2 + 1)"
    )
    return f"pmod({h1} + {i} * {h2}, {BLOOM_M})"


def _bloom_pos_duck(i: int) -> str:
    h1 = "(('0x' || substr(md5(gram), 1, 8))::BIGINT)"
    h2 = "((('0x' || substr(md5(gram), 9, 8))::BIGINT) * 2 + 1)"
    return f"(({h1} + {i} * {h2}) % {BLOOM_M})"


def bloom_decontaminate(corpus: DataFrame) -> DataFrame:
    """(source, n_train_docs, n_candidate_docs, n_exact_docs,
    n_fp_docs, fp_rate) — bloom-candidate vs exact benchmark-overlap
    docs per source. ``corpus`` carries (doc_id, text, source)."""
    nwords = BLOOM_M // _BLOOM_WORD
    src = corpus.select("doc_id", "source")
    grams = gram_stream(spread_for_compute(corpus.select("doc_id", "text")))
    bench = (
        grams.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("gram")
        .distinct()
        # bounded (the 1% slice's distinct grams) and consumed twice —
        # the bloom build AND the exact arm's broadcast join; the lazy
        # checkpoint evaluates the slice fan-out once
        .localCheckpoint(eager=False)
    )
    # bitmask: nwords 32-bit words as an ordered array in a 1-row
    # frame (the broadcastable form of the production bitset)
    bits = bench.select(
        F.explode(
            F.array(
                *[F.expr(_bloom_pos_spark(i)) for i in range(BLOOM_K)]
            )
        ).alias("p")
    )
    words = bits.groupBy(
        F.expr(f"p DIV {_BLOOM_WORD}").alias("idx")
    ).agg(
        F.expr(
            f"bit_or(shiftleft(1L, cast(p % {_BLOOM_WORD} as int)))"
        ).alias("w")
    )
    spine = corpus.sparkSession.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(nwords - 1))).alias("idx")
    )
    mask = (
        spine.join(F.broadcast(words), "idx", "left")
        .select(F.struct("idx", F.coalesce("w", F.lit(0)).alias("w")).alias("s"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list("s")), lambda s: s["w"]
            ).alias("mask")
        )
    )
    probe = " AND ".join(
        f"(shiftright(element_at(mask, cast(({_bloom_pos_spark(i)})"
        f" DIV {_BLOOM_WORD} as int) + 1),"
        f" cast(({_bloom_pos_spark(i)}) % {_BLOOM_WORD} as int))"
        f" & 1) = 1"
        for i in range(BLOOM_K)
    )
    train = grams.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    flagged = (
        train.crossJoin(F.broadcast(mask))
        .withColumn("cand", F.expr(probe))
        .join(
            F.broadcast(bench.withColumn("_hit", F.lit(True))),
            "gram",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.max("cand").alias("cand"),
            F.max(F.coalesce("_hit", F.lit(False))).alias("exact"),
        )
    )
    per = flagged.join(src, "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train_docs"),
        F.sum(F.col("cand").cast("long"))
        .cast("bigint")
        .alias("n_candidate_docs"),
        F.sum(F.col("exact").cast("long"))
        .cast("bigint")
        .alias("n_exact_docs"),
        F.sum((F.col("cand") & ~F.col("exact")).cast("long"))
        .cast("bigint")
        .alias("n_fp_docs"),
    )
    return per.select(
        "source",
        "n_train_docs",
        "n_candidate_docs",
        "n_exact_docs",
        "n_fp_docs",
        F.round(
            F.try_divide(
                F.col("n_fp_docs").cast("double"),
                (F.col("n_train_docs") - F.col("n_exact_docs")).cast(
                    "double"
                ),
            ),
            6,
        ).alias("fp_rate"),
    )


def sql_bloom_decontaminate(corpus_sql: str) -> str:
    nwords = BLOOM_M // _BLOOM_WORD
    grams = sql_word_grams("w", DECON_NGRAM)
    pos = [_bloom_pos_duck(i) for i in range(BLOOM_K)]
    probe = " AND ".join(
        f"((m.mask[CAST({p} // {_BLOOM_WORD} AS INT) + 1]"
        f" >> CAST({p} % {_BLOOM_WORD} AS INT)) & 1) = 1"
        for p in pos
    )
    return f"""
    WITH tok AS (SELECT doc_id, {SQL_WORDS} AS w FROM ({corpus_sql})),
    e AS (SELECT doc_id, unnest({grams}) AS gram FROM tok),
    bench AS (SELECT DISTINCT gram FROM e
              WHERE doc_id % {DECON_BENCH_MOD} = 0),
    bpos AS (
      SELECT DISTINCT unnest([{", ".join(pos)}]) AS p FROM bench
    ),
    words AS (
      SELECT p // {_BLOOM_WORD} AS idx,
             bit_or(1::BIGINT << CAST(p % {_BLOOM_WORD} AS INT)) AS wd
      FROM bpos GROUP BY 1
    ),
    spine AS (SELECT unnest(generate_series(0, {nwords - 1})) AS idx),
    mask AS (
      SELECT list(coalesce(wd, 0) ORDER BY s.idx) AS mask
      FROM spine s LEFT JOIN words w ON w.idx = s.idx
    ),
    train AS (SELECT doc_id, gram FROM e
              WHERE doc_id % {DECON_BENCH_MOD} <> 0),
    perdoc AS (
      SELECT t.doc_id,
             bool_or({probe}) AS cand,
             bool_or(b.gram IS NOT NULL) AS ex
      FROM train t CROSS JOIN mask m
      LEFT JOIN bench b USING (gram)
      GROUP BY t.doc_id
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(coalesce(sum(CASE WHEN cand THEN 1 END), 0) AS BIGINT)
             AS n_candidate_docs,
           CAST(coalesce(sum(CASE WHEN ex THEN 1 END), 0) AS BIGINT)
             AS n_exact_docs,
           CAST(coalesce(sum(CASE WHEN cand AND NOT ex THEN 1 END), 0)
                AS BIGINT) AS n_fp_docs,
           round(CAST(coalesce(sum(CASE WHEN cand AND NOT ex THEN 1
                                    END), 0) AS DOUBLE)
                 / nullif(count(*) - coalesce(
                     sum(CASE WHEN ex THEN 1 END), 0), 0), 6)
             AS fp_rate
    FROM perdoc p JOIN ({corpus_sql}) d USING (doc_id)
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Watermark detection (round 14) — green-list z-score detection of
# LLM-watermarked text (Kirchenbauer et al., "A Watermark for Large
# Language Models", ICML 2023): a watermarking sampler biases each next
# token toward a pseudorandom "green" fraction γ of the vocabulary
# seeded by the previous token; a detector needs no model — it recounts
# each adjacent token pair's green membership from the same hash and
# one-sided z-tests the green fraction against γ. In a training-data
# pipeline this is the synthetic-text tripwire: run it per source and
# alarm on sources whose z distribution shifts right.
#
# Determinism/parity: green membership is the portable md5 hash32 of
# the (prev, cur) pair mod GREEN_MOD — identical in both engines; the
# per-doc pair walk is a higher-order transform/aggregate over the
# token array (JVM-side, no explode, no shuffle until the per-source
# rollup); per-source means aggregate EXACTLY by summing the per-doc
# statistics quantized to DECIMAL(18,6) (float row-sum order differs
# between engines; decimal sums do not).
#
# 100 TB shape: one corpus scan, all pair hashing inside the scan
# stage's codegen, one |sources|-group partial agg. γ and the z
# thresholds are designed-in constants, not fitted state.
# ---------------------------------------------------------------------------

WM_SEED = 77  # detector seed: hash32 seed for green membership
GREEN_MOD = 4  # green fraction gamma = 1/GREEN_MOD = 0.25
WM_GAMMA = 1.0 / GREEN_MOD


def _wm_green_spark(prev: str, cur: str) -> str:
    return (
        f"cast(conv(substring(md5(concat('{WM_SEED}§', {prev}, '§', {cur})),"
        f" 1, 8), 16, 10) as bigint) % {GREEN_MOD} = 0"
    )


def _wm_green_duck(prev: str, cur: str) -> str:
    return (
        f"CAST('0x' || substr(md5('{WM_SEED}§' || {prev} || '§' || {cur}),"
        f" 1, 8) AS BIGINT) % {GREEN_MOD} = 0"
    )


def watermark_detect(corpus: DataFrame) -> DataFrame:
    """Per-source green-list watermark audit over (doc_id, text,
    source): docs scored, z>2 / z>3 flag counts, mean green fraction
    and mean z (quantized-decimal exact means)."""
    n = F.expr(_N_TOKS_SPARK)
    # pair values bind as zip_with lambda VARIABLES (p, c): referencing
    # the split expression via element_at inside the lambda instead
    # re-tokenizes the document once per pair — O(tokens²) splits
    # (measured 6.6 s → 1.15 s at sf0.1)
    green = _wm_green_spark("p", "c")
    n_green = F.expr(
        f"aggregate(zip_with("
        f"slice({WORDS}, 1, size({WORDS}) - 1), "
        f"slice({WORDS}, 2, size({WORDS}) - 1), "
        f"(p, c) -> case when {green} then 1 else 0 end), "
        "0, (a, x) -> a + x)"
    )
    perdoc = corpus.select(
        "source",
        n.alias("_n"),
        F.when(n >= 2, n_green).otherwise(F.lit(0)).alias("_ng"),
    ).select(
        "source",
        (F.col("_n") - 1).alias("_np"),
        F.col("_ng").alias("_g"),
    )
    gf = F.col("_g").cast("double") / F.col("_np")
    z = (
        (gf - F.lit(WM_GAMMA))
        * F.sqrt(F.col("_np").cast("double"))
        / F.sqrt(F.lit(WM_GAMMA * (1.0 - WM_GAMMA)))
    )
    scored = perdoc.filter(F.col("_np") >= 1).select(
        "source",
        F.round(gf, 6).cast("decimal(18,6)").alias("_gf6"),
        F.round(z, 6).cast("decimal(18,6)").alias("_z6"),
    )
    rolled = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.coalesce(
            F.sum((F.col("_z6") > 2).cast("long")), F.lit(0)
        ).cast("bigint").alias("n_flagged_z2"),
        F.coalesce(
            F.sum((F.col("_z6") > 3).cast("long")), F.lit(0)
        ).cast("bigint").alias("n_flagged_z3"),
        F.sum("_gf6").alias("_sgf"),
        F.sum("_z6").alias("_sz"),
    )
    totals = corpus.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return totals.join(rolled, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_scored", F.lit(0)).cast("bigint").alias("n_scored"),
        F.coalesce("n_flagged_z2", F.lit(0)).cast("bigint").alias(
            "n_flagged_z2"
        ),
        F.coalesce("n_flagged_z3", F.lit(0)).cast("bigint").alias(
            "n_flagged_z3"
        ),
        F.round(
            F.col("_sgf").cast("double") / F.col("n_scored"), 6
        ).alias("avg_green_frac"),
        F.round(F.col("_sz").cast("double") / F.col("n_scored"), 6).alias(
            "avg_z"
        ),
    )


def sql_watermark_detect(corpus_sql: str) -> str:
    green = _wm_green_duck("toks[i - 1]", "toks[i]")
    return f"""
    WITH toked AS (
      SELECT source, {_N_TOKS_DUCK} AS n, {SQL_WORDS} AS toks
      FROM ({corpus_sql})
    ),
    perdoc AS (
      SELECT source, n - 1 AS np,
             CASE WHEN n >= 2 THEN coalesce(list_sum(list_transform(
               range(2, n + 1),
               i -> CASE WHEN {green} THEN 1 ELSE 0 END)), 0)
             ELSE 0 END AS g
      FROM toked
    ),
    scored AS (
      SELECT source,
             CAST(round(CAST(g AS DOUBLE) / np, 6) AS DECIMAL(18,6))
               AS gf6,
             CAST(round((CAST(g AS DOUBLE) / np - {WM_GAMMA!r})
                        * sqrt(CAST(np AS DOUBLE))
                        / sqrt({WM_GAMMA!r} * (1.0 - {WM_GAMMA!r})), 6)
                  AS DECIMAL(18,6)) AS z6
      FROM perdoc WHERE np >= 1
    ),
    rolled AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_scored,
             CAST(coalesce(sum(CASE WHEN z6 > 2 THEN 1 END), 0)
                  AS BIGINT) AS n_flagged_z2,
             CAST(coalesce(sum(CASE WHEN z6 > 3 THEN 1 END), 0)
                  AS BIGINT) AS n_flagged_z3,
             sum(gf6) AS sgf, sum(z6) AS sz
      FROM scored GROUP BY 1
    ),
    totals AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM ({corpus_sql}) GROUP BY 1
    )
    SELECT t.source, t.n_docs,
           CAST(coalesce(r.n_scored, 0) AS BIGINT) AS n_scored,
           CAST(coalesce(r.n_flagged_z2, 0) AS BIGINT) AS n_flagged_z2,
           CAST(coalesce(r.n_flagged_z3, 0) AS BIGINT) AS n_flagged_z3,
           round(CAST(r.sgf AS DOUBLE) / r.n_scored, 6)
             AS avg_green_frac,
           round(CAST(r.sz AS DOUBLE) / r.n_scored, 6) AS avg_z
    FROM totals t LEFT JOIN rolled r USING (source)
    """
