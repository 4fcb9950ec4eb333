"""[EXT] Deduplication operators for LLM-data pipelines (SURVEY.md §7 M7):
exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dedup — each as a
declarative DataFrame plan with a DuckDB twin for the oracle gate.

Cross-engine determinism: all hashing goes through the portable md5-based
``hash32`` (functions/hashing.py) — Spark's ``hash()``/``xxhash64`` and
DuckDB's ``hash()`` are different algorithms and can never hash-match.

Scale design:
- Exact dedup = hash-groupBy: one shuffle on the 32-hex digest, map-side
  partial agg; at 100 TB group keys are uniformly distributed (md5) so no
  skew.
- MinHash+LSH: one index per corpus (``minhash_index``: shingle set +
  k-int signature per doc), pinned once by the caller and read by every
  LSH operator; the candidate join shuffles on (band, band_key) — band
  keys are hashes, so uniform; est-Jaccard or exact-Jaccard verification
  happens on the distinct candidate pairs only (candidates ≪ n²). This
  is the textbook shuffle-safe near-dedup at scale; the O(n²)
  exact-Jaccard variant exists as the oracle-checkable baseline
  restricted to language blocks.
- SimHash: per-doc 32-bit fingerprint, candidates blocked on the high
  bits, hamming≤d verification via bit_count(xor).

The testbed ``documents`` corpus has no real near-dups (max pairwise
Jaccard ≈ 0.02), so the ``*_corpus`` helpers append deterministic exact
copies (doc_id+%(EXACT_MOD)s) and 80%%-prefix near-copies — identical
construction on both engines — to make every operator's output non-trivial.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hashing import (
    SEED_SEP,
    hash32,
    hash_frac,
    sql_hash32,
    sql_hash_frac,
)
from ..functions.text import (
    CASED_WORDS,
    SQL_CASED_WORDS,
    SQL_WORDS,
    WORDS,
    word_grams,
)

# Shared constants (Spark AND oracle SQL derive from these).
MINHASH_K = 16  # signature length
LSH_BANDS = 4  # bands × rows-per-band = K
LSH_ROWS = 4
NEAR_THRESHOLD = 0.5  # est-Jaccard cut for near-dup pairs
SHINGLE_N = 3  # word-shingle width
SIMHASH_BITS = 32
SIMHASH_BUCKET_SHIFT = 20  # block on high 12 bits
SIMHASH_MAX_HAMMING = 6
EXACT_COPY_MOD = 7  # every 7th doc gets an exact duplicate
NEAR_COPY_MOD = 5  # every 5th doc gets an 80%-prefix near-duplicate
EXACT_COPY_OFFSET = 100_000
NEAR_COPY_OFFSET = 200_000


from .util import spread_for_compute as _spread


# --------------------------------------------------------------------------
# Synthetic dup corpus (same construction both engines).
# --------------------------------------------------------------------------


def _copies(d: DataFrame) -> DataFrame:
    """The exact copies of every EXACT_COPY_MOD-th doc of ``d`` and the
    80%-prefix near copies of every NEAR_COPY_MOD-th, renumbered by
    their offsets — what ``dup_corpus`` adds and ``new_crawl`` re-crawls."""
    exact = d.filter(F.col("doc_id") % EXACT_COPY_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + EXACT_COPY_OFFSET
    )
    toks = F.expr(CASED_WORDS)
    # integer division on both engines (Spark `div` / DuckDB `//`) — a
    # float-divide + cast would round in DuckDB but truncate in Spark
    prefix = F.array_join(
        F.slice(
            toks,
            1,
            F.greatest(
                F.lit(1),
                F.expr(f"(size({CASED_WORDS}) * 4) div 5").cast("int"),
            ),
        ),
        " ",
    )
    near = (
        d.filter(F.col("doc_id") % NEAR_COPY_MOD == 0)
        .withColumn("doc_id", F.col("doc_id") + NEAR_COPY_OFFSET)
        .withColumn("text", prefix)
    )
    return exact.unionByName(near)


# the DuckDB twin of ``_copies``' near-copy text
_DUCK_NEAR_TEXT = (
    f"array_to_string(({SQL_CASED_WORDS})[1:greatest(1, "
    f"CAST((len({SQL_CASED_WORDS}) * 4) // 5 AS INTEGER))], ' ')"
)


def dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return d.unionByName(_copies(d))


def sql_dup_corpus() -> str:
    return f"""
    SELECT doc_id, text, lang FROM documents
    UNION ALL
    SELECT doc_id + {EXACT_COPY_OFFSET}, text, lang FROM documents
    WHERE doc_id % {EXACT_COPY_MOD} = 0
    UNION ALL
    SELECT doc_id + {NEAR_COPY_OFFSET}, {_DUCK_NEAR_TEXT}, lang FROM documents
    WHERE doc_id % {NEAR_COPY_MOD} = 0
    """


# --------------------------------------------------------------------------
# Exact dedup — hash-groupBy, keep min doc_id as canonical.
# --------------------------------------------------------------------------


def exact_dedup_groups(corpus: DataFrame) -> DataFrame:
    """(digest, canonical_id, n_copies) per distinct text; the dedup'd
    corpus itself is the min-id row per group (one extra semi-join)."""
    return (
        corpus.groupBy(F.md5(F.col("text")).alias("digest"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# The MinHash-LSH index — shingles + signatures (portable hash32 inside
# nested lambdas), its band keys, its candidate pairs and the
# signature-agreement estimate, one definition each. Every LSH operator
# below and streaming/neardup_stream.py read them.
# --------------------------------------------------------------------------

# Spark-SQL expression fragments (used via F.expr; identical shapes in the
# DuckDB twins below, with dialect substitutions documented inline).

# Universal-hash MinHash: ONE portable md5 per shingle, then K affine
# transforms h_j(x) = (a_j·x + b_j) mod p. The naive alternative — K
# md5 calls per shingle — measured 151 s at sf0.1 vs ~10 s for this form;
# at 100 TB the md5 count is the dominant CPU term, so it must be 1/shingle.
# Bounds: x < 2^32, a_j,b_j < 2^31 ⇒ a·x+b < 2^63−1 (no bigint overflow
# under Spark ANSI mode); DuckDB twin computes in HUGEINT and casts back.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _mh_params() -> list[tuple[int, int]]:
    return [
        (
            ((2654435761 * (j + 1)) % 2147483647) | 1,
            (1013904223 * (j + 1) + 12345) % 2147483647,
        )
        for j in range(MINHASH_K)
    ]


# Each pipeline stage is bound through a 1-element transform() lambda —
# `transform(array(X), v -> body)[0]` — so the stage is evaluated exactly
# once even after Catalyst CollapseProject merges the projections. The
# token binding splits each text ONCE: the shingle body reads the tokens
# three times per shingle, and an unbound split there re-splits the whole
# text per read (cost quadratic in document length). Likewise sh_h's md5
# pass would otherwise inline into all K array_min calls.
_SPARK_SH = f"""
    transform(array({WORDS}), tk ->
      CASE WHEN size(tk) >= {SHINGLE_N}
      THEN array_distinct({word_grams("tk", SHINGLE_N)})
      ELSE array(array_join(tk, ' '))
      END
    )[0]
"""
_SPARK_MINS = ", ".join(
    f"array_min(transform(sh_h, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
    for a, b in _mh_params()
)
_SPARK_SIG_OF_SH = f"""
    transform(array(transform(sh, s -> {hash32(f"concat('M{SEED_SEP}', s)")})),
      sh_h -> array({_SPARK_MINS})
    )[0]
"""

_DUCK_SHINGLES = f"""
    CASE WHEN len({SQL_WORDS}) >= {SHINGLE_N}
    THEN list_distinct(list_transform(
        generate_series(1, len({SQL_WORDS}) - {SHINGLE_N - 1}),
        i -> ({SQL_WORDS})[i] || ' ' || ({SQL_WORDS})[i+1] || ' ' || ({SQL_WORDS})[i+2]))
    ELSE [array_to_string({SQL_WORDS}, ' ')]
    END
"""
_DUCK_SHINGLE_HASH = f"""
    list_transform(sh, s -> {sql_hash32(f"'M{SEED_SEP}' || s")})
"""
_DUCK_MINHASH_SIG = (
    "["
    + ", ".join(
        f"CAST(list_min(list_transform(sh_h, h -> "
        f"(CAST({a} AS HUGEINT) * h + {b}) % {MINHASH_PRIME})) AS BIGINT)"
        for a, b in _mh_params()
    )
    + "]"
)


def minhash_index(corpus: DataFrame) -> DataFrame:
    """(doc_id, sh, sig): each doc's distinct word-shingle set and its
    K-slot MinHash signature — the one LSH index every MinHash operator
    reads. ``corpus`` must carry (doc_id, text).

    Build the index once. The operators take an index that the caller
    has PINNED exactly once: a registry wrapper stages it per (session,
    corpus) through ``staged_frame``, an operator on a derived corpus
    adds one ``.localCheckpoint()`` at its call. Unpinned, Catalyst's
    CollapseProject inlines the full shingle+MinHash expression into
    every band column and BOTH sides of each candidate join, recomputing
    it ~10× per row (measured 280 s → 3 s at sf0.1). On a cluster this
    is the classic "build the index once" barrier: checkpoint or cache
    the index, then join.
    """
    sh = _spread(corpus).select("doc_id", F.expr(_SPARK_SH).alias("sh"))
    return sh.select("doc_id", "sh", F.expr(_SPARK_SIG_OF_SH).alias("sig"))


def sql_minhash_signatures(corpus_sql: str) -> str:
    return f"""
    SELECT doc_id, {_DUCK_MINHASH_SIG} AS sig
    FROM (SELECT doc_id, {_DUCK_SHINGLE_HASH} AS sh_h
          FROM (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM ({corpus_sql})))
    """


def _band_frame(index: DataFrame) -> DataFrame:
    """(doc_id, band, key): the LSH band keys of an index's signatures.
    NARROW on purpose — carrying signatures or shingle arrays through
    the LSH_BANDS-way explode would shuffle them once per band; the
    scored columns join back once per candidate pair instead."""
    return index.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"""transform(sequence(0, {LSH_BANDS - 1}), b ->
                  array_join(transform(slice(sig, b * {LSH_ROWS} + 1, {LSH_ROWS}),
                             x -> cast(x as string)), '-'))"""
            )
        ).alias("band", "key"),
    )


# DuckDB twin of _band_frame: a LATERAL of the (band, key) rows of the
# ``sig`` column in scope, joined as ``b``.
_DUCK_BANDS = f"""LATERAL (
        SELECT i AS band,
               array_to_string(list_transform(
                 sig[i * {LSH_ROWS} + 1 : i * {LSH_ROWS} + {LSH_ROWS}],
                 x -> CAST(x AS VARCHAR)), '-') AS key
        FROM (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS i)
      ) b"""


def _lsh_candidates(index: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: the distinct index pairs that share
    at least one LSH band."""
    bands = _band_frame(index)
    return (
        bands.withColumnRenamed("doc_id", "doc_a")
        .join(bands.withColumnRenamed("doc_id", "doc_b"), on=["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()  # a pair can share several bands
    )


def _side(index: DataFrame, s: str, *cols: str) -> DataFrame:
    """One side of a scored pair: (doc_<s>, <col>_<s>...) off ``index``."""
    return index.select(
        F.col("doc_id").alias(f"doc_{s}"),
        *(F.col(c).alias(f"{c}_{s}") for c in cols),
    )


def _candidate_sides(index: DataFrame, *cols: str) -> DataFrame:
    """The LSH candidate pairs of ``index`` with the named index columns
    joined back once per side as ``<col>_a`` / ``<col>_b``."""
    return (
        _lsh_candidates(index)
        .join(_side(index, "a", *cols), "doc_a")
        .join(_side(index, "b", *cols), "doc_b")
    )


def _agreement() -> Column:
    """The MinHash Jaccard estimate of a scored pair: the fraction of the
    K signature slots where ``sig_a`` and ``sig_b`` agree."""
    return F.size(
        F.expr("filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)")
    ) / F.lit(float(MINHASH_K))


def _jaccard() -> Column:
    """Exact Jaccard of the shingle sets ``sh_a`` and ``sh_b``, rounded
    to 6 places."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return F.round(inter.cast("double") / union, 6)


def minhash_lsh_pairs(index: DataFrame) -> DataFrame:
    """LSH-banded candidate generation + signature-agreement estimation
    over a pinned ``minhash_index``: (doc_a, doc_b, est_jaccard) with
    est ≥ NEAR_THRESHOLD."""
    return (
        _candidate_sides(index, "sig")
        .select("doc_a", "doc_b", _agreement().alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= NEAR_THRESHOLD)
    )


def sql_minhash_lsh_pairs(corpus_sql: str) -> str:
    sig = sql_minhash_signatures(corpus_sql)
    return f"""
    WITH sigs AS ({sig}),
    bands AS (
      SELECT doc_id, sig, b.band, b.key FROM sigs,
      {_DUCK_BANDS}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_filter(generate_series(1, {MINHASH_K}),
                    i -> a.sig[i] = b.sig[i])) AS DOUBLE) / {MINHASH_K} AS est_jaccard
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       AND a.doc_id < b.doc_id
    WHERE CAST(len(list_filter(generate_series(1, {MINHASH_K}),
                    i -> a.sig[i] = b.sig[i])) AS DOUBLE) / {MINHASH_K}
          >= {NEAR_THRESHOLD}
    """


# --------------------------------------------------------------------------
# Exact n-gram Jaccard within language blocks (oracle-friendly O(block²)
# baseline; LSH above is the scale path).
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(sh: DataFrame, impl: str = "exploded") -> DataFrame:
    """(doc_a, doc_b, jaccard) within language blocks over (doc_id, lang,
    sh): a pinned ``minhash_index`` with each doc's ``lang`` joined on."""
    if impl == "block":
        # bounded-sample path (lsh_recall's ~500-doc truth stratum):
        # the O(block²) array_intersect cross join beats the exploded
        # join below when blocks are tiny — the shuffle + pair-count
        # aggregation cost more than a few hundred direct intersects
        # (measured at sf0.1: 1.5 s block vs 2.3 s exploded on the
        # sample, while the full corpus reads 6.5 s block vs 2.1 s
        # exploded — same results either way, pick by block size).
        a = sh.select(
            F.col("doc_id").alias("doc_a"),
            "lang",
            F.col("sh").alias("sh_a"),
        )
        b = sh.select(
            F.col("doc_id").alias("doc_b"),
            "lang",
            F.col("sh").alias("sh_b"),
        )
        return (
            a.join(b, on="lang")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", _jaccard().alias("jaccard"))
            .filter(F.col("jaccard") >= NEAR_THRESHOLD)
        )
    # Shingle arrays are array_distinct'd, so |A ∩ B| equals the number
    # of shared (lang, shingle) join keys — computed as an exploded
    # equi-join + pair count (round 14, guide §2.3/§3): only pairs that
    # SHARE at least one shingle are ever materialized, instead of the
    # lang-block cross join evaluating array_intersect over every
    # O(block²) pair. The positive NEAR_THRESHOLD already excludes
    # zero-intersection pairs from the result, so the candidate sets
    # are identical; |A ∪ B| = |A| + |B| − |A ∩ B| from the carried
    # sizes.
    ex = sh.select(
        "doc_id", "lang", F.size("sh").alias("n"), F.explode("sh").alias("g")
    )
    a = ex.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("_la"),
        F.col("n").alias("n_a"),
        F.col("g").alias("_ga"),
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("_lb"),
        F.col("n").alias("n_b"),
        F.col("g").alias("_gb"),
    )
    inter = F.count(F.lit(1))
    return (
        a.join(
            b,
            (F.col("_la") == F.col("_lb"))
            & (F.col("_ga") == F.col("_gb"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(inter.alias("_i"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("_i").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("_i")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NEAR_THRESHOLD)
    )


def sql_ngram_jaccard_pairs(corpus_sql: str) -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id, lang, {_DUCK_SHINGLES} AS sh FROM ({corpus_sql})
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
               AS jaccard
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    ) WHERE jaccard >= {NEAR_THRESHOLD}
    """


# --------------------------------------------------------------------------
# SimHash — 32-bit set-simhash from token hash32s; majority vote per bit.
# bit_i set iff popcount of that bit across token hashes > n/2.
# --------------------------------------------------------------------------


def simhash_fingerprints(corpus: DataFrame) -> DataFrame:
    """32 per-bit filter() passes over the token-hash array. Measured
    FASTER (≈5×) than the 'clever' single aggregate+zip_with pass — the
    zip_with form allocates a 32-int array per token hash, while each
    filter() pass is a flat allocation-free scan inside codegen."""
    h = hash32(f"concat('S{SEED_SEP}', t)")
    toks_h = f"array_distinct(transform({WORDS}, t -> {h}))"
    bits = " + ".join(
        f"(CASE WHEN 2 * size(filter(th, h -> (shiftright(h, {i}) % 2) = 1)) "
        f"> size(th) THEN cast({1 << i} as bigint) ELSE cast(0 as bigint) END)"
        for i in range(SIMHASH_BITS)
    )
    return _spread(corpus).select(
        "doc_id", F.expr(toks_h).alias("th")
    ).select("doc_id", F.expr(bits).alias("simhash"))


def sql_simhash_fingerprints(corpus_sql: str) -> str:
    h = sql_hash32(f"'S{SEED_SEP}' || t")
    toks_h = f"list_distinct(list_transform({SQL_WORDS}, t -> {h}))"
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(th, h -> ((h >> {i}) % 2) = 1)) "
        f"> len(th) THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
    SELECT doc_id, {bits} AS simhash
    FROM (SELECT doc_id, {toks_h} AS th FROM ({corpus_sql}))
    """


def simhash_pairs(corpus: DataFrame) -> DataFrame:
    """Near-dup pairs: same high-bit bucket AND hamming ≤ MAX_HAMMING.

    Fingerprints are materialized once (localCheckpoint) before the
    self-join — both join sides would otherwise re-run the 32-bit
    majority expression (same build-the-index-once barrier as MinHash)."""
    fp = simhash_fingerprints(corpus).localCheckpoint()
    a = fp.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a")
    ).withColumn("bucket", F.expr(f"shiftright(sh_a, {SIMHASH_BUCKET_SHIFT})"))
    b = fp.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b")
    ).withColumn("bucket", F.expr(f"shiftright(sh_b, {SIMHASH_BUCKET_SHIFT})"))
    return (
        a.join(b, on="bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.expr("bit_count(sh_a ^ sh_b)"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def sql_simhash_pairs(corpus_sql: str) -> str:
    fp = sql_simhash_fingerprints(corpus_sql)
    return f"""
    WITH fp AS ({fp})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM fp a JOIN fp b
      ON (a.simhash >> {SIMHASH_BUCKET_SHIFT}) = (b.simhash >> {SIMHASH_BUCKET_SHIFT})
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


# --------------------------------------------------------------------------
# LSH-prefiltered exact Jaccard — the production form of near-dedup: LSH
# bands generate candidates (linear scan + bucketed join), then EXACT
# shingle-set Jaccard verifies only those pairs. Same exactness as the
# O(block²) baseline on every surviving pair, at candidate-count cost
# (measured at sf0.1: 108 s exact-within-blocks → ~5 s this form).
# False negatives are the LSH miss rate (pairs sharing no band) — the
# standard recall/cost dial via LSH_BANDS × LSH_ROWS.
# --------------------------------------------------------------------------


def ngram_jaccard_lsh_verified(index: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard): exact Jaccard ≥ NEAR_THRESHOLD over a
    pinned ``minhash_index``, restricted to its LSH candidate pairs. The
    shingle sets join back once per candidate pair, so Jaccard evaluates
    once per pair, not once per shared band."""
    return (
        _candidate_sides(index, "sh")
        .select("doc_a", "doc_b", _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= NEAR_THRESHOLD)
    )


def sql_ngram_jaccard_lsh_verified(corpus_sql: str) -> str:
    sig = sql_minhash_signatures(corpus_sql)
    return f"""
    WITH sh AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM ({corpus_sql})
    ),
    sigs AS ({sig}),
    bands AS (
      SELECT s.doc_id, sh.sh, b.band, b.key
      FROM sigs s JOIN sh USING (doc_id),
      {_DUCK_BANDS}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
             AS jaccard
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       AND a.doc_id < b.doc_id
    WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
          >= {NEAR_THRESHOLD}
    """


# --------------------------------------------------------------------------
# Containment — asymmetric near-dup: containment(A→B) = |A∩B| / |A|.
# Jaccard misses the doc-inside-doc case (a 100-line doc pasted into a
# 10,000-line doc has tiny Jaccard but containment ≈ 1) — for LLM corpora
# that's the common contamination shape (quotes, boilerplate wrappers,
# concatenated shards). Same LSH candidate machinery; only the verify
# formula changes.
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.9


def containment_pairs(index: DataFrame) -> DataFrame:
    """(doc_small, doc_big, containment) over a pinned ``minhash_index``:
    ordered so the CONTAINED doc is first; restricted to LSH candidates."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    small_first = F.size("sh_a") <= F.size("sh_b")
    cont = F.round(
        inter.cast("double") / F.least(F.size("sh_a"), F.size("sh_b")), 6
    ).alias("containment")
    return (
        _candidate_sides(index, "sh")
        .select(
            F.when(small_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_small"),
            F.when(small_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_big"),
            cont,
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


def sql_containment_pairs(corpus_sql: str) -> str:
    sig = sql_minhash_signatures(corpus_sql)
    return f"""
    WITH sh AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM ({corpus_sql})
    ),
    sigs AS ({sig}),
    bands AS (
      SELECT s.doc_id, b.band, b.key
      FROM sigs s,
      {_DUCK_BANDS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         AND a.doc_id < b.doc_id
    )
    SELECT doc_small, doc_big, containment FROM (
      SELECT CASE WHEN len(sa.sh) <= len(sb.sh) THEN c.doc_a ELSE c.doc_b END AS doc_small,
             CASE WHEN len(sa.sh) <= len(sb.sh) THEN c.doc_b ELSE c.doc_a END AS doc_big,
             round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                   least(len(sa.sh), len(sb.sh)), 6) AS containment
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
    ) WHERE containment >= {CONTAINMENT_THRESHOLD}
    """


# --------------------------------------------------------------------------
# Fuzzy string-match join (edit distance 1) — entity-resolution shape:
# match dirty strings to a clean vocabulary without the O(|A|·|B|)
# all-pairs levenshtein. Blocking: one edit touches one position, so
# for strings of length ≥ 3 at least one of (first 2 chars, last 2
# chars, first+last chars) survives intact — the middle-substitution
# case (e.g. cot/cat) is what the third key covers. Candidates are the
# union of three narrow equi-joins on short block keys, exact
# levenshtein verifies per candidate. The invariant is specific to
# distance 1 (two edits can destroy all three keys), so FUZZY_MAX_DIST
# must stay 1.
# --------------------------------------------------------------------------

FUZZY_MAX_DIST = 1


def fuzzy_match_pairs(dirty: DataFrame, clean: DataFrame) -> DataFrame:
    """(dirty_token, clean_token, dist ≤ FUZZY_MAX_DIST), dirty ≠ clean.
    Inputs are one-string-per-row frames with column ``token``; tokens
    shorter than 3 chars should be matched exactly instead (blocking
    completeness holds for length ≥ 3)."""

    def keyed(df: DataFrame, side: str) -> DataFrame:
        c = F.col("token")
        return df.select(
            c.alias(f"{side}_token"),
            F.substring(c, 1, 2).alias("_head"),
            F.substring(c, -2, 2).alias("_tail"),
            F.concat(F.substring(c, 1, 1), F.substring(c, -1, 1)).alias(
                "_ends"
            ),
        )

    a, b = keyed(dirty, "dirty"), keyed(clean, "clean")
    heads = a.join(b, on="_head").select("dirty_token", "clean_token")
    tails = a.join(b, on="_tail").select("dirty_token", "clean_token")
    ends = a.join(b, on="_ends").select("dirty_token", "clean_token")
    cands = heads.unionByName(tails).unionByName(ends).distinct()
    dist = F.levenshtein(F.col("dirty_token"), F.col("clean_token"))
    return (
        cands.filter(F.col("dirty_token") != F.col("clean_token"))
        .withColumn("dist", dist)
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )


def sql_fuzzy_match_pairs(dirty_sql: str, clean_sql: str) -> str:
    return f"""
    WITH a AS (
      SELECT token AS dirty_token, substr(token, 1, 2) AS head,
             substr(token, -2, 2) AS tail,
             substr(token, 1, 1) || substr(token, -1, 1) AS ends
      FROM ({dirty_sql})
    ),
    b AS (
      SELECT token AS clean_token, substr(token, 1, 2) AS head,
             substr(token, -2, 2) AS tail,
             substr(token, 1, 1) || substr(token, -1, 1) AS ends
      FROM ({clean_sql})
    ),
    cands AS (
      SELECT dirty_token, clean_token FROM a JOIN b USING (head)
      UNION
      SELECT dirty_token, clean_token FROM a JOIN b USING (tail)
      UNION
      SELECT dirty_token, clean_token FROM a JOIN b USING (ends)
    )
    SELECT dirty_token, clean_token,
           CAST(levenshtein(dirty_token, clean_token) AS INTEGER) AS dist
    FROM cands
    WHERE dirty_token <> clean_token
      AND levenshtein(dirty_token, clean_token) <= {FUZZY_MAX_DIST}
    """


# --------------------------------------------------------------------------
# MinHash calibration — est-vs-exact Jaccard over EVERY LSH candidate
# pair (no threshold): est_jaccard is the K=16 signature-agreement
# fraction, jaccard the exact shingle-set value, abs_err their gap.
# This is the measurement that tunes the bands×rows dial: the sketch's
# ±1/sqrt(K) noise and the candidate set's composition are visible in
# one frame, the same way sim_ann_recall scores the ANN indexes. Same
# narrow-bands candidate machinery as the verified form above; both
# verify expressions evaluate once per pair, not once per shared band.
# --------------------------------------------------------------------------


def minhash_calibration(index: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est_jaccard, jaccard, abs_err) for every LSH
    candidate pair of a pinned ``minhash_index``."""
    out = (
        _candidate_sides(index, "sh", "sig")
        .select(
            "doc_a",
            "doc_b",
            F.round(_agreement(), 6).alias("est_jaccard"),
            _jaccard().alias("jaccard"),
        )
    )
    return out.withColumn(
        "abs_err", F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6)
    )


def sql_minhash_calibration(corpus_sql: str) -> str:
    sig = sql_minhash_signatures(corpus_sql)
    agree = (
        f"CAST(len(list_filter(generate_series(1, {MINHASH_K}), "
        f"i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {MINHASH_K}"
    )
    jac = (
        "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / "
        "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))"
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM ({corpus_sql})
    ),
    sigs AS ({sig}),
    docs AS (SELECT s.doc_id, sh.sh, s.sig FROM sigs s JOIN sh USING (doc_id)),
    bands AS (
      SELECT doc_id, b.band, b.key FROM docs,
      {_DUCK_BANDS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             round({agree}, 6) AS est_jaccard,
             round({jac}, 6) AS jaccard
      FROM cand c
      JOIN docs sa ON sa.doc_id = c.doc_a
      JOIN docs sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, est_jaccard, jaccard,
           round(abs(est_jaccard - jaccard), 6) AS abs_err
    FROM scored
    """


# --------------------------------------------------------------------------
# Threshold sweep — dedup-aggressiveness sensitivity: for each cut τ,
# how many candidate pairs and how many distinct documents the near-dup
# graph would contain at est_jaccard ≥ τ. The one-frame answer to "how
# much does the corpus shrink if we tighten/loosen the dedup
# threshold", read off ONE LSH pass (the candidate machinery runs
# once; the sweep reuses its est column against a 3-row spine).
# --------------------------------------------------------------------------

SWEEP_THRESHOLDS = (0.3, 0.5, 0.7)


def threshold_sweep(index: DataFrame) -> DataFrame:
    """(threshold, n_pairs, n_docs): candidate-pair and affected-doc
    counts at each est-Jaccard cut over a pinned ``minhash_index``."""
    pairs = (
        _candidate_sides(index, "sig")
        .select("doc_a", "doc_b", _agreement().alias("est"))
    )
    spark = index.sparkSession
    spine = spark.createDataFrame(
        [(t,) for t in SWEEP_THRESHOLDS], "threshold double"
    )
    hits = spine.join(pairs, F.col("est") >= F.col("threshold"))
    return (
        hits.select(
            "threshold",
            "doc_a",
            "doc_b",
            F.explode(F.array("doc_a", "doc_b")).alias("doc"),
        )
        .groupBy("threshold")
        .agg(
            (F.countDistinct("doc_a", "doc_b")).alias("n_pairs"),
            F.countDistinct("doc").alias("n_docs"),
        )
    )


def sql_threshold_sweep(corpus_sql: str) -> str:
    sig = sql_minhash_signatures(corpus_sql)
    ts = ", ".join(f"({t})" for t in SWEEP_THRESHOLDS)
    return f"""
    WITH sigs AS ({sig}),
    bands AS (
      SELECT doc_id, sig, b.band, b.key FROM sigs,
      {_DUCK_BANDS}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_filter(generate_series(1, {MINHASH_K}),
                      i -> a.sig[i] = b.sig[i])) AS DOUBLE) / {MINHASH_K}
               AS est
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         AND a.doc_id < b.doc_id
    ),
    spine AS (SELECT * FROM (VALUES {ts}) v(threshold)),
    hits AS (
      SELECT s.threshold, p.doc_a, p.doc_b
      FROM spine s JOIN pairs p ON p.est >= s.threshold
    )
    SELECT threshold,
           count(DISTINCT (doc_a, doc_b)) AS n_pairs,
           count(DISTINCT doc) AS n_docs
    FROM hits, LATERAL (SELECT unnest([doc_a, doc_b]) AS doc) d
    GROUP BY threshold
    """


# --------------------------------------------------------------------------
# Incremental cross-snapshot dedup (round 9, VERDICT r8 item 6a) — the
# shape real crawls need: a FROZEN corpus snapshot is indexed once
# (MinHash signatures, session-staged by the caller), and each incoming
# crawl batch is scored against that index — anti-join semantics: an
# incoming doc is ADMITTED iff no frozen near-duplicate exists.
#
# 100 TB shape: the frozen index is built once per snapshot ("train
# once, score many" — the caller stages it); candidates come from the
# banded (band, key) equi-join, never an all-pairs comparison, so the
# incoming batch shuffles only by band key and the per-doc verdict is
# one hash aggregation over matched candidates. The frozen side at
# 100 TB is a distributed (doc_id, sig) table — the join co-partitions
# both sides on (band, key); nothing here assumes the index fits in
# memory.
# --------------------------------------------------------------------------

NEW_CRAWL_OFFSET = 300_000
NEW_DOC_MOD = 11  # every 11th doc yields a genuinely-new (reversed) doc


def new_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic incoming batch: re-crawled exact copies (mod 7),
    re-crawled 80%-prefix near copies (mod 5) — both should be caught
    by the frozen index — plus genuinely-new docs (mod 11, word order
    reversed, which destroys every shingle) that must be admitted."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    fresh = (
        d.filter(F.col("doc_id") % NEW_DOC_MOD == 0)
        .withColumn("doc_id", F.col("doc_id") + NEW_CRAWL_OFFSET)
        .withColumn("text", F.array_join(F.reverse(F.expr(CASED_WORDS)), " "))
    )
    return _copies(d).unionByName(fresh)


def sql_new_crawl() -> str:
    return f"""
    SELECT doc_id + {EXACT_COPY_OFFSET} AS doc_id, text, lang
    FROM documents WHERE doc_id % {EXACT_COPY_MOD} = 0
    UNION ALL
    SELECT doc_id + {NEAR_COPY_OFFSET}, {_DUCK_NEAR_TEXT}, lang
    FROM documents WHERE doc_id % {NEAR_COPY_MOD} = 0
    UNION ALL
    SELECT doc_id + {NEW_CRAWL_OFFSET},
           array_to_string(list_reverse({SQL_CASED_WORDS}), ' '), lang
    FROM documents WHERE doc_id % {NEW_DOC_MOD} = 0
    """


def incremental_dedup(frozen: DataFrame, incoming: DataFrame) -> DataFrame:
    """(doc_id, n_frozen_matches, match_id, match_est, admitted):
    verdict per incoming doc against the frozen signature index. Both
    sides are pinned (doc_id, sig, ...) indexes (``minhash_index``).
    ``match_id`` is the best frozen match (est DESC, id ASC);
    ``admitted`` iff no frozen near-dup reached NEAR_THRESHOLD."""
    cand = (
        _band_frame(incoming).withColumnRenamed("doc_id", "doc_a")
        .join(
            _band_frame(frozen).withColumnRenamed("doc_id", "doc_b"),
            on=["band", "key"],
        )
        .select("doc_a", "doc_b")
        .distinct()
        .join(_side(incoming, "a", "sig"), "doc_a")
        .join(_side(frozen, "b", "sig"), "doc_b")
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("frozen_id"),
            _agreement().alias("est"),
        )
        .filter(F.col("est") >= NEAR_THRESHOLD)
    )
    best = cand.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_frozen_matches"),
        F.max(
            F.struct(F.col("est"), (-F.col("frozen_id")).alias("_nid"))
        ).alias("_m"),
    )
    return (
        incoming.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_frozen_matches", F.lit(0))
            .cast("bigint")
            .alias("n_frozen_matches"),
            (-F.col("_m._nid")).alias("match_id"),
            F.round(F.col("_m.est"), 6).alias("match_est"),
            F.col("n_frozen_matches").isNull().alias("admitted"),
        )
    )


def sql_incremental_dedup(frozen_sql: str, incoming_sql: str) -> str:
    def bands(src: str) -> str:
        return f"""
      SELECT doc_id, sig, b.band, b.key FROM ({src}),
      {_DUCK_BANDS}
    """

    return f"""
    WITH f_bands AS ({bands(sql_minhash_signatures(frozen_sql))}),
    i_bands AS ({bands(sql_minhash_signatures(incoming_sql))}),
    cand AS (
      SELECT DISTINCT i.doc_id, f.doc_id AS frozen_id,
             CAST(len(list_filter(generate_series(1, {MINHASH_K}),
                      k -> i.sig[k] = f.sig[k])) AS DOUBLE) / {MINHASH_K}
               AS est
      FROM i_bands i JOIN f_bands f
        ON i.band = f.band AND i.key = f.key
    ),
    hits AS (
      SELECT doc_id, frozen_id, est,
             row_number() OVER (PARTITION BY doc_id
                  ORDER BY est DESC, frozen_id) AS rn,
             count(*) OVER (PARTITION BY doc_id) AS n_matches
      FROM cand WHERE est >= {NEAR_THRESHOLD}
    )
    SELECT inc.doc_id,
           CAST(coalesce(h.n_matches, 0) AS BIGINT) AS n_frozen_matches,
           h.frozen_id AS match_id,
           round(h.est, 6) AS match_est,
           h.frozen_id IS NULL AS admitted
    FROM ({incoming_sql}) inc
    LEFT JOIN (SELECT * FROM hits WHERE rn = 1) h USING (doc_id)
    """


# --------------------------------------------------------------------------
# Dedup CASCADE executor (round 12) — the staged pipeline production
# corpora actually run, as ONE receipt: exact dedup first (md5 text
# hash — removes byte-identical copies at hash-groupBy cost), simhash
# near-dedup second over the exact survivors (catches small-edit
# copies at bucketed-hamming cost), LSH-verified Jaccard last over
# what remains (the expensive shingle-set verify runs only on what the
# cheaper stages could not kill). Per-stage receipt: docs in, removed,
# out, tokens removed, removal rate — the "what did each stage buy"
# sheet that decides whether a stage earns its cost at the next scale
# up. Removal rule per stage: a doc is removed iff ANY smaller-doc_id
# doc in the stage input matches it (so a chain A<B<C with A~B, B~C
# but no A~C removes both B and C — the same rule
# stream_near_dup_filter documents).
#
# 100 TB shape: each stage is its constituent operator's audited plan
# (hash-groupBy / bucketed self-join / banded candidates + verify),
# applied to a monotonically SHRINKING survivor set — the ordering is
# the point: the quadratic-risk stages see only what linear stages
# left. Stage receipts are 1-row aggregates of narrow (doc_id, tokens)
# frames; survivors pass between stages as anti-joins on bounded
# removed-id sets.
# --------------------------------------------------------------------------

_CASCADE_TOKS = (
    f"CASE WHEN trim(text) = '' THEN 0 ELSE size({CASED_WORDS}) END"
)
_CASCADE_TOKS_DUCK = (
    f"CASE WHEN trim(text) = '' THEN 0 ELSE len({SQL_CASED_WORDS}) END"
)


def cascade_execute(corpus: DataFrame) -> DataFrame:
    """(stage, name, n_in, n_removed, n_out, tokens_removed,
    removal_rate): the 3-stage dedup cascade receipt. ``corpus`` must
    carry (doc_id, text)."""
    tok = corpus.select(
        "doc_id", "text", F.expr(_CASCADE_TOKS).cast("bigint").alias("_t")
    )
    canon = tok.groupBy(F.md5("text").alias("_d")).agg(
        F.min("doc_id").alias("_cid")
    )
    # Survivor frames materialize BETWEEN stages (localCheckpoint):
    # each is consumed by its stage's pair generation AND the next
    # stage AND its count aggregate — unmaterialized, the lineage
    # re-derives the whole upstream cascade per consumer (measured: a
    # 75-exchange executed plan). Production writes each stage's
    # survivor set anyway — this is that barrier, survivor-sized.
    s1 = tok.join(
        canon,
        (F.md5(tok["text"]) == canon["_d"])
        & (tok["doc_id"] == canon["_cid"]),
    ).select("doc_id", "text", "_t").localCheckpoint()
    r2 = simhash_pairs(s1).select(F.col("doc_b").alias("doc_id")).distinct()
    s2 = s1.join(r2, "doc_id", "left_anti").localCheckpoint()
    r3 = (
        ngram_jaccard_lsh_verified(minhash_index(s2).localCheckpoint())
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(r3, "doc_id", "left_anti")

    def _cnt(df: DataFrame, n: str, t: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias(n),
            F.coalesce(F.sum("_t"), F.lit(0)).cast("bigint").alias(t),
        )

    a0, a1, a2, a3 = (
        _cnt(tok, "n0", "t0"),
        _cnt(s1, "n1", "t1"),
        _cnt(s2, "n2", "t2"),
        _cnt(s3, "n3", "t3"),
    )
    wide = (
        a0.crossJoin(F.broadcast(a1))
        .crossJoin(F.broadcast(a2))
        .crossJoin(F.broadcast(a3))
    )

    def _stage(no: int, name: str, i: str, o: str):
        return (
            F.lit(no).cast("int").alias("stage"),
            F.lit(name).alias("name"),
            F.col(f"n{i}").alias("n_in"),
            (F.col(f"n{i}") - F.col(f"n{o}")).alias("n_removed"),
            F.col(f"n{o}").alias("n_out"),
            (F.col(f"t{i}") - F.col(f"t{o}")).alias("tokens_removed"),
            F.round(
                (F.col(f"n{i}") - F.col(f"n{o}"))
                / F.col(f"n{i}").cast("double"),
                6,
            ).alias("removal_rate"),
        )

    return (
        wide.select(*_stage(1, "exact", "0", "1"))
        .unionByName(wide.select(*_stage(2, "simhash", "1", "2")))
        .unionByName(wide.select(*_stage(3, "jaccard_lsh", "2", "3")))
    )


def sql_cascade_execute(corpus_sql: str) -> str:
    r2 = sql_simhash_pairs("SELECT doc_id, text FROM s1")
    r3 = sql_ngram_jaccard_lsh_verified("SELECT doc_id, text FROM s2")
    return f"""
    WITH tok AS (
      SELECT doc_id, text,
             CAST({_CASCADE_TOKS_DUCK} AS BIGINT) AS t
      FROM ({corpus_sql})
    ),
    canon AS (
      SELECT md5(text) AS d, min(doc_id) AS cid FROM tok GROUP BY 1
    ),
    s1 AS (
      SELECT tok.* FROM tok
      JOIN canon ON md5(tok.text) = canon.d AND tok.doc_id = canon.cid
    ),
    r2 AS (SELECT DISTINCT doc_b AS doc_id FROM ({r2})),
    s2 AS (
      SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM r2)
    ),
    r3 AS (SELECT DISTINCT doc_b AS doc_id FROM ({r3})),
    s3 AS (
      SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM r3)
    ),
    a0 AS (SELECT CAST(count(*) AS BIGINT) n, CAST(coalesce(sum(t),0) AS BIGINT) tk FROM tok),
    a1 AS (SELECT CAST(count(*) AS BIGINT) n, CAST(coalesce(sum(t),0) AS BIGINT) tk FROM s1),
    a2 AS (SELECT CAST(count(*) AS BIGINT) n, CAST(coalesce(sum(t),0) AS BIGINT) tk FROM s2),
    a3 AS (SELECT CAST(count(*) AS BIGINT) n, CAST(coalesce(sum(t),0) AS BIGINT) tk FROM s3)
    SELECT CAST(1 AS INTEGER) AS stage, 'exact' AS name,
           a0.n AS n_in, a0.n - a1.n AS n_removed, a1.n AS n_out,
           a0.tk - a1.tk AS tokens_removed,
           round(CAST(a0.n - a1.n AS DOUBLE) / a0.n, 6) AS removal_rate
    FROM a0, a1
    UNION ALL
    SELECT CAST(2 AS INTEGER), 'simhash', a1.n, a1.n - a2.n, a2.n,
           a1.tk - a2.tk,
           round(CAST(a1.n - a2.n AS DOUBLE) / a1.n, 6)
    FROM a1, a2
    UNION ALL
    SELECT CAST(3 AS INTEGER), 'jaccard_lsh', a2.n, a2.n - a3.n, a3.n,
           a2.tk - a3.tk,
           round(CAST(a2.n - a3.n AS DOUBLE) / a2.n, 6)
    FROM a2, a3
    """


# --------------------------------------------------------------------------
# LSH recall metrology (round 12) — the measured answer to the
# recall/cost dial every LSH section documents as "the standard
# tradeoff via LSH_BANDS × LSH_ROWS": on a labeled evaluation stratum
# (one language block — small enough for the exact all-pairs truth,
# and sound because band collision is a PER-PAIR property of the two
# signatures: whether (a,b) share a band does not depend on the rest
# of the corpus), compute every exact-Jaccard pair ≥ threshold, then
# ask which of them the banded candidate generation actually surfaced.
# The per-Jaccard-bucket recall curve is the production tuning sheet:
# recall should rise steeply with similarity (the S-curve
# 1-(1-j^r)^b), and a bucket below target recall says add bands or
# shorten rows BEFORE a 100 TB run silently under-dedups.
#
# 100 TB shape: the truth side is all-pairs ONLY on the bounded eval
# stratum (the labeled-sample pattern — never the corpus); the LSH
# side is the banded candidate join on the same stratum. The curve is
# ≤ 6 rows.
# --------------------------------------------------------------------------

RECALL_EVAL_LANG = "de"  # smallest language block = cheapest truth
RECALL_EVAL_TARGET = 500  # fixed-size eval sample: truth cost is
# constant at ANY corpus scale (an 8x shape run showed the unsampled
# stratum's all-pairs truth scaling 9.2x — the labeled sample must not
# grow with the corpus). Deterministic hash_frac thinning; at small
# scales the fraction saturates at 1.0 and the whole stratum is kept.


def lsh_recall(corpus: DataFrame) -> DataFrame:
    """(bucket, n_truth, n_found, recall): per-Jaccard-bucket recall of
    the MinHash-LSH candidate stage against the exact all-pairs truth
    on a fixed-size sample of the RECALL_EVAL_LANG stratum. ``corpus``
    must carry (doc_id, text, lang)."""
    block = corpus.filter(F.col("lang") == RECALL_EVAL_LANG).select(
        "doc_id", "text", "lang"
    )
    n = block.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    u = F.expr(hash_frac(f"concat('LR{SEED_SEP}', cast(doc_id as string))"))
    stratum = (
        block.crossJoin(F.broadcast(n))
        .filter(
            u < F.least(
                F.lit(1.0), F.lit(float(RECALL_EVAL_TARGET)) / F.col("_n")
            )
        )
        .select("doc_id", "text", "lang")
    )
    index = minhash_index(stratum).localCheckpoint()
    truth = ngram_jaccard_pairs(
        index.withColumn("lang", F.lit(RECALL_EVAL_LANG)), impl="block"
    )
    found = ngram_jaccard_lsh_verified(index).select(
        "doc_a", "doc_b", F.lit(1).alias("_hit")
    )
    bucket = (
        F.least(F.floor(F.col("jaccard") * 10), F.lit(9)) / 10.0
    ).alias("bucket")
    joined = truth.join(found, ["doc_a", "doc_b"], "left")
    return (
        joined.select(bucket, "_hit")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("bigint")
            .alias("n_found"),
        )
        .select(
            "bucket",
            "n_truth",
            "n_found",
            F.round(
                F.col("n_found") / F.col("n_truth").cast("double"), 6
            ).alias("recall"),
        )
    )


def sql_lsh_recall(corpus_sql: str) -> str:
    u = sql_hash_frac(f"'LR{SEED_SEP}' || CAST(doc_id AS VARCHAR)")
    stratum = (
        f"SELECT doc_id, text, lang FROM ({corpus_sql}) "
        f"CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS n "
        f"FROM ({corpus_sql}) WHERE lang = '{RECALL_EVAL_LANG}') _c "
        f"WHERE lang = '{RECALL_EVAL_LANG}' "
        f"AND {u} < least(1.0, {float(RECALL_EVAL_TARGET)!r} / n)"
    )
    truth = sql_ngram_jaccard_pairs(stratum)
    found = sql_ngram_jaccard_lsh_verified(
        f"SELECT doc_id, text FROM ({stratum})"
    )
    return f"""
    WITH truth AS ({truth}),
    found AS (SELECT doc_a, doc_b, 1 AS hit FROM ({found}))
    SELECT least(floor(t.jaccard * 10), 9) / 10.0 AS bucket,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(coalesce(sum(f.hit), 0) AS BIGINT) AS n_found,
           round(CAST(coalesce(sum(f.hit), 0) AS DOUBLE) / count(*), 6)
             AS recall
    FROM truth t LEFT JOIN found f USING (doc_a, doc_b)
    GROUP BY 1
    """
