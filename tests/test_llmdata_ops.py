"""Semantic checks for the LLM-data operators (beyond oracle parity):
known duplicates must actually be found, ANN must agree with brute force
on identical vectors."""

from __future__ import annotations

import pytest

from conftest import SF_MEDIUM, SF_SMALL

# `slow`: excluded from the driver's default run so the suite finishes
# inside its verify window (VERDICT r14 item 3); see
# test_operator_properties.py for the full rationale.
pytestmark = pytest.mark.slow


def test_exact_dedup_finds_planted_copies(spark):
    from etl_moodle_and_mass_email_sending_spark.operators import dedup

    corpus = dedup.dup_corpus(spark, SF_SMALL)
    groups = dedup.exact_dedup_groups(corpus)
    dup_groups = groups.filter("n_copies > 1").collect()
    # every 7th doc got an exact copy → those groups have n_copies == 2
    assert len(dup_groups) > 0
    assert all(g["n_copies"] == 2 for g in dup_groups)
    # canonical id is always the original (min) id
    assert all(g["canonical_id"] < dedup.EXACT_COPY_OFFSET for g in dup_groups)


def test_minhash_catches_exact_and_near_copies(spark):
    from etl_moodle_and_mass_email_sending_spark.operators import dedup

    corpus = dedup.dup_corpus(spark, SF_SMALL)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(
            dedup.minhash_index(corpus).localCheckpoint()
        ).collect()
    }
    assert pairs, "no near-dup pairs found"
    exact = {
        k: v
        for k, v in pairs.items()
        if k[0] < dedup.EXACT_COPY_OFFSET
        and k[1] == k[0] + dedup.EXACT_COPY_OFFSET
    }
    near = {
        k: v
        for k, v in pairs.items()
        if k[0] < dedup.EXACT_COPY_OFFSET
        and k[1] == k[0] + dedup.NEAR_COPY_OFFSET
    }
    assert exact and all(v == 1.0 for v in exact.values())
    assert near, "80%-prefix copies should collide in at least one band"
    assert all(v >= dedup.NEAR_THRESHOLD for v in near.values())


def test_simhash_hamming_zero_for_exact_copies(spark):
    from etl_moodle_and_mass_email_sending_spark.operators import dedup

    corpus = dedup.dup_corpus(spark, SF_SMALL)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(corpus).collect()
    }
    exact = {
        k: v
        for k, v in pairs.items()
        if k[0] < dedup.EXACT_COPY_OFFSET
        and k[1] == k[0] + dedup.EXACT_COPY_OFFSET
    }
    assert exact and all(v == 0 for v in exact.values())


def test_ann_matches_bruteforce_within_bucket(spark):
    """For each query, ANN's top hits are a subset of brute-force ordering
    restricted to the bucket — and the planted identical vector (if the
    query has one) is always found by brute force at rank 1 with cos 1."""
    from etl_moodle_and_mass_email_sending_spark.operators import similarity

    bf = similarity.topk_bruteforce(spark, SF_SMALL).collect()
    ann = similarity.ann_lsh_topk(spark, SF_SMALL).collect()
    assert len(bf) == similarity.N_QUERIES * similarity.TOP_K
    assert len(ann) > 0
    bf_cos = {(r["query_id"], r["vec_id"]): r["cosine"] for r in bf}
    ann_cos = {(r["query_id"], r["vec_id"]): r["cosine"] for r in ann}
    # cosine values agree wherever both report the pair
    for k in set(bf_cos) & set(ann_cos):
        assert bf_cos[k] == ann_cos[k]


def test_embedding_near_dup_finds_scaled_copies(spark):
    from etl_moodle_and_mass_email_sending_spark.operators import similarity

    pairs = similarity.embedding_near_dup_pairs(spark, SF_SMALL).collect()
    planted = [r for r in pairs if r["vec_b"] - r["vec_a"] == 100000]
    assert planted and all(r["cosine"] == 1.0 for r in planted)


def test_multimodal_fake_decode_types(spark):
    from etl_moodle_and_mass_email_sending_spark.operators import multimodal

    rows = multimodal.decode_media(
        multimodal.media_table(spark, SF_SMALL)
    ).collect()
    assert all(r["payload_len"] == 16 * multimodal.PAYLOAD_REPEAT for r in rows)
    for r in rows:
        if r["media_type"] == "image":
            assert r["width"] is not None and r["duration_ms"] is None
        elif r["media_type"] == "audio":
            assert r["width"] is None and r["duration_ms"] is not None
        else:
            assert r["n_frames"] is not None


def test_lang_id_mostly_english(spark):
    """Testbed docs are English word salads — the heuristic should call
    the bulk of them 'en' regardless of the synthetic lang label."""
    from etl_moodle_and_mass_email_sending_spark.operators import text_analysis
    from etl_moodle_and_mass_email_sending_spark.catalog import load_table

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text", "lang")
    out = text_analysis.lang_id(docs).collect()
    en = sum(1 for r in out if r["lang_pred"] == "en")
    assert en / len(out) > 0.5


class TestDedupComponents:
    def test_matches_union_find(self, spark):
        """CC labels must equal union-find components computed driver-side
        from the same edge list (min-id as representative)."""
        from etl_moodle_and_mass_email_sending_spark.operators import (
            components,
            dedup,
        )

        corpus = dedup.dup_corpus(spark, SF_SMALL)
        pairs = dedup.minhash_lsh_pairs(
            dedup.minhash_index(corpus).localCheckpoint()
        )
        got = {
            r.doc_id: r.component
            for r in components.dedup_clusters(corpus, pairs).collect()
        }
        # union-find oracle
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(x, y):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)

        edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
        for a, b in edges:
            union(a, b)
        all_ids = [r.doc_id for r in corpus.select("doc_id").collect()]
        want = {i: find(i) if i in parent else i for i in all_ids}
        assert got == want
        # clusters are non-trivial: the synthetic corpus has real dup pairs
        assert any(c != i for i, c in got.items())


class TestPackingAndTopTerms:
    def test_pack_sequences_first_fit_with_overflow(self, spark):
        """budget=10, chunks 6,6,6,3 in one lang: exclusive cumsums are
        0,6,12,18 → sequences 0,0,1,1 (seq 0 overflows to 12 tokens)."""
        from etl_moodle_and_mass_email_sending_spark.operators import (
            text_analysis,
        )

        chunks = spark.createDataFrame(
            [(1, 0, 6, "en"), (1, 1, 6, "en"), (2, 0, 6, "en"), (3, 0, 3, "en")],
            "doc_id long, chunk_index int, n_tokens long, lang string",
        )
        got = {
            r.seq_id: (r.n_chunks, r.n_docs, r.seq_tokens)
            for r in text_analysis.pack_sequences(chunks, budget=10).collect()
        }
        assert got == {0: (2, 1, 12), 1: (2, 2, 9)}

    def test_pack_sequences_conserves_tokens(self, spark):
        """Packing must not drop or duplicate chunks: per-lang token totals
        equal the chunked corpus totals."""
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark.operators import (
            text_analysis,
        )
        from etl_moodle_and_mass_email_sending_spark.catalog import load_table

        docs = load_table(spark, SF_SMALL, "documents").select(
            "doc_id", "text", "lang"
        )
        chunks = text_analysis.chunk_documents(docs, keep=("lang",))
        want = {
            r.lang: r.total
            for r in chunks.groupBy("lang")
            .agg(F.sum("n_tokens").alias("total"))
            .collect()
        }
        packed = text_analysis.pack_sequences(chunks)
        got = {
            r.lang: r.total
            for r in packed.groupBy("lang")
            .agg(F.sum("seq_tokens").alias("total"))
            .collect()
        }
        assert got == want

    def test_top_terms_ranks_by_frequency(self, spark):
        from etl_moodle_and_mass_email_sending_spark.operators import (
            text_analysis,
        )

        docs = spark.createDataFrame(
            [
                (1, "the cat the dog the", "en"),
                (2, "the dog", "en"),
                (3, "el gato", "es"),
            ],
            "doc_id long, text string, lang string",
        )
        rows = text_analysis.top_terms(docs, k=2).collect()
        en = sorted(
            [(r.rank, r.token, r.term_count, r.doc_count) for r in rows if r.lang == "en"]
        )
        assert en == [(1, "the", 4, 2), (2, "dog", 2, 2)]
        es = sorted([(r.rank, r.token) for r in rows if r.lang == "es"])
        assert es == [(1, "el"), (2, "gato")]


def test_ivf_recall_floor(spark):
    """IVF (nprobe=2 of 8 lists) must keep recall@5 >= 0.7 vs brute force
    on the testbed vectors (measured 0.86 at sf0.001); guards against a
    probe/assignment regression. Sign-bit LSH recall is documented in
    SCALE.md as near-zero on uniform random vectors by nature — not
    asserted here."""
    from etl_moodle_and_mass_email_sending_spark.operators import similarity

    bf = {
        (r.query_id, r.vec_id)
        for r in similarity.topk_bruteforce(spark, SF_SMALL).collect()
    }
    ivf = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(spark, SF_SMALL).collect()
    }
    assert len(bf & ivf) / len(bf) >= 0.7


class TestDecontamAndUnigramLM:
    def test_decontaminate_flags_only_overlapping_train_docs(self, spark):
        """DECON_BENCH_MOD=10 → docs 0 and 10 are the benchmark. Doc 1 shares
        the 4-gram 'a b c d' (case-folded), doc 3 shares three 4-grams,
        doc 2 shares none and must be absent. Benchmark docs themselves
        never appear in the output."""
        from etl_moodle_and_mass_email_sending_spark.operators import (
            text_analysis,
        )

        docs = spark.createDataFrame(
            [
                (0, "a b c d e f", "en"),
                (10, "x y z w q", "en"),
                (1, "A b c D zz", "en"),
                (2, "p q r s t", "en"),
                (3, "a b c d e f g", "en"),
            ],
            "doc_id long, text string, lang string",
        )
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(text_analysis, "DECON_BENCH_MOD", 10)
            got = {
                r.doc_id: (r.n_hit_ngrams, r.n_grams, r.contamination)
                for r in text_analysis.decontaminate(docs).collect()
            }
        assert got == {1: (1, 2, 0.5), 3: (3, 4, 0.75)}

    def test_decontaminate_short_docs_produce_no_grams(self, spark):
        """Docs shorter than n tokens contribute nothing on either side
        (ANSI mode: the sequence() guard must not throw)."""
        from etl_moodle_and_mass_email_sending_spark.operators import (
            text_analysis,
        )

        docs = spark.createDataFrame(
            [(0, "a b", "en"), (1, "a b", "en")],
            "doc_id long, text string, lang string",
        )
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(text_analysis, "DECON_BENCH_MOD", 10)
            assert text_analysis.decontaminate(docs).count() == 0

    def test_unigram_logprob_matches_hand_computation(self, spark):
        """counts a:2 b:2 c:1, total 5: doc 1 (a a b) scores ln(2/5);
        doc 2 (b c) scores (ln(2/5)+ln(1/5))/2; whitespace-only doc 3 is
        absent (nothing to score)."""
        import math

        from etl_moodle_and_mass_email_sending_spark.operators import (
            text_analysis,
        )

        docs = spark.createDataFrame(
            [(1, "a a b", "en"), (2, "b c", "en"), (3, "   ", "en")],
            "doc_id long, text string, lang string",
        )
        got = {
            r.doc_id: (r.n_scored_tokens, r.avg_logprob)
            for r in text_analysis.unigram_logprob(docs).collect()
        }
        assert got == {
            1: (3, round(math.log(0.4), 6)),
            2: (2, round((math.log(0.4) + math.log(0.2)) / 2, 6)),
        }


class TestBM25:
    def test_bm25_hand_case(self, spark):
        """2 docs, query 'cat': df=1, N=2 → idf = ln((2-1+0.5)/(1+0.5)+1)
        = ln 2; doc 1 has tf=2, dl=4; doc 2 no match (absent). avgdl=3.5;
        contribution = ln2 * (2*2.2)/(2 + 1.2*(0.25 + 0.75*4/3.5))."""
        import math

        from etl_moodle_and_mass_email_sending_spark.operators import (
            text_analysis,
        )

        docs = spark.createDataFrame(
            [(1, "cat dog cat bird", "en"), (2, "fish cow owl", "en")],
            "doc_id long, text string, lang string",
        )
        rows = text_analysis.bm25_topk(
            docs, queries=(("q", ("cat",)),), k=5
        ).collect()
        assert [(r.query_id, r.doc_id, r.rank) for r in rows] == [("q", 1, 1)]
        idf = math.log((2 - 1 + 0.5) / (1 + 0.5) + 1)
        want = idf * (2 * 2.2) / (2 + 1.2 * (1 - 0.75 + 0.75 * 4 / 3.5))
        assert abs(rows[0].score - round(want, 6)) < 1e-9

    def test_bm25_rarer_term_scores_higher(self, spark):
        """With equal tf and dl, the doc matching the rarer term outranks
        the doc matching the common term."""
        from etl_moodle_and_mass_email_sending_spark.operators import (
            text_analysis,
        )

        docs = spark.createDataFrame(
            [
                (1, "rare x y", "en"),
                (2, "common x y", "en"),
                (3, "common a b", "en"),
                (4, "common c d", "en"),
            ],
            "doc_id long, text string, lang string",
        )
        rows = text_analysis.bm25_topk(
            docs, queries=(("q", ("rare", "common")),), k=5
        ).collect()
        by_doc = {r.doc_id: r.score for r in rows}
        assert by_doc[1] > by_doc[2]


def test_kmeans_refine_matches_numpy_oracle(spark):
    """Independent numpy re-implementation of the unrolled Lloyd step:
    seed-assign by rounded cosine (ties -> lowest cid), element-wise mean
    centroids rounded to 6, re-assign. Assignments must match exactly.
    (Note: a mean-cosine improvement assertion would be unsound here —
    cosine assignment + raw-mean update is only monotone for spherical
    k-means on normalized vectors.)"""
    import numpy as np

    from etl_moodle_and_mass_email_sending_spark.operators import similarity

    vrows = sorted(
        (r.vec_id, np.array(r.vec))
        for r in similarity._vectors(spark, SF_SMALL)
        .select("vec_id", "vec")
        .collect()
    )
    ids = [i for i, _ in vrows]
    X = np.stack([v for _, v in vrows])

    def assign(cents):
        # rounded cosine, argmax with lowest-cid tie-break
        sims = np.round(
            (X @ cents.T)
            / (
                np.linalg.norm(X, axis=1)[:, None]
                * np.linalg.norm(cents, axis=1)[None, :]
            ),
            6,
        )
        return sims.argmax(axis=1), sims  # argmax takes first max = lowest cid

    seed = X[: similarity.N_CENTROIDS]
    a1, _ = assign(seed)
    cent1 = np.stack([
        np.round(X[a1 == c].mean(axis=0), 6)
        for c in range(similarity.N_CENTROIDS)
    ])
    a2, sims = assign(cent1)
    want = {ids[i]: (int(a2[i]), float(sims[i, a2[i]])) for i in range(len(ids))}

    got = {
        r.vec_id: (r.cluster, r.cos_to_centroid)
        for r in similarity.kmeans_refined_assign(spark, SF_SMALL).collect()
    }
    assert {k: v[0] for k, v in got.items()} == {k: v[0] for k, v in want.items()}
    assert all(abs(got[k][1] - want[k][1]) <= 2e-6 for k in want)


def test_source_mixture_hits_exact_weights(spark):
    """With ample availability everywhere, kept counts realize the target
    ratios exactly and the binding source is fully consumed."""
    from etl_moodle_and_mass_email_sending_spark.operators import (
        text_analysis,
    )

    docs = spark.createDataFrame(
        [(i, f"src{i % 2}") for i in range(100)],
        "doc_id long, source string",
    )
    # src0: 50 available, weight 3; src1: 50 available, weight 1
    # T = min(50/0.75, 50/0.25) = 66.66 → keep 50 and 16
    rows = {
        r.source: (r.n_available, r.n_kept, r.target_share, r.achieved_share)
        for r in text_analysis.source_mixture(
            docs, weights={"src0": 3, "src1": 1}
        ).collect()
    }
    assert rows["src0"] == (50, 50, 0.75, round(50 / 66, 6))
    assert rows["src1"] == (50, 16, 0.25, round(16 / 66, 6))


def test_source_mixture_reports_missing_and_zero_floor_sources(spark):
    """A weighted source absent from the corpus caps the mixture at zero
    (all n_kept 0, achieved 0.0); a source whose keep floors to 0 still
    appears in the report."""
    from etl_moodle_and_mass_email_sending_spark.operators import (
        text_analysis,
    )

    docs = spark.createDataFrame(
        [(i, "srcB") for i in range(10)], "doc_id long, source string"
    )
    rows = {
        r.source: (r.n_available, r.n_kept, r.achieved_share)
        for r in text_analysis.source_mixture(
            docs, weights={"srcA": 1, "srcB": 1}
        ).collect()
    }
    assert rows == {"srcA": (0, 0, 0.0), "srcB": (10, 0, 0.0)}

    docs2 = spark.createDataFrame(
        [(0, "srcA")] + [(i, "srcB") for i in range(1, 101)],
        "doc_id long, source string",
    )
    rows2 = {
        r.source: (r.n_available, r.n_kept)
        for r in text_analysis.source_mixture(
            docs2, weights={"srcA": 99, "srcB": 1}
        ).collect()
    }
    # T = min(1/0.99, 100/0.01) = 1.0101..; keep_A = 1, keep_B = floor(0.0101) = 0
    assert rows2 == {"srcA": (1, 1), "srcB": (100, 0)}


def test_sq_topk_recall_floor(spark):
    """int8 scalar quantization must keep recall@5 >= 0.8 vs the exact
    float baseline on the testbed vectors — guards the quantization
    formula (a wrong affine map or overflow collapses the ranking)."""
    from etl_moodle_and_mass_email_sending_spark.operators import similarity

    bf = {
        (r.query_id, r.vec_id)
        for r in similarity.topk_bruteforce(spark, SF_SMALL).collect()
    }
    sq = {
        (r.query_id, r.vec_id)
        for r in similarity.sq_topk(spark, SF_SMALL).collect()
    }
    assert len(bf & sq) / len(bf) >= 0.8


def test_phash_groups_exact_copies(spark):
    from etl_moodle_and_mass_email_sending_spark.operators import dedup, multimodal

    corpus = dedup.dup_corpus(spark, SF_SMALL)
    rows = multimodal.phash_dedup(corpus).collect()
    by_id = {r["doc_id"]: r for r in rows}
    # every exact copy shares its original's payload → same aHash group
    copies = [r for r in rows if r["doc_id"] >= dedup.EXACT_COPY_OFFSET
              and r["doc_id"] < dedup.NEAR_COPY_OFFSET]
    assert copies
    for c in copies:
        orig = by_id[c["doc_id"] - dedup.EXACT_COPY_OFFSET]
        assert c["phash"] == orig["phash"]
        assert c["n_copies"] >= 2
        assert c["canonical_id"] == orig["canonical_id"] <= orig["doc_id"]
    assert all(len(r["phash"]) == 64 and set(r["phash"]) <= {"0", "1"}
               for r in rows[:20])


def test_kmv_estimate_tracks_exact_count(spark):
    from etl_moodle_and_mass_email_sending_spark.operators import sketches
    from etl_moodle_and_mass_email_sending_spark.catalog import load_table

    events = load_table(spark, SF_SMALL, "events")
    rows = sketches.kmv_distinct(events, "event_type", "user_id").collect()
    assert rows
    for r in rows:
        if r["n_exact"] < sketches.KMV_K:
            assert r["kmv_estimate"] == float(r["n_exact"])
        else:
            # KMV with k=64 has ~1/sqrt(k-2) ≈ 13% relative std error;
            # allow 4 sigma
            assert abs(r["kmv_estimate"] - r["n_exact"]) / r["n_exact"] < 0.52


def test_boilerplate_ngrams_catch_planted_copies(spark):
    from etl_moodle_and_mass_email_sending_spark.operators import dedup, text_analysis

    corpus = dedup.dup_corpus(spark, SF_SMALL)
    spans = text_analysis.boilerplate_ngrams(corpus).collect()
    assert spans
    # every span of an exactly-copied doc appears in ≥2 docs, so copied
    # docs' spans are all present; and no span is single-doc
    assert all(s["n_docs"] >= 2 for s in spans)
    assert all(s["n_total"] >= s["n_docs"] for s in spans)
    assert all(len(s["ngram"].split(" ")) == text_analysis.BOILERPLATE_N
               for s in spans[:50])


def test_pagerank_floor_and_ordering(spark):
    from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
        _graph_pagerank,
    )

    rows = _graph_pagerank(spark, SF_SMALL).collect()
    n = len(rows)
    floor = round(0.15 / n, 6)
    by_rank = sorted(r["pagerank"] for r in rows)
    # docs with no in-edges sit exactly at the damping floor; every rank
    # is at or above it, and planted duplicates push some docs above
    assert by_rank[0] == pytest.approx(floor, abs=1e-6)
    assert all(r >= floor - 1e-9 for r in by_rank)
    assert by_rank[-1] > floor * 2


def test_tfidf_keywords_rank_and_bounds(spark):
    from etl_moodle_and_mass_email_sending_spark.operators import text_analysis
    from etl_moodle_and_mass_email_sending_spark.queries.llmdata import _docs

    rows = text_analysis.tfidf_keywords(_docs(spark, SF_SMALL)).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rs in by_doc.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(rs) <= text_analysis.TFIDF_TOP_K
        # ranking is by tfidf desc (token tie-break)
        srt = sorted(rs, key=lambda r: r["rank"])
        for a, b in zip(srt, srt[1:]):
            assert a["tfidf"] >= b["tfidf"]


def test_zorder_interleave_roundtrip(spark):
    from etl_moodle_and_mass_email_sending_spark.operators.sketches import (
        ZORDER_BITS,
        zorder_value,
    )

    rows = spark.createDataFrame(
        [(a, b) for a in (0, 1, 5, 1000, 65535) for b in (0, 3, 42, 65535)],
        "a long, b long",
    ).withColumn("z", zorder_value("a", "b")).collect()

    def deinterleave(z):
        a = b = 0
        for i in range(ZORDER_BITS):
            a |= ((z >> (2 * i)) & 1) << i
            b |= ((z >> (2 * i + 1)) & 1) << i
        return a, b

    for r in rows:
        assert deinterleave(r["z"]) == (r["a"], r["b"])


def test_semantic_dedup_drops_copies_keeps_originals(spark):
    from etl_moodle_and_mass_email_sending_spark.operators import similarity

    dropped = similarity.semantic_dedup(spark, SF_SMALL).collect()
    assert len(dropped) > 0
    # every dropped vector is an injected scaled copy, attributed to its
    # original (cosine 1.0 to a scaled self), never an original
    for r in dropped:
        assert r["vec_id"] >= 100000
        assert r["dup_of"] == r["vec_id"] - 100000
        assert r["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_gopher_rules_flags_follow_measurements(spark):
    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.operators import (
        text_analysis as ta,
    )

    docs = spark.createDataFrame(
        [
            # long enough, clean prose → keep
            (1, " ".join(["the quick brown fox jumps over a lazy dog"] * 8)),
            # too short
            (2, "tiny doc"),
            # bullet-dominated
            (3, "\n".join(["- item " + "the a of and to in is for w"] * 5)),
            # symbol-heavy
            (4, " ".join(["the###tag"] * 60)),
        ],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en"))
    rows = {r["doc_id"]: r for r in ta.gopher_rules(docs).collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["keep"] is False and rows[2]["n_words"] < 50
    assert rows[3]["keep"] is False and rows[3]["bullet_line_frac"] > 0.9
    assert rows[4]["keep"] is False and rows[4]["symbol_word_ratio"] > 0.1


def test_dsir_weights_favor_target_domain(spark):
    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.operators import (
        text_analysis as ta,
    )

    # target (en) docs share bigrams; the out-of-domain doc shares none —
    # its buckets only ever hold raw mass, so its weight must be lower
    en = "the cat sat on the mat and the dog sat on the rug"
    docs = spark.createDataFrame(
        [(1, en, "en"), (2, en, "en"), (3, en, "en"),
         (4, "zzz qqq www eee rrr ttt yyy uuu iii ooo", "xx")],
        "doc_id long, text string, lang string",
    )
    rows = {r["doc_id"]: r["dsir_weight"] for r in ta.dsir_weights(docs).collect()}
    assert rows[1] > rows[4]
    assert rows[1] == rows[2] == rows[3]


def test_cms_estimate_dominates_exact_and_ranks_heavy_keys(spark):
    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.operators import sketches

    # one heavy key (x200), some light ones
    rows = [("hot",)] * 200 + [(f"k{i}",) for i in range(300) for _ in (0,)]
    df = spark.createDataFrame(rows, "key string").select(
        F.col("key").alias("user_id")
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sketches, "CMS_TOP_K", 5)
        out = sketches.cms_heavy_hitters(df, "user_id").collect()
    assert out[0]["user_id"] == "hot" and out[0]["n_exact"] == 200
    # CMS error is one-sided: estimate >= exact, always
    assert all(r["cms_estimate"] >= r["n_exact"] for r in out)


def test_bloom_prejoin_has_no_false_negatives(spark):
    from etl_moodle_and_mass_email_sending_spark import registry

    rows = registry.queries()["rel_bloom_prejoin"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        # bloom may over-admit, never under-admit
        assert r["n_bloom_pass"] >= r["n_true_match"]
        assert r["n_false_pos"] == r["n_bloom_pass"] - r["n_true_match"]
        assert r["n_probe"] >= r["n_bloom_pass"]


def test_cdc_chunk_stability_and_dedup(spark):
    """CDC's selling point: identical passages chunk identically across
    documents (the planted exact copies produce all-duplicate digests),
    and a local edit only perturbs chunks near it."""
    from etl_moodle_and_mass_email_sending_spark.operators import (
        dedup,
        text_analysis as ta,
    )

    out = ta.cdc_chunks(dedup.dup_corpus(spark, SF_SMALL))
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # every chunk of an exact copy (doc_id = original + offset) is a
    # duplicate of the original's chunk
    originals = {
        d
        for d in by_doc
        if d < dedup.EXACT_COPY_OFFSET
        and d + dedup.EXACT_COPY_OFFSET in by_doc
    }
    assert originals
    for d in list(originals)[:10]:
        copy = by_doc[d + dedup.EXACT_COPY_OFFSET]
        assert {c["digest"] for c in copy} == {c["digest"] for c in by_doc[d]}
        assert all(c["n_occurrences"] >= 2 for c in copy)
    # chunk ids are contiguous from 0 and token counts are positive
    for d, cs in list(by_doc.items())[:20]:
        ids = sorted(c["chunk_id"] for c in cs)
        assert ids == list(range(len(ids)))
        assert all(c["n_tokens"] > 0 for c in cs)


def test_pq_encoding_is_complete_and_books_are_refined(spark):
    """Every corpus vector encodes to exactly PQ_M codes (one per
    subspace, codewords within [0, PQ_K)), and the refined codebooks
    carry PQ_SUB-dim centroids for every (m, cid) the corpus uses."""
    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.operators import similarity as S
    from tests.conftest import SF_SMALL

    v = S._vectors(spark, SF_SMALL).select("vec_id", "vec")
    n_vec = v.count()
    subs = S._subvectors(v)
    assert subs.count() == n_vec * S.PQ_M
    books = S._pq_codebooks(subs).collect()
    assert all(len(r["cvec"]) == S.PQ_SUB for r in books)
    assert all(0 <= r["cid"] < S.PQ_K for r in books)
    out = S.pq_topk(spark, SF_SMALL)
    rows = out.collect()
    # exactly TOP_K ranked neighbors per query, no self-matches
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
        assert r["vec_id"] != r["query_id"]
    assert len(per_q) == S.N_QUERIES
    for q, rs in per_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, S.TOP_K + 1))
        dists = [r["adc_dist"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert dists == sorted(dists)


def test_mrl_rerank_recall_floor(spark):
    """The MRL funnel's re-rank is exact, so its top-K must overlap the
    brute-force top-K substantially (the prefix stage only risks losing
    neighbors whose prefix cosine falls outside the candidate pool)."""
    from etl_moodle_and_mass_email_sending_spark.operators import similarity as S

    bf = {
        (r["query_id"], r["vec_id"])
        for r in S.topk_bruteforce(spark, SF_SMALL).collect()
    }
    mrl_rows = S.mrl_topk(spark, SF_SMALL).collect()
    mrl = {(r["query_id"], r["vec_id"]) for r in mrl_rows}
    recall = len(mrl & bf) / len(bf)
    # i.i.d. random vectors are the worst case for a prefix funnel (the
    # prefix carries only 1/4 of the direction, unlike trained MRL
    # embeddings) — so the floor is modest, but it must decisively beat
    # the random-candidate baseline of MRL_CAND/N
    n = S._vectors(spark, SF_SMALL).count()
    assert recall >= 0.3
    assert recall > 3 * S.MRL_CAND / n
    # exactly TOP_K ranked rows per query, self-match excluded
    per_q = {}
    for r in mrl_rows:
        per_q.setdefault(r["query_id"], []).append(r)
        assert r["vec_id"] != r["query_id"]
    assert len(per_q) == S.N_QUERIES
    for rs in per_q.values():
        assert sorted(r["rank"] for r in rs) == list(range(1, S.TOP_K + 1))


def test_knn_graph_edges_are_mutual_and_canonical(spark):
    """Every surviving edge is canonical (src < dst) and appears once;
    mutuality bounds each node's degree by KNN_K; edges carry a valid
    cosine and connect bucket-mates of the directed stage."""
    from etl_moodle_and_mass_email_sending_spark.operators import similarity as S

    rows = S.knn_graph(spark, SF_SMALL).collect()
    assert rows, "graph is empty"
    edges = [(r["src"], r["dst"]) for r in rows]
    assert len(edges) == len(set(edges))
    assert all(s < d for s, d in edges)
    assert all(-1.0 <= r["cosine"] <= 1.0 for r in rows)
    deg = {}
    for s, d in edges:
        deg[s] = deg.get(s, 0) + 1
        deg[d] = deg.get(d, 0) + 1
    assert max(deg.values()) <= S.KNN_K


def test_substring_dedup_flags_planted_copies(spark):
    """Exact copies share every K-token window with their original, so
    the copy's dup_fraction is 1.0 and it is flagged; an original whose
    windows are corpus-unique stays unflagged."""
    from etl_moodle_and_mass_email_sending_spark.operators import (
        dedup,
        text_analysis as ta,
    )

    out = {
        r["doc_id"]: r
        for r in ta.substring_dedup(dedup.dup_corpus(spark, SF_SMALL)).collect()
    }
    copies = [
        d
        for d in out
        if dedup.EXACT_COPY_OFFSET <= d < dedup.NEAR_COPY_OFFSET
    ]
    assert copies
    for d in copies:
        assert out[d]["dup_fraction"] == 1.0
        assert out[d]["flagged"]
        orig = out[d - dedup.EXACT_COPY_OFFSET]
        assert orig["n_windows"] == out[d]["n_windows"]
    # counts are consistent
    for r in out.values():
        assert 0 <= r["n_dup_windows"] <= r["n_windows"]


def test_quality_classifier_prob_matches_keep_and_is_deterministic(spark):
    """quality_prob is a valid probability, keep is exactly the
    prob > 0.5 decision (integer-sum sign), and re-running scores
    identically (no RNG, no model state)."""
    from etl_moodle_and_mass_email_sending_spark.operators import (
        dedup,
        text_analysis as ta,
    )

    corpus = dedup.dup_corpus(spark, SF_SMALL)
    rows = {r["doc_id"]: r for r in ta.quality_classifier(corpus).collect()}
    assert rows
    for r in rows.values():
        assert 0.0 < r["quality_prob"] < 1.0
        if r["quality_prob"] != 0.5:
            assert r["keep"] == (r["quality_prob"] > 0.5)
    again = {r["doc_id"]: r for r in ta.quality_classifier(corpus).collect()}
    assert {d: r["quality_prob"] for d, r in rows.items()} == {
        d: r["quality_prob"] for d, r in again.items()
    }


def test_kcore_peels_chains_keeps_cliques(spark):
    """A hand-built graph: a 4-clique (every node degree 3) survives
    2-core peeling; a pendant chain hanging off it peels away round by
    round; an isolated edge vanishes in round 1."""
    from etl_moodle_and_mass_email_sending_spark.operators.components import (
        kcore,
    )

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    chain = [(3, 10), (10, 11), (11, 12)]
    lone = [(20, 21)]
    edges = spark.createDataFrame(
        clique + chain + lone, ["src", "dst"]
    )
    out = {r["id"]: r["degree"] for r in kcore(edges).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(d == 3 for d in out.values())


def test_kmv_setops_tracks_exact_counts(spark):
    """Inclusion-exclusion sanity: union + intersection = |A| + |B|
    exactly, and both KMV estimates land within 35% of the exact values
    (k=64 → σ ≈ 1/√62 ≈ 13%)."""
    from etl_moodle_and_mass_email_sending_spark.catalog import load_table
    from etl_moodle_and_mass_email_sending_spark.operators import sketches

    row = sketches.kmv_setops(
        load_table(spark, SF_SMALL, "events"),
        "event_type",
        "user_id",
        "click",
        "purchase",
    ).collect()[0]
    assert (
        row["n_exact_union"] + row["n_exact_intersection"]
        == row["n_exact_a"] + row["n_exact_b"]
    )
    assert row["kmv_union"] == pytest.approx(row["n_exact_union"], rel=0.35)
    assert row["kmv_intersection"] == pytest.approx(
        row["n_exact_intersection"], rel=0.35, abs=3.0
    )


def test_weighted_sample_favors_heavy_docs(spark):
    """A-ES draws must over-represent heavy docs: the sampled mean
    n_chars exceeds the population mean per language, sample size and
    ranks are exact, and the draw is reproducible."""
    from etl_moodle_and_mass_email_sending_spark.catalog import load_table
    from etl_moodle_and_mass_email_sending_spark.operators import (
        text_analysis as ta,
    )

    docs = load_table(spark, SF_SMALL, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    rows = ta.weighted_sample(docs).collect()
    pop = {
        r["lang"]: r["m"]
        for r in docs.groupBy("lang").agg(
            __import__("pyspark.sql.functions", fromlist=["avg"]).avg(
                "n_chars"
            ).alias("m")
        ).collect()
    }
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert by_lang
    heavier = 0
    for lang, rs in by_lang.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
        if sum(r["n_chars"] for r in rs) / len(rs) > pop[lang]:
            heavier += 1
    # weighting must show: sampled mean beats population mean in most strata
    assert heavier >= len(by_lang) - 1
    again = ta.weighted_sample(docs).collect()
    assert {(r["lang"], r["doc_id"]) for r in again} == {
        (r["lang"], r["doc_id"]) for r in rows
    }


def test_clip_align_scores_bounded_and_only_images(spark):
    """Alignment scores are valid cosines over non-negative towers
    (∈ (0, 1]), only image docs appear, and keep mirrors the threshold."""
    from etl_moodle_and_mass_email_sending_spark.operators import multimodal

    from etl_moodle_and_mass_email_sending_spark.catalog import load_table

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "text", "lang"
    )
    media = multimodal.media_table(spark, SF_SMALL)
    rows = multimodal.clip_align(media, docs).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % 3 == 0  # media_table maps doc_id%3==0 → image
        assert 0.0 < r["clip_score"] <= 1.0
        assert r["keep"] == (r["clip_score"] >= multimodal.CLIP_THRESHOLD)


def test_bfs_depth_hand_graph(spark):
    """Path graph 0-1-2-3-4 with seed {0}: depths are hop counts capped
    at BFS_ROUNDS; node 4 (3 hops) is absent; a disconnected seed stays
    at depth 0."""
    from etl_moodle_and_mass_email_sending_spark.operators.components import (
        BFS_ROUNDS,
        bfs_depth,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,), (99,)], ["id"])
    out = {r["id"]: r["depth"] for r in bfs_depth(edges, seeds).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 99: 0}
    assert BFS_ROUNDS == 2


def test_two_hop_degree_cap_constrains_mid_only(spark):
    """Hub graph regression (ADVICE r7): cap must drop paths through a
    high-degree MID vertex but keep pairs whose ENDPOINT is the hub.
    Graph: hub 100 — {1,2,3,4,6} (deg 5 > cap 3); chain 5 — 6 — 100
    (deg(6) = 2 <= cap). The only surviving pair is (5, 100) via mid 6;
    the round-7 bug filtered the r side on the endpoint and dropped it."""
    from etl_moodle_and_mass_email_sending_spark.operators.components import (
        jaccard_neighbors,
        two_hop_candidates,
    )

    edges = spark.createDataFrame(
        [(100, 1), (100, 2), (100, 3), (100, 4), (6, 100), (5, 6)],
        ["src", "dst"],
    )
    out = [
        (r["doc_a"], r["doc_b"], r["n_paths"])
        for r in two_hop_candidates(edges, degree_cap=3).collect()
    ]
    assert out == [(5, 100, 1)]

    # jaccard over the SAME capped neighbor sets (ADVICE item 4):
    # N_low(5) = {6}, N_low(100) = {1,2,3,4,6} (all deg <= 3), common
    # low-degree mids = {6} -> 1 / (1 + 5 - 1) = 0.2
    jac = jaccard_neighbors(edges, degree_cap=3).collect()
    assert [(r["doc_a"], r["doc_b"], r["n_common"], r["jaccard"]) for r in jac] == [
        (5, 100, 1, 0.2)
    ]


def test_two_hop_oracle_mirrors_degree_cap(spark):
    """The DuckDB oracles compute the SAME capped quantity as Spark on a
    hub-bearing graph (ADVICE item 2 — parity previously held only
    because the testbed's max degree is 3)."""
    import duckdb

    from etl_moodle_and_mass_email_sending_spark.operators.components import (
        jaccard_neighbors,
        sql_jaccard_neighbors,
        sql_two_hop_candidates,
        two_hop_candidates,
    )

    pairs = [(100, 1), (100, 2), (100, 3), (100, 4), (6, 100), (5, 6)]
    edges_sql = (
        "SELECT * FROM (VALUES "
        + ", ".join(f"({a}, {b})" for a, b in pairs)
        + ") AS t(src, dst)"
    )
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    con = duckdb.connect()
    for cap in (3, 64):
        got = sorted(
            tuple(r)
            for r in two_hop_candidates(edges, degree_cap=cap).collect()
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                sql_two_hop_candidates(edges_sql, degree_cap=cap)
            ).fetchall()
        )
        assert got == want, f"two_hop cap={cap}"
        gj = sorted(
            tuple(r)
            for r in jaccard_neighbors(edges, degree_cap=cap).collect()
        )
        wj = sorted(
            tuple(r)
            for r in con.execute(
                sql_jaccard_neighbors(edges_sql, degree_cap=cap)
            ).fetchall()
        )
        assert gj == wj, f"jaccard cap={cap}"


def test_payload_byte_stats_variable_lengths(spark):
    """ADVICE item 5: payload lengths differ row to row (truncation is
    the screened-for condition); zero-length payloads emit no row, and
    shares divide by each row's own length."""
    from etl_moodle_and_mass_email_sending_spark.operators import multimodal

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"\x00\x00\x01")),
            (2, "audio", bytearray(b"\xff")),
            (3, "video", bytearray(b"")),
            (4, "image", bytearray(b"\x07" * 8)),
        ],
        schema="doc_id long, media_type string, payload binary",
    )
    rows = {
        r["doc_id"]: (r["n_distinct_bytes"], r["top_byte"], r["top_share"])
        for r in multimodal.payload_byte_stats(media).collect()
    }
    assert rows == {
        1: (2, 0, 0.666667),
        2: (1, 255, 1.0),
        4: (1, 7, 1.0),
    }


def test_contamination_direction_separates_leak_directions(spark):
    """Planted leak directions: source 'crawl' smears ONE eval doc's
    text across most of its training docs (eval→train: high train rate,
    low eval rate, ratio > 1); source 'seed' has one training doc whose
    grams hit EVERY eval doc (train→eval: ratio < 1)."""
    from etl_moodle_and_mass_email_sending_spark.operators import (
        text_analysis,
    )

    eval_texts = {
        0: "alpha beta gamma delta epsilon",      # doc_id % 5 == 0 -> eval
        5: "one two three four five six",
        10: "red green blue yellow purple",
    }
    rows = [(i, t, "bench") for i, t in eval_texts.items()]
    # 'crawl': 4 train docs, 3 of which quote eval doc 0
    for k, i in enumerate((1, 2, 3, 4)):
        t = "alpha beta gamma delta epsilon" if k < 3 else "calm quiet words here now"
        rows.append((i, t, "crawl"))
    # 'seed': 2 train docs; one contains a 4-gram from EVERY eval doc
    rows.append((6, "alpha beta gamma delta one two three four red green blue yellow", "seed"))
    rows.append((7, "totally unrelated text goes here", "seed"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(text_analysis, "DECON_BENCH_MOD", 5)
        got = {
            r["source"]: r
            for r in text_analysis.contamination_direction(df).collect()
        }
    assert set(got) == {"crawl", "seed"}
    c, s = got["crawl"], got["seed"]
    assert (c["n_train_docs"], c["n_contam_train_docs"]) == (4, 3)
    assert c["n_contam_eval_docs"] == 1
    assert s["n_contam_train_docs"] == 1 and s["n_contam_eval_docs"] == 3
    assert c["direction_ratio"] > 1 > s["direction_ratio"]
    # exact rates: crawl 0.75 / (1/3); seed 0.5 / 1.0
    assert abs(c["train_doc_rate"] - 0.75) < 1e-9
    assert abs(c["eval_doc_rate"] - round(1 / 3, 6)) < 1e-9
    assert abs(s["direction_ratio"] - 0.5) < 1e-9


def test_cluster_quota_is_sublinear_and_consistent(spark):
    """quota = ceil(sqrt(n)): singletons keep everything, big clusters
    keep a sub-linear slice; quotas are consistent with the staged
    cluster frame's sizes."""
    from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
        _dedup_cluster_quota,
        _staged_clusters,
    )
    import math

    rows = _dedup_cluster_quota(spark, SF_SMALL).collect()
    assert rows
    sizes = {
        r["component"]: r["cluster_size"]
        for r in _staged_clusters(spark, SF_SMALL).collect()
    }
    # one row per staged cluster, sizes consistent with the staged frame
    assert {r["cluster"] for r in rows} == set(sizes)
    assert all(r["cluster_size"] == sizes[r["cluster"]] for r in rows)
    for r in rows:
        n, q = r["cluster_size"], r["quota"]
        assert q == math.ceil(math.sqrt(n))
        assert 1 <= q <= n
        assert r["n_dropped"] == n - q
        assert abs(r["keep_rate"] - round(q / n, 6)) < 1e-9
        if n == 1:
            assert q == 1 and r["keep_rate"] == 1.0


def test_source_outliers_match_numpy_per_source_zscores(spark):
    """sim_source_outliers == a numpy per-source population-z reference
    over the prefix norms (join on vec_id = doc_id)."""
    import numpy as np
    import duckdb

    from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
        NORM_PREFIX_DIMS,
        NORM_Z_THRESHOLD,
        source_norm_outliers,
    )

    got = {
        r["vec_id"]: (r["source"], r["z_score"])
        for r in source_norm_outliers(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    vecs = con.execute(
        f"SELECT e.vec_id, d.source, e.embedding FROM "
        f"'{SF_SMALL}/embeddings.parquet' e JOIN "
        f"'{SF_SMALL}/documents.parquet' d ON e.vec_id = d.doc_id"
    ).fetchall()
    by_src: dict[str, list] = {}
    for vid, src, emb in vecs:
        nrm = round(float(np.sqrt(np.dot(emb[:NORM_PREFIX_DIMS], emb[:NORM_PREFIX_DIMS]))), 6)
        by_src.setdefault(src, []).append((vid, nrm))
    want = {}
    for src, members in by_src.items():
        ns = np.array([m[1] for m in members])
        mu, sd = ns.mean(), ns.std()
        for vid, nrm in members:
            if sd > 0 and abs((nrm - mu) / sd) > NORM_Z_THRESHOLD:
                want[vid] = src
    assert set(got) == set(want)
    for vid in got:
        assert got[vid][0] == want[vid]


def test_kcenter_sample_matches_greedy_reference(spark):
    """sim_kcenter_sample == a numpy greedy farthest-point reference
    with the same rounding and tie policy; radii are non-increasing."""
    import numpy as np
    import duckdb

    from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
        KCENTER_K,
        kcenter_sample,
    )

    got = sorted(
        (r["rank"], r["vec_id"], r["min_dist"])
        for r in kcenter_sample(spark, SF_SMALL).collect()
    )
    con = duckdb.connect()
    vecs = dict(
        con.execute(
            f"SELECT vec_id, embedding FROM '{SF_SMALL}/embeddings.parquet'"
        ).fetchall()
    )
    ids = sorted(vecs)
    V = {i: np.array(vecs[i], dtype=np.float64) for i in ids}

    def cdist(a, b):
        c = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        return round(1 - round(c, 6), 6)

    centers = [min(ids)]
    md = {i: cdist(V[i], V[centers[0]]) for i in ids if i != centers[0]}
    want = [(0, centers[0], None)]
    for r in range(1, KCENTER_K):
        w = min(md, key=lambda i: (-md[i], i))
        want.append((r, w, md[w]))
        del md[w]
        for i in md:
            md[i] = min(md[i], cdist(V[i], V[w]))
    assert got == sorted(want)
    radii = [d for _, _, d in got if d is not None]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_cross_source_matrix_is_canonical_and_complete(spark):
    """Matrix cells are canonically ordered (source_a <= source_b),
    shares sum to 1, and the cell total equals the staged pair count."""
    from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
        _dedup_cross_source_matrix,
        _staged_pairs,
    )

    rows = _dedup_cross_source_matrix(spark, SF_SMALL).collect()
    assert rows
    assert all(r["source_a"] <= r["source_b"] for r in rows)
    n_pairs = _staged_pairs(spark, SF_SMALL).count()
    assert sum(r["n_pairs"] for r in rows) == n_pairs
    assert abs(sum(r["pair_share"] for r in rows) - 1.0) < 1e-3


def test_pack_efficiency_budget_tradeoffs(spark):
    """Fill/overflow report is internally consistent: one row per
    budget, rates in [0, 1], and token mass conservation holds — the
    packed tokens per budget all equal the corpus chunk-token total."""
    from etl_moodle_and_mass_email_sending_spark.operators import text_analysis
    from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
        PACK_EFF_BUDGETS,
        _docs,
        _text_pack_efficiency,
    )

    rows = {r["budget"]: r for r in _text_pack_efficiency(spark, SF_SMALL).collect()}
    assert set(rows) == set(PACK_EFF_BUDGETS)
    total_tokens = (
        text_analysis.chunk_documents(_docs(spark, SF_SMALL), keep=("lang",))
        .groupBy()
        .sum("n_tokens")
        .collect()[0][0]
    )
    for b, r in rows.items():
        assert 0.0 < r["fill_rate"] <= 1.5  # overflow can push past 1
        assert 0.0 <= r["overflow_rate"] <= 1.0
        # fill_rate * n_seqs * budget == total tokens (to rounding)
        assert abs(r["fill_rate"] * r["n_seqs"] * b - total_tokens) < max(
            1.0, 1e-5 * total_tokens
        )
    # larger budget -> no more sequences than a smaller one
    ns = [rows[b]["n_seqs"] for b in sorted(rows)]
    assert all(a >= b for a, b in zip(ns, ns[1:]))


def test_source_shift_conserves_mass_and_matches_keepers(spark):
    """Share columns each sum to 1; keeper counts equal the per-source
    min-id survivors computed directly from the staged clusters."""
    from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
        _dedup_source_shift,
        _staged_clusters,
    )

    rows = _dedup_source_shift(spark, SF_SMALL).collect()
    assert rows
    assert abs(sum(r["share_before"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["share_after"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["share_shift"] for r in rows)) < 1e-3
    clusters = _staged_clusters(spark, SF_SMALL).collect()
    n_clusters = len({r["component"] for r in clusters})
    assert sum(r["n_kept"] for r in rows) == n_clusters
    assert sum(r["n_docs"] for r in rows) == len(clusters)
    for r in rows:
        assert 0 < r["n_kept"] <= r["n_docs"]


def test_contamination_pairs_find_planted_copy_and_cap_boilerplate(spark):
    """Pair drill-down: a train doc quoting one eval doc pairs with
    exactly that doc; a gram shared by MANY eval docs (boilerplate) is
    excluded from evidence by the CONTAM_GRAM_MAX_DF cap."""
    from etl_moodle_and_mass_email_sending_spark.operators import (
        text_analysis,
    )

    boiler = "answer the following question carefully"
    rows = []
    # eval docs (doc_id % 5 == 0): all share the boilerplate prefix,
    # each has a unique tail
    for i, tail in ((0, "alpha beta gamma delta"), (5, "one two three four"),
                    (10, "red green blue yellow")):
        rows.append((i, f"{boiler} {tail}", "bench"))
    # train doc 1 copies eval doc 0's tail AND the boilerplate
    rows.append((1, f"{boiler} alpha beta gamma delta", "crawl"))
    # train doc 2 carries ONLY the boilerplate -> no rare evidence
    rows.append((2, f"{boiler} something else entirely here", "crawl"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(text_analysis, "DECON_BENCH_MOD", 5)
        mp.setattr(text_analysis, "CONTAM_GRAM_MAX_DF", 1)
        got = {
            (r["train_doc_id"], r["eval_doc_id"]): r["n_shared_grams"]
            for r in text_analysis.contamination_pairs(df).collect()
        }
    # with CONTAM_GRAM_MAX_DF=1 the boilerplate grams (df=3) are dropped; doc 1
    # still pairs with eval doc 0 through the unique-tail grams
    assert set(got) == {(1, 0)}
    assert got[(1, 0)] >= 2


def test_incremental_dedup_verdicts(spark):
    """Round-9 cross-snapshot dedup: an exact re-crawl is dropped with
    the right best-match id, a fresh doc is admitted, and a doc
    near-dupping TWO frozen docs reports both matches with the
    higher-est (then lower-id) one as best."""
    from etl_moodle_and_mass_email_sending_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    frozen = spark.createDataFrame(
        [(1, base), (2, base + " extra trailing words here")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (101, base),  # exact copy of 1, near-dup of 2
            (102, "completely unrelated words about spark engines"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.incremental_dedup(
            dedup.minhash_index(frozen).localCheckpoint(),
            dedup.minhash_index(incoming).localCheckpoint(),
        ).collect()
    }
    assert not out[101]["admitted"]
    assert out[101]["n_frozen_matches"] >= 1
    assert out[101]["match_id"] == 1  # exact match (est 1.0) beats near
    assert out[101]["match_est"] == 1.0
    assert out[102]["admitted"]
    assert out[102]["n_frozen_matches"] == 0
    assert out[102]["match_id"] is None


def test_cluster_diversity_matches_bruteforce_pairs(spark):
    """The variance-identity diversity equals the brute-force mean
    pairwise squared L2 distance (here on constructed vectors assigned
    to two centroids), and singletons report NULL."""
    import itertools

    import numpy as np

    from etl_moodle_and_mass_email_sending_spark.operators import similarity
    from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
        cluster_diversity,
    )

    # monkeypatch-free: drive the internals directly
    from pyspark.sql import functions as F

    vecs = {
        0: [1.0, 0.0], 1: [0.9, 0.1], 2: [1.1, -0.2],  # cluster around c0
        3: [-1.0, 0.5],                                 # singleton-ish
    }
    cents = {0: [1.0, 0.0], 1: [-1.0, 0.5]}
    v = spark.createDataFrame(
        [(i, vec) for i, vec in vecs.items()],
        "vec_id long, vec array<double>",
    )
    cent = spark.createDataFrame(
        [(c, vec) for c, vec in cents.items()],
        "cid long, cvec array<double>",
    )
    assigned = similarity.ivf_assign(v, cent, n_best=1)
    cells = (
        assigned.select("cid", F.posexplode("vec").alias("dim", "x"))
        .groupBy("cid", "dim")
        .agg(F.sum("x").alias("s1"),
             F.sum(F.col("x") * F.col("x")).alias("s2"),
             F.count("*").alias("n"))
    )
    per = (
        cells.groupBy("cid")
        .agg(F.min("n").alias("n_members"),
             F.sum(F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
             .alias("ss"))
        .collect()
    )
    got = {r["cid"]: r for r in per}
    members = {0: [vecs[0], vecs[1], vecs[2]], 1: [vecs[3]]}
    for cid, ms in members.items():
        assert got[cid]["n_members"] == len(ms)
        if len(ms) > 1:
            pairs = [
                float(np.sum((np.array(a) - np.array(b)) ** 2))
                for a, b in itertools.combinations(ms, 2)
            ]
            expect = sum(pairs) / len(pairs)
            div = 2 * got[cid]["ss"] / (len(ms) - 1)
            assert abs(div - expect) < 1e-9
    # and the registered end-to-end form runs with NULL-safe singletons
    out = cluster_diversity(spark, SF_SMALL).collect()
    assert all(
        (r["n_members"] == 1) == (r["mean_pair_sq_dist"] is None)
        for r in out
    )


def test_pii_density_counts_known_hits(spark):
    from etl_moodle_and_mass_email_sending_spark.operators.text_analysis import (
        pii_density,
    )

    docs = spark.createDataFrame(
        [
            (1, "contact a@b.com and c@d.org today", "web"),
            (2, "call +1 (555) 123-4567 now", "web"),
            (3, "nothing sensitive here at all", "web"),
            (4, "x@y.io", "mail"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source"], r["pii_type"]): r for r in pii_density(docs).collect()
    }
    assert out[("web", "email")]["n_hits"] == 2
    assert out[("web", "email")]["n_docs_hit"] == 1
    assert out[("web", "phone")]["n_hits"] == 1
    assert out[("web", "phone")]["n_docs_hit"] == 1
    assert out[("mail", "email")]["n_hits"] == 1
    assert out[("mail", "phone")]["n_hits"] == 0
    # web: 5 + 5 + 5 = 15 tokens; 2 email hits -> 2000/15
    assert abs(
        out[("web", "email")]["hits_per_1k_tokens"] - round(2000 / 15, 6)
    ) < 1e-9


def test_mmr_topk_diversifies_greedily(spark):
    """MMR invariants vs the exact baseline: rank 1 IS the top-relevance
    candidate (λ·rel is monotone in rel), every pick comes from the
    top-C candidate set, picks never repeat, and each step's recorded
    mmr_score equals the greedy recomputation from the certified
    cosine formulas."""
    import math

    from pyspark.sql import functions as F

    from etl_moodle_and_mass_email_sending_spark.operators import similarity

    got = similarity.mmr_topk(spark, SF_SMALL).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    bf_top1 = {
        r.query_id: r.vec_id
        for r in similarity.topk_bruteforce(spark, SF_SMALL).collect()
        if r.rank == 1
    }
    # recompute rel + pair sims from the same certified formula
    v = spark.read.parquet(SF_SMALL + "/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("vec"),
    )
    q = v.filter(F.col("vec_id") < similarity.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    rels = {
        (r.query_id, r.vec_id): r.rel
        for r in v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(similarity._spark_cosine("qvec", "vec")).alias("rel"),
        )
        .collect()
    }
    pick_ids = sorted({r.vec_id for rows in by_q.values() for r in rows})
    pv = v.filter(F.col("vec_id").isin([int(i) for i in pick_ids]))
    sims = {
        (r.a, r.b): r.s
        for r in pv.select(F.col("vec_id").alias("a"), F.col("vec").alias("avec"))
        .crossJoin(pv.select(F.col("vec_id").alias("b"), F.col("vec").alias("bvec")))
        .filter(F.col("a") != F.col("b"))
        .select("a", "b", F.expr(similarity._spark_cosine("avec", "bvec")).alias("s"))
        .collect()
    }
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, similarity.MMR_K + 1))
        assert len({r.vec_id for r in rows}) == len(rows)
        assert rows[0].vec_id == bf_top1[qid]
        sel = []
        for r in rows:
            t = similarity.MMR_LAMBDA * rels[(qid, r.vec_id)]
            if sel:
                t -= similarity.MMR_MU * max(sims[(r.vec_id, s)] for s in sel)
            assert r.mmr_score == math.floor(t * 1e6 + 0.5) / 1e6, (qid, r.rank)
            assert r.relevance == rels[(qid, r.vec_id)]
            sel.append(r.vec_id)


# ---------------------------------------------------------------------------
# Round-10 curation wave: mixture executor, mirror rollup, manifest ingest
# ---------------------------------------------------------------------------


class TestMixtureExecute:
    def test_tau_one_emits_every_doc_exactly_once(self, spark):
        """At temperature 1 the plan is the natural distribution:
        epochs = 1.0 for every source, so the executor must emit each
        document exactly once (floor = 1, fractional epoch = 0)."""
        from etl_moodle_and_mass_email_sending_spark.operators import (
            text_analysis,
        )

        df = spark.createDataFrame(
            [(i, "w " * (i % 7 + 1), f"s{i % 3}") for i in range(60)],
            "doc_id long, text string, source string",
        )
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(text_analysis, "MIX_TEMPERATURE", 1.0)
            out = text_analysis.mixture_execute(df).collect()
        assert len(out) == 60
        assert {r["doc_id"] for r in out} == set(range(60))
        assert all(r["copy"] == 1 for r in out)

    def test_copies_are_floor_or_floor_plus_one_and_prefix_shaped(
        self, spark
    ):
        """With a flattening temperature every doc of a source appears
        either floor(epochs) or floor(epochs)+1 times, and the +1 docs
        are exactly a prefix of the source's md5 hash order (the
        deterministic fractional-epoch admission)."""
        import hashlib

        from etl_moodle_and_mass_email_sending_spark.operators.text_analysis import (
            SEED_SEP,
            mixture_execute,
        )

        rows = [(i, "tok " * 20, "big") for i in range(200)] + [
            (1000 + i, "tok " * 20, "small") for i in range(10)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        out = mixture_execute(df)  # MIX_TEMPERATURE 2.0, MIX_MAX_EPOCHS 4.0
        per_doc = {
            (r["source"], r["doc_id"]): r["n"]
            for r in out.groupBy("source", "doc_id")
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        for source in ("big", "small"):
            counts = sorted(
                {n for (s, _), n in per_doc.items() if s == source}
            )
            assert len(counts) <= 2
            if len(counts) == 2:
                assert counts[1] == counts[0] + 1
                # the +1 docs are a hash-order prefix
                hi = counts[1]

                def h(d):
                    return int(
                        hashlib.md5(
                            f"MX{SEED_SEP}{d}".encode()
                        ).hexdigest()[:15],
                        16,
                    )

                docs = sorted(
                    (d for (s, d) in per_doc if s == source),
                    key=lambda d: (h(d), d),
                )
                flags = [per_doc[(source, d)] == hi for d in docs]
                assert flags == sorted(flags, reverse=True)

    def test_report_fill_rate_is_near_one(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        registry_queries = registry.queries()
        """The executor's achieved tokens track the plan target: the
        fractional prefix overshoots by at most one document, so
        fill_rate ≥ 1 and ≤ 1 + max_doc/target at every source."""
        rep = registry_queries["text_mixture_execute"](
            spark, SF_SMALL
        ).collect()
        assert rep
        for r in rep:
            assert r["emitted_tokens"] >= r["n_full_epochs"] * 0  # sanity
            assert 0.95 <= r["fill_rate"] <= 1.5


class TestMirrorScore:
    def test_fields_are_internally_consistent(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        registry_queries = registry.queries()
        rows = registry_queries["dedup_mirror_score"](
            spark, SF_SMALL
        ).collect()
        assert rows
        for r in rows:
            assert 0 <= r["n_cross_dup"] <= r["n_docs"]
            rate = round(r["n_cross_dup"] / r["n_docs"], 6)
            assert abs(r["cross_rate"] - rate) < 1e-9
            if r["counterpart"] is not None:
                assert r["counterpart"] != r["source"]
                assert r["counterpart_docs"] >= 1
            else:
                assert r["counterpart_docs"] == 0
                assert r["n_cross_dup"] == 0
            expected = (
                "drop"
                if rate >= 0.5
                else "review" if rate >= 0.2 else "keep"
            )
            assert r["verdict"] == expected


class TestManifestIngest:
    def test_manifest_matches_batch_rollup_and_straddles_batches(
        self, spark
    ):
        from etl_moodle_and_mass_email_sending_spark import registry

        registry_queries = registry.queries()
        """The incrementally-merged manifest must equal the full-table
        rollup (associative merge of per-batch partials), and at least
        one month must have accumulated stats from >1 micro-batch —
        the cross-batch merge path, not just per-batch passthrough."""
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )

        got = {
            r["file_mo"]: r
            for r in registry_queries["stream_manifest_ingest"](
                spark, SF_SMALL
            ).collect()
        }
        want = {
            r["file_mo"]: r
            for r in load_table(spark, SF_SMALL, "orders")
            .groupBy(
                (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
                .cast("int")
                .alias("file_mo")
            )
            .agg(
                F.min("o_orderdate").alias("lo"),
                F.max("o_orderdate").alias("hi"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for mo, w in want.items():
            g = got[mo]
            assert (g["lo"], g["hi"], g["n_rows"]) == (
                w["lo"],
                w["hi"],
                w["n_rows"],
            )
        assert max(r["n_batches"] for r in got.values()) >= 2
        assert all(1 <= r["n_batches"] <= 4 for r in got.values())


class TestShardBalance:
    def test_shards_are_balanced_and_exhaustive(self, spark):
        """Every token lands in exactly one shard; shard ids are the
        contiguous prefix 0..k-1; and because the cut points are
        multiples of target in the cumulative domain, every shard's
        token mass is below target + max_doc (a boundary splits at most
        one document into the next shard)."""
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )
        from etl_moodle_and_mass_email_sending_spark.operators.text_analysis import (
            N_SHARDS,
            _N_TOKS_SPARK,
            shard_balance,
        )

        docs = load_table(spark, SF_SMALL, "documents").select(
            "doc_id", "text"
        )
        stats = docs.select(
            F.sum(F.expr(_N_TOKS_SPARK)).alias("total"),
            F.max(F.expr(_N_TOKS_SPARK)).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        rows = shard_balance(docs).collect()
        target = -(-stats["total"] // N_SHARDS)  # ceil
        assert sorted(r["shard"] for r in rows) == list(range(len(rows)))
        assert len(rows) <= N_SHARDS
        assert sum(r["n_tokens"] for r in rows) == stats["total"]
        assert sum(r["n_docs"] for r in rows) == stats["n"]
        for r in rows:
            assert r["n_tokens"] < target + stats["mx"]


class TestIvfAppend:
    def test_routing_is_exhaustive_and_flags_consistent(self, spark):
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
            APPEND_MOD,
            _vectors,
            ivf_append,
        )

        v = _vectors(spark, SF_SMALL)
        n_frozen = v.filter(F.col("vec_id") % APPEND_MOD != 0).count()
        n_incoming = v.filter(F.col("vec_id") % APPEND_MOD == 0).count()
        rows = ivf_append(spark, SF_SMALL).collect()
        assert sum(r["n_old"] for r in rows) == n_frozen
        assert sum(r["n_new"] for r in rows) == n_incoming
        tot = sum(r["n_old"] + r["n_new"] for r in rows)
        for r in rows:
            share = (r["n_old"] + r["n_new"]) / tot
            assert abs(r["new_total_share"] - round(share, 6)) < 1e-9
            assert r["hot"] == (share >= 2.0 / len(rows))


class TestCompactionPlan:
    def test_bins_are_consecutive_month_runs_near_target(self, spark):
        """Bins are contiguous 0..k-1, cover disjoint consecutive month
        ranges in order, preserve the total row count, and each bin
        lands within one input file of the target."""
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )
        from etl_moodle_and_mass_email_sending_spark.queries.quality import (
            COMPACT_BINS,
        )

        o = load_table(spark, SF_SMALL, "orders")
        per_mo = {
            r["mo"]: r["n"]
            for r in o.groupBy(
                (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
                .cast("int")
                .alias("mo")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        total, mx = sum(per_mo.values()), max(per_mo.values())
        target = -(-total // COMPACT_BINS)
        rows = sorted(
            registry.queries()["rel_compaction_plan"](
                spark, SF_SMALL
            ).collect(),
            key=lambda r: r["bin"],
        )
        assert [r["bin"] for r in rows] == list(range(len(rows)))
        assert sum(r["rows_total"] for r in rows) == total
        for prev, cur in zip(rows, rows[1:]):
            assert prev["mo_last"] < cur["mo_first"]
        for r in rows:
            assert r["mo_first"] <= r["mo_last"]
            assert r["rows_total"] < target + mx


class TestDeletionAudit:
    def test_counts_match_direct_predicates(self, spark):
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )
        from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
            DELETE_MOD,
        )

        rows = {
            r["artifact"]: r
            for r in registry.queries()["rel_deletion_audit"](
                spark, SF_SMALL
            ).collect()
        }
        assert set(rows) == {
            "documents",
            "embeddings",
            "dedup_pairs",
            "mixture_sample",
        }
        docs = load_table(spark, SF_SMALL, "documents")
        want = docs.filter(F.col("doc_id") % DELETE_MOD == 0).count()
        assert rows["documents"]["n_purged"] == want
        assert rows["documents"]["n_total"] == docs.count()
        for r in rows.values():
            assert 0 <= r["n_purged"] <= r["n_total"]
            assert abs(
                r["purge_rate"] - round(r["n_purged"] / r["n_total"], 6)
            ) < 1e-9
        # every emitted copy of a deleted doc counts (copies >= docs)
        assert rows["mixture_sample"]["n_purged"] >= want - 1


class TestQualityThresholdSweep:
    def test_sweep_is_monotone_and_conserves_positives(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = sorted(
            registry.queries()["text_quality_threshold_sweep"](
                spark, SF_SMALL
            ).collect(),
            key=lambda r: r["threshold"],
        )
        assert [r["threshold"] for r in rows] == [
            round(0.1 * i, 1) for i in range(1, 10)
        ]
        pos = {r["tp"] + r["fn"] for r in rows}
        assert len(pos) == 1  # total positives invariant to threshold
        kept = [r["n_kept"] for r in rows]
        assert kept == sorted(kept, reverse=True)
        recalls = [r["recall"] for r in rows]
        assert recalls == sorted(recalls, reverse=True)
        for r in rows:
            assert r["n_kept"] == r["tp"] + r["fp"]


class TestStreamMixtureMonitor:
    def test_shares_sum_to_one_and_targets_are_static(self, spark):
        import collections

        from etl_moodle_and_mass_email_sending_spark import registry

        rows = registry.queries()["stream_mixture_monitor"](
            spark, SF_SMALL
        ).collect()
        assert {r["chunk"] for r in rows} == {1, 2, 3, 4}
        by_chunk = collections.defaultdict(list)
        targets = collections.defaultdict(set)
        for r in rows:
            by_chunk[r["chunk"]].append(r)
            targets[r["source"]].add(r["target_share"])
            assert abs(
                r["deviation"]
                - round(r["batch_share"] - r["target_share"], 6)
            ) < 2e-6
        for chunk, rs in by_chunk.items():
            assert abs(sum(x["batch_share"] for x in rs) - 1.0) < 1e-4
        # the plan target is a property of the corpus, not the batch
        assert all(len(v) == 1 for v in targets.values())


class TestCurriculumStages:
    def test_stages_partition_corpus_and_quality_is_monotone(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )

        rows = sorted(
            registry.queries()["text_curriculum_stages"](
                spark, SF_SMALL
            ).collect(),
            key=lambda r: r["stage"],
        )
        n_docs = load_table(spark, SF_SMALL, "documents").count()
        assert [r["stage"] for r in rows] == list(range(1, 11))
        assert sum(r["n_docs"] for r in rows) == n_docs
        # equal-count cut: sizes differ by at most one
        sizes = [r["n_docs"] for r in rows]
        assert max(sizes) - min(sizes) <= 1
        # quality ordering: stage means non-decreasing
        means = [r["mean_quality"] for r in rows]
        assert all(a <= b + 1e-9 for a, b in zip(means, means[1:]))
        import math

        for r in rows:
            assert 0.0 <= r["src_entropy"] <= math.log(20) + 1e-9


class TestModalityBalance:
    def test_shares_and_volumes_are_consistent(self, spark):
        import collections

        from etl_moodle_and_mass_email_sending_spark import registry

        rows = registry.queries()["mm_modality_balance"](
            spark, SF_SMALL
        ).collect()
        per_src = collections.defaultdict(list)
        for r in rows:
            per_src[r["source"]].append(r)
            assert r["bytes_total"] == r["n_items"] * 128
            assert r["media_type"] in {"image", "audio", "video"}
        for src, rs in per_src.items():
            assert abs(sum(x["item_share"] for x in rs) - 1.0) < 1e-4


class TestCompactionExecute:
    def test_rewrite_matches_plan_and_keeps_ranges_disjoint(self, spark):
        """The executed rewrite must land exactly the rows the plan
        promised per bin, and the compacted bins' o_orderdate envelopes
        must stay disjoint (clustering preserved through compaction —
        the property that keeps min/max pruning alive)."""
        from etl_moodle_and_mass_email_sending_spark import registry

        q = registry.queries()
        plan = {
            r["bin"]: r
            for r in q["rel_compaction_plan"](spark, SF_SMALL).collect()
        }
        got = sorted(
            q["rel_compaction_execute"](spark, SF_SMALL).collect(),
            key=lambda r: r["bin"],
        )
        assert {r["bin"] for r in got} == set(plan)
        for r in got:
            p = plan[r["bin"]]
            assert r["rows_written"] == p["rows_total"]
            assert r["n_months"] == p["n_input_files"]
        for prev, cur in zip(got, got[1:]):
            assert prev["hi"] < cur["lo"]


class TestFkIntegrity:
    def test_orphans_zero_unreferenced_positive_rates_consistent(
        self, spark
    ):
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = {
            r["relationship"]: r
            for r in registry.queries()["rel_fk_integrity"](
                spark, SF_SMALL
            ).collect()
        }
        assert len(rows) == 4
        for r in rows.values():
            assert 0 <= r["n_orphans"] <= r["n_child_rows"]
            assert 0 <= r["n_unreferenced"] <= r["n_parents"]
            assert abs(
                r["orphan_rate"]
                - round(r["n_orphans"] / r["n_child_rows"], 6)
            ) < 1e-9
            assert abs(
                r["unreferenced_rate"]
                - round(r["n_unreferenced"] / r["n_parents"], 6)
            ) < 1e-9
        # the degraded-parent arm fires the orphan path; the
        # degraded-child arm fires the unreferenced path; the clean
        # arms report exact zeros in both directions
        assert rows["orders.custkey"]["n_orphans"] > 0
        assert rows["lineitem.orderkey"]["n_unreferenced"] > 0
        for clean in ("lineitem.partkey", "lineitem.suppkey"):
            assert rows[clean]["n_orphans"] == 0
            assert rows[clean]["n_unreferenced"] == 0


class TestStreamFkGuard:
    def test_guard_fires_and_conserves_rows(self, spark):
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )

        rows = registry.queries()["stream_fk_guard"](
            spark, SF_SMALL
        ).collect()
        assert {r["chunk"] for r in rows} == {1, 2, 3, 4}
        n_orders = load_table(spark, SF_SMALL, "orders").count()
        assert sum(r["n_ok"] + r["n_orphan"] for r in rows) == n_orders
        # the degraded dimension makes the guard actually reject
        assert sum(r["n_orphan"] for r in rows) > 0
        # exact cross-check: orphans = orders whose custkey % 10 == 0
        # OR custkey missing from the dim (the former by construction)
        orders = load_table(spark, SF_SMALL, "orders")
        cust = load_table(spark, SF_SMALL, "customer").filter(
            F.col("c_custkey") % 10 != 0
        )
        want = orders.join(
            cust.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        ).count()
        assert sum(r["n_orphan"] for r in rows) == want


class TestRecallAtKSweep:
    def test_curve_shape_and_bounds(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
            N_QUERIES,
            RECALL_KS,
        )

        rows = registry.queries()["sim_recall_at_k_sweep"](
            spark, SF_SMALL
        ).collect()
        assert len(rows) == 2 * len(RECALL_KS)
        for r in rows:
            assert 0.0 <= r["mean_recall"] <= 1.0
            assert r["n_hits"] <= r["k"] * N_QUERIES
            assert abs(
                r["mean_recall"]
                - round(r["n_hits"] / (r["k"] * N_QUERIES), 6)
            ) < 1e-9


class TestSaltPlan:
    def test_salt_math_and_conservation(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )

        rows = registry.queries()["rel_salt_plan"](
            spark, SF_SMALL
        ).collect()
        total = load_table(spark, SF_SMALL, "events").count()
        assert sum(r["n_rows"] for r in rows) == total
        target = -(-total // 16)
        for r in rows:
            assert r["target_task_rows"] == target
            assert r["salt_factor"] == max(
                -(-r["n_rows"] // target), 1
            )
            assert (
                r["max_task_rows_after"]
                == -(-r["n_rows"] // r["salt_factor"])
            )
            assert r["max_task_rows_after"] <= target or r[
                "salt_factor"
            ] == 1
        # the few-huge-groups case must actually prescribe salting
        assert any(r["salt_factor"] > 1 for r in rows)


class TestSplitLeakage:
    def test_leakage_fires_on_planted_duplicates(self, spark):
        """A corpus with exact duplicate docs on opposite sides of the
        hash split must report them as leaked; a disjoint-content
        corpus must report zero."""
        from etl_moodle_and_mass_email_sending_spark.operators.text_analysis import (
            split_leakage,
        )

        def bucket(d):
            import hashlib

            return (
                int(hashlib.md5(f"SPLIT{d}".encode()).hexdigest()[:8], 16)
                % 100
            )

        train_ids = [d for d in range(200) if bucket(d) < 95]
        val_ids = [d for d in range(200) if bucket(d) >= 95]
        assert train_ids and val_ids
        # leaky corpus: every val doc copies a train doc's text
        text_of = {d: f"alpha beta gamma delta doc {d} " * 3 for d in train_ids}
        leaky = [(d, text_of[d]) for d in train_ids] + [
            (v, text_of[train_ids[i % len(train_ids)]])
            for i, v in enumerate(val_ids)
        ]
        df = spark.createDataFrame(leaky, "doc_id long, text string")
        r = split_leakage(df).collect()[0]
        assert r["n_val"] == len(val_ids)
        assert r["n_leaked_val"] == len(val_ids)
        assert r["leak_rate"] == 1.0
        # disjoint corpus: unique token per doc, no shared 4-grams
        clean = [
            (d, f"u{d}a u{d}b u{d}c u{d}d u{d}e") for d in range(200)
        ]
        df2 = spark.createDataFrame(clean, "doc_id long, text string")
        r2 = split_leakage(df2).collect()[0]
        assert r2["n_leaked_val"] == 0
        assert r2["max_shared_grams"] == 0


class TestBoilerplateScrub:
    def test_planted_boilerplate_is_removed_unique_text_kept(self, spark):
        """Docs sharing a planted 16-word banner must report it removed
        (the banner segment recurs corpus-wide); fully unique docs must
        report zero removal."""
        from etl_moodle_and_mass_email_sending_spark.operators.text_analysis import (
            LINE_DUP_MIN,
            boilerplate_scrub,
        )

        banner = " ".join(f"nav{j}" for j in range(16))
        rows = [
            (i, banner + " " + " ".join(f"u{i}w{j}" for j in range(16)), "dirty")
            for i in range(LINE_DUP_MIN + 2)
        ] + [
            (100 + i, " ".join(f"q{i}w{j}" for j in range(32)), "clean")
            for i in range(4)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        out = {r["source"]: r for r in boilerplate_scrub(df).collect()}
        dirty = out["dirty"]
        assert dirty["n_docs_touched"] == LINE_DUP_MIN + 2
        assert dirty["segs_removed"] == LINE_DUP_MIN + 2  # one banner each
        assert dirty["words_removed"] == 16 * (LINE_DUP_MIN + 2)
        clean = out["clean"]
        assert clean["segs_removed"] == 0
        assert clean["words_removed"] == 0
        assert clean["removal_rate"] == 0.0


class TestCorpusRelease:
    def test_sections_and_token_conservation(self, spark):
        """The release receipt's three volume sections describe the SAME
        emitted sample, so their token totals must agree exactly:
        sum(shard) == sum(stage) == sum(source emitted_tokens); ditto
        copy counts. The gate row is a single verdict with a rate."""
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = registry.queries()["llm_corpus_release"](
            spark, SF_SMALL
        ).collect()
        by = {}
        for r in rows:
            by.setdefault(r["section"], []).append(r)
        assert set(by) == {"source", "shard", "stage", "gate"}
        tok = {
            s: sum(r["n_tokens"] for r in by[s])
            for s in ("source", "shard", "stage")
        }
        assert tok["source"] == tok["shard"] == tok["stage"]
        units = {
            s: sum(r["n_units"] for r in by[s])
            for s in ("source", "shard", "stage")
        }
        assert units["source"] == units["shard"] == units["stage"]
        from etl_moodle_and_mass_email_sending_spark.operators.text_analysis import (
            RELEASE_SHARDS,
            RELEASE_STAGES,
        )

        assert len(by["shard"]) <= RELEASE_SHARDS + 1
        assert len(by["stage"]) == RELEASE_STAGES
        # every shard but the last (highest key) must be filled to
        # target within one document
        shards = sorted(by["shard"], key=lambda r: int(r["key"]))
        for r in shards[:-1]:
            assert r["metric"] >= 0.9
        (g,) = by["gate"]
        assert g["key"] == "split_leakage"
        assert 0.0 <= g["metric"] <= 1.0

    def test_stage_quality_is_monotone(self, spark):
        """Stages are a quality-ordered ntile cut: stage k's
        copy-weighted mean quality must not decrease with k."""
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = registry.queries()["llm_corpus_release"](
            spark, SF_SMALL
        ).collect()
        stages = sorted(
            (r for r in rows if r["section"] == "stage"),
            key=lambda r: int(r["key"]),
        )
        qs = [r["metric"] for r in stages]
        assert qs == sorted(qs)


class TestIvfRecluster:
    def test_split_fires_and_rebalances(self, spark):
        """On the testbed exactly the ≥1.1x-uniform lists split; the
        children partition the parent's membership and the post-split
        max share must not exceed the pre-split max share."""
        from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
            ivf_recluster,
        )

        rows = ivf_recluster(spark, SF_SMALL).collect()
        split = [r for r in rows if r["split"]]
        cold = [r for r in rows if not r["split"]]
        assert split, "no hot list split — trigger never fired"
        for r in cold:
            assert r["n_after"] == r["n_before"]
            assert r["sub"] == 0
        # children of one parent partition its members
        from collections import defaultdict

        per_parent = defaultdict(list)
        for r in split:
            per_parent[r["cid"]].append(r)
        for cid, kids in per_parent.items():
            assert sum(k["n_after"] for k in kids) == kids[0]["n_before"]
            assert len({k["sub"] for k in kids}) == len(kids)
        assert max(r["share_after"] for r in rows) <= max(
            r["share_before"] for r in rows
        )

    def test_total_membership_conserved(self, spark):
        from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
            ivf_recluster,
        )

        rows = ivf_recluster(spark, SF_SMALL).collect()
        before = {r["cid"]: r["n_before"] for r in rows}
        assert sum(r["n_after"] for r in rows) == sum(before.values())


class TestQuarantineRollup:
    def test_all_producers_present_with_known_receipts(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = registry.queries()["rel_quarantine_rollup"](
            spark, SF_SMALL
        ).collect()
        assert len(rows) == 12
        by = {(r["producer"], r["reason"]): r for r in rows}
        j = by[("src_jsonl_documents", "corrupt_record")]
        assert j["n_flagged"] == 2 and j["sample_key"] is None
        c = by[("src_csv_documents", "corrupt_record")]
        # REGRESSION PIN (column pruning): the CSV arm must parse the
        # typed n_chars column or the planted corruption never fires —
        # n_flagged silently becomes 0 (hit twice in round 11: once
        # with no reference, once with an optimizer-eliminated one)
        assert c["n_flagged"] == 2
        assert c["sample_key"] == 991001
        orph = by[("rel_fk_integrity:orders.custkey", "orphan")]
        assert orph["n_flagged"] > 0  # degraded parent fires the path
        assert orph["sample_key"] is not None
        clean = by[("rel_fk_integrity:lineitem.partkey", "orphan")]
        assert clean["n_flagged"] == 0 and clean["sample_key"] is None
        for t in ("documents", "embeddings"):
            d = by[(f"rel_deletion_audit:{t}", "pending_purge")]
            assert d["n_flagged"] > 0 and d["sample_key"] == 0


class TestRecallAfterRecluster:
    def test_recall_holds_after_split(self, spark):
        """The maintenance loop's go/no-go: post-split recall must not
        collapse — allow at most one lost hit per (arm, k) — and both
        arms must produce the full RECALL_KS curve."""
        from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
            RECALL_KS,
            recall_after_recluster,
        )

        rows = recall_after_recluster(spark, SF_SMALL).collect()
        by = {(r["arm"], r["k"]): r for r in rows}
        assert set(by) == {
            (a, k) for a in ("pre", "post") for k in RECALL_KS
        }
        for k in RECALL_KS:
            pre, post = by[("pre", k)], by[("post", k)]
            assert post["n_hits"] >= pre["n_hits"] - 1
            assert 0.0 <= post["mean_recall"] <= 1.0


class TestDsirExecute:
    def test_selection_pressure_and_budget(self, spark):
        """The Gumbel-top-n draw must (a) emit exactly n docs overall,
        (b) show positive POOLED selection pressure (the sample's
        overall mean weight above the corpus's — per-language buckets
        are too small for the invariant to hold bucket-wise against
        Gumbel noise), and (c) oversample the target domain: en's
        sample_rate must be the maximum."""
        from etl_moodle_and_mass_email_sending_spark.operators.text_analysis import (
            DSIR_SAMPLE_N,
            dsir_execute,
        )
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )

        docs = load_table(spark, SF_SMALL, "documents").select(
            "doc_id", "text", "lang"
        )
        rows = dsir_execute(docs).collect()
        assert sum(r["n_sampled"] for r in rows) == DSIR_SAMPLE_N
        rates = {r["lang"]: r["sample_rate"] for r in rows}
        assert rates["en"] == max(rates.values())
        pooled_all = sum(
            r["mean_weight_all"] * r["n_docs"] for r in rows
        ) / sum(r["n_docs"] for r in rows)
        pooled_sampled = sum(
            r["mean_weight_sampled"] * r["n_sampled"]
            for r in rows
            if r["n_sampled"]
        ) / sum(r["n_sampled"] for r in rows)
        assert pooled_sampled > pooled_all


class TestDedupShardLocality:
    def test_distribution_covers_all_multi_doc_clusters(self, spark):
        """The locality histogram must account for every multi-doc
        cluster exactly once, and planted near-dup pairs (hash-cut on
        independent ids) must show scatter: some clusters straddle
        more than one shard."""
        from etl_moodle_and_mass_email_sending_spark import registry

        qs = registry.queries()
        rows = qs["dedup_shard_locality"](spark, SF_SMALL).collect()
        assert all(r["n_shards_touched"] >= 1 for r in rows)
        assert any(r["n_shards_touched"] > 1 for r in rows)
        # cross-check totals against the cluster frame itself
        from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
            _staged_clusters,
        )
        from pyspark.sql import functions as F

        multi = (
            _staged_clusters(spark, SF_SMALL)
            .filter(F.col("cluster_size") > 1)
            .agg(
                F.countDistinct("component").alias("nc"),
                F.count(F.lit(1)).alias("nd"),
            )
            .collect()[0]
        )
        assert sum(r["n_clusters"] for r in rows) == multi["nc"]
        assert sum(r["n_docs"] for r in rows) == multi["nd"]


class TestStreamQuarantineFeed:
    def test_incremental_rollup_matches_batch_health(self, spark):
        """The cross-batch sum of per-batch partial health rows must
        equal the whole-drop batch rollup — including the planted
        __corrupt__ bucket — regardless of file batching."""
        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
            _staged_jsonl_drop,
        )
        from etl_moodle_and_mass_email_sending_spark.sources import jsonl

        got = {
            r["source"]: r["n_docs"]
            for r in registry.queries()["stream_quarantine_feed"](
                spark, SF_SMALL
            ).collect()
        }
        want = {
            r["source"]: r["n_docs"]
            for r in jsonl.jsonl_health(
                jsonl.read_documents_jsonl(
                    spark, _staged_jsonl_drop(spark, SF_SMALL)
                )
            ).collect()
        }
        assert got == want
        assert got["__corrupt__"] == 2


class TestLlmEvalGuard:
    def test_sections_consistent_with_constituents(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        qs = registry.queries()
        rows = qs["llm_eval_guard"](spark, SF_SMALL).collect()
        by = {}
        for r in rows:
            by.setdefault(r["section"], []).append(r)
        assert set(by) == {"decontaminate", "direction", "split"}
        (d,) = by["decontaminate"]
        assert 0 < d["n_flagged"] <= d["n_total"]
        assert d["rate"] == round(d["n_flagged"] / d["n_total"], 6)
        (s,) = by["split"]
        assert s["key"] == "leakage"
        assert 0.0 <= s["rate"] <= 1.0
        # direction rows mirror the standalone per-source audit
        dirn = {
            r["source"]: r
            for r in qs["text_contamination_direction"](
                spark, SF_SMALL
            ).collect()
        }
        for r in by["direction"]:
            ref = dirn[r["key"]]
            assert r["n_flagged"] == ref["n_contam_train_docs"]
            assert r["n_total"] == ref["n_train_docs"]
            assert r["rate"] == ref["direction_ratio"]


class TestPqRefresh:
    def test_refresh_reduces_distortion_on_average(self, spark):
        """Fresh codebooks (trained on the post-ingest corpus) must fit
        that corpus at least as well as the stale pre-ingest books in
        aggregate; the receipt covers every subspace with the full
        vector count."""
        from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
            PQ_M,
            pq_refresh,
        )

        rows = pq_refresh(spark, SF_SMALL).collect()
        assert len(rows) == PQ_M
        assert len({r["n_vectors"] for r in rows}) == 1
        for r in rows:
            assert r["avg_dist_stale"] > 0
            assert r["avg_dist_fresh"] > 0
        mean_impr = sum(r["improvement"] for r in rows) / len(rows)
        assert mean_impr > 0


class TestZorderExecute:
    def test_zorder_prunes_on_both_dimensions(self, spark):
        """The layout-effect receipt must show the canonical z-order
        trade: arrival order prunes ONLY on time (high hour skip, no
        user skip); the Morton layout prunes on BOTH dimensions.
        Asserted at SF_MEDIUM — at sf0.001 the user domain is ~14
        values wide, so per-bucket user spans saturate under either
        layout and z-ordering genuinely buys nothing (the receipt
        honestly reports that; it's the wrong scale to pin the story)."""
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = {
            r["layout"]: r
            for r in registry.queries()["rel_zorder_execute"](
                spark, SF_MEDIUM
            ).collect()
        }
        assert set(rows) == {"zorder", "arrival"}
        a, z = rows["arrival"], rows["zorder"]
        assert a["n_buckets"] == z["n_buckets"] == 32
        assert a["user_skip_rate"] == 0.0
        assert z["user_skip_rate"] > 0.1
        assert z["hour_skip_rate"] > 0.5
        assert z["avg_user_span"] < a["avg_user_span"]


class TestLlmDatacard:
    def test_metrics_present_and_sane(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = {
            r["metric"]: r["value"]
            for r in registry.queries()["llm_datacard"](
                spark, SF_SMALL
            ).collect()
        }
        assert len(rows) == 11
        assert rows["n_docs"] > 0
        assert rows["total_tokens"] > rows["n_docs"]  # docs avg > 1 tok
        assert rows["mean_doc_tokens"] == round(
            rows["total_tokens"] / rows["n_docs"], 6
        )
        for share in (
            "top_lang_share",
            "top_source_share",
            "exact_dup_rate",
            "pii_doc_rate",
            "quality_ge_06_share",
        ):
            assert 0.0 <= rows[share] <= 1.0
        assert 0.0 <= rows["mean_quality"] <= 1.0
        # raw documents table has no planted exact dups
        assert rows["exact_dup_rate"] == 0.0


class TestStreamIvfAppend:
    def test_incremental_receipt_equals_batch_append(self, spark):
        """Per-batch partial list counts summed across micro-batches
        must reproduce the batch ivf_append receipt exactly —
        assignment is per-vector independent and counts are additive."""
        from etl_moodle_and_mass_email_sending_spark import registry

        qs = registry.queries()
        got = sorted(
            (tuple(r) for r in qs["stream_ivf_append"](
                spark, SF_SMALL
            ).collect()),
        )
        want = sorted(
            (tuple(r) for r in qs["sim_ivf_append"](
                spark, SF_SMALL
            ).collect()),
        )
        assert got == want


class TestReceiptsTable:
    """Round-12 materialized governance receipts (VERDICT r11 item 3):
    producers append run-stamped rows, the rollup reads the table."""

    SCHEMA = (
        "producer string, reason string, n_audited long, "
        "n_flagged long, flag_rate double, sample_key long"
    )

    def _row(self, spark, producer, n_flagged):
        return spark.createDataFrame(
            [(producer, "r", 10, n_flagged, n_flagged / 10.0, None)],
            self.SCHEMA,
        )

    def test_same_run_reappend_is_idempotent(self, spark, tmp_path):
        from etl_moodle_and_mass_email_sending_spark.operators import (
            receipts as rcpt,
        )

        path = str(tmp_path / "receipts")
        rcpt.append_receipts(
            rcpt.GOVERNANCE, self._row(spark, "p1", 1), path, "run-000001"
        )
        rcpt.append_receipts(
            rcpt.GOVERNANCE, self._row(spark, "p2", 2), path, "run-000001"
        )
        # re-running p1 for the SAME run replaces its partition — no
        # duplicate rows, p2 untouched
        rcpt.append_receipts(
            rcpt.GOVERNANCE, self._row(spark, "p1", 1), path, "run-000001"
        )
        assert spark.read.parquet(path).count() == 2
        assert rcpt.latest_rollup(rcpt.GOVERNANCE, spark, path).count() == 2

    def test_latest_run_shadows_older(self, spark, tmp_path):
        from etl_moodle_and_mass_email_sending_spark.operators import (
            receipts as rcpt,
        )

        path = str(tmp_path / "receipts")
        rcpt.append_receipts(
            rcpt.GOVERNANCE, self._row(spark, "p1", 1), path, "run-000001"
        )
        rcpt.append_receipts(
            rcpt.GOVERNANCE, self._row(spark, "p2", 2), path, "run-000001"
        )
        rcpt.append_receipts(
            rcpt.GOVERNANCE, self._row(spark, "p1", 5), path, "run-000002"
        )
        got = {
            r["producer"]: r["n_flagged"]
            for r in rcpt.latest_rollup(
                rcpt.GOVERNANCE, spark, path
            ).collect()
        }
        assert got == {"p1": 5, "p2": 2}
        # older run's rows remain in the table (audit history), only
        # the rollup resolves to the latest
        assert spark.read.parquet(path).count() == 3

    def test_quarantine_rollup_rerun_twice_identical(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        fn = registry.queries()["rel_quarantine_rollup"]
        a = sorted(tuple(r) for r in fn(spark, SF_SMALL).collect())
        b = sorted(tuple(r) for r in fn(spark, SF_SMALL).collect())
        assert a == b
        assert len(a) == 12

    def test_rollup_matches_producer_frames(self, spark):
        """The materialized-table rollup equals the union of the four
        producer frames computed directly (the round-11 inline form)."""
        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
            _quarantine_receipt_frames,
        )

        direct = []
        for frame in _quarantine_receipt_frames(spark, SF_SMALL).values():
            direct.extend(tuple(r) for r in frame.collect())
        got = sorted(
            tuple(r)
            for r in registry.queries()["rel_quarantine_rollup"](
                spark, SF_SMALL
            ).collect()
        )
        assert got == sorted(direct)


class TestIndexMaintenance:
    """Round-12 composed IVF/PQ lifecycle receipt (VERDICT r11 item 6)."""

    def test_sections_consistent_with_constituents(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.operators import (
            similarity as sim,
        )

        rows = registry.queries()["sim_index_maintenance"](
            spark, SF_SMALL
        ).collect()
        by = {}
        for r in rows:
            by.setdefault(r["section"], {})[r["key"]] = r

        ap = {str(r["cid"]): r for r in sim.ivf_append(spark, SF_SMALL).collect()}
        assert set(by["append"]) == set(ap)
        for k, r in by["append"].items():
            assert r["n_base"] == ap[k]["n_old"]
            assert r["n_change"] == ap[k]["n_new"]
            assert r["flag"] == ap[k]["hot"]

        ra = {
            (r["arm"], r["k"]): r
            for r in sim.recall_after_recluster(spark, SF_SMALL).collect()
        }
        for (arm, k), r in ra.items():
            got = by["recall"][f"{arm}@{k}"]
            assert got["n_change"] == r["n_hits"]
            assert got["metric"] == r["mean_recall"]

        # the verdicts recompute from the constituent frames
        deltas = [
            ra[("post", k)]["mean_recall"] - ra[("pre", k)]["mean_recall"]
            for k in sim.RECALL_KS
        ]
        v = by["verdict"]["recall_go"]
        assert v["flag"] == (
            round(min(deltas), 6) >= -sim.RECALL_DROP_TOL
        )
        pq = sim.pq_refresh(spark, SF_SMALL).collect()
        vq = by["verdict"]["pq_retrain"]
        n_over = sum(
            1
            for r in pq
            if r["improvement"] is not None
            and r["improvement"] > sim.PQ_RETRAIN_MIN_IMPROVEMENT
        )
        assert vq["n_change"] == n_over
        assert vq["flag"] == (n_over > 0)


class TestDecontaminateExecute:
    """Round-12 scrub executor: the receipt must reconcile exactly with
    the detection frame and the train-slice totals."""

    def test_receipt_reconciles_with_detection(self, spark):
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.operators import (
            text_analysis as ta,
        )
        from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
            _docs_sourced,
        )

        corpus = _docs_sourced(spark, SF_SMALL)
        rows = registry.queries()["text_decontaminate_execute"](
            spark, SF_SMALL
        ).collect()
        # every source of the train slice appears, zero-drop ones too
        train = corpus.filter(
            F.col("doc_id") % ta.DECON_BENCH_MOD != 0
        )
        n_sources = train.select("source").distinct().count()
        assert len(rows) == n_sources
        # total drops = detection frame above the threshold
        flagged = (
            ta.decontaminate(corpus.select("doc_id", "text"))
            .filter(
                F.col("contamination") >= ta.DECON_SCRUB_THRESHOLD
            )
            .count()
        )
        assert sum(r["n_dropped"] for r in rows) == flagged
        # kept + dropped tokens = the train slice's token total
        total_toks = train.select(
            F.sum(F.expr(ta._N_TOKS_SPARK)).alias("t")
        ).collect()[0]["t"]
        assert (
            sum(r["tokens_kept"] + r["tokens_dropped"] for r in rows)
            == total_toks
        )
        # doc counts reconcile too
        assert sum(r["n_train_docs"] for r in rows) == train.count()


class TestFilteredTopk:
    """Round-12 filtered vector search: exact top-k under a metadata
    predicate, pre-filter strategy."""

    def test_results_respect_predicate_and_rank(self, spark):
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.operators import (
            similarity as sim,
        )

        rows = registry.queries()["sim_filtered_topk"](
            spark, SF_SMALL
        ).collect()
        assert all(r["label"] < sim.FILTER_LABEL_MAX for r in rows)
        assert all(1 <= r["rank"] <= sim.TOP_K for r in rows)
        # per query: exactly TOP_K rows, strictly descending cosine
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        assert len(by_q) == sim.N_QUERIES
        for q, rs in by_q.items():
            rs = sorted(rs, key=lambda r: r["rank"])
            assert len(rs) == sim.TOP_K
            assert all(
                rs[i]["cosine"] >= rs[i + 1]["cosine"]
                for i in range(len(rs) - 1)
            )

    def test_subset_of_unfiltered_when_labels_allow(self, spark):
        """Any unfiltered top-k hit whose label passes the predicate
        must appear in the filtered top-k at an equal-or-better rank
        (removing candidates can only promote the survivors)."""
        from etl_moodle_and_mass_email_sending_spark.operators import (
            similarity as sim,
        )

        unf = {
            (r["query_id"], r["vec_id"]): r["rank"]
            for r in sim.topk_bruteforce(spark, SF_SMALL).collect()
        }
        lab = {
            r["vec_id"]: r["label"]
            for r in sim._vectors(spark, SF_SMALL)
            .select("vec_id", "label")
            .collect()
        }
        filt = {
            (r["query_id"], r["vec_id"]): r["rank"]
            for r in sim.filtered_topk(spark, SF_SMALL).collect()
        }
        for (q, v), rank in unf.items():
            if lab[v] < sim.FILTER_LABEL_MAX:
                assert (q, v) in filt
                assert filt[(q, v)] <= rank


class TestSchemaDrift:
    def test_planted_drift_fires_and_counts_match(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )

        rows = registry.queries()["stream_schema_drift"](
            spark, SF_SMALL
        ).collect()
        by = {(r["chunk"], r["key"]): r for r in rows}
        # batch 1 is the baseline: every key 'ok'
        assert all(
            r["status"] == "ok" for r in rows if r["chunk"] == 1
        )
        # planted drift: 'exp' appears only in batch 2 (new), 'legacy'
        # vanishes after batch 1 (missing, prevalence 0)
        assert by[(2, "exp")]["status"] == "new"
        assert by[(2, "legacy")]["status"] == "missing"
        assert by[(2, "legacy")]["n_rows"] == 0
        assert (1, "exp") not in by
        # base keys are on every row of every batch
        n = load_table(spark, SF_SMALL, "events").count()
        for key in ("k", "t", "u"):
            assert by[(1, key)]["n_rows"] + by[(2, key)]["n_rows"] == n


class TestBackfillHandoff:
    def test_overlap_dedup_is_exactly_once(self, spark):
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )

        rows = registry.queries()["stream_backfill_handoff"](
            spark, SF_SMALL
        ).collect()
        assert rows and all(r["exactly_once"] for r in rows)
        # the overlap chunk genuinely arrived twice and was dropped
        assert sum(r["n_overlap_dropped"] for r in rows) > 0
        # stream arrivals = overlap + net (chunk 3 + chunk 4)
        for r in rows:
            assert (
                r["n_stream_arrived"]
                == r["n_overlap_dropped"] + r["n_stream_net"]
            )
        per_type = {
            r["event_type"]: r["count"]
            for r in load_table(spark, SF_SMALL, "events")
            .groupBy("event_type")
            .count()
            .collect()
        }
        assert {r["event_type"]: r["n_total"] for r in rows} == per_type


class TestKeyframeExtract:
    def test_keyframes_are_frame0_plus_scene_changes(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.operators import (
            multimodal,
        )

        rows = registry.queries()["mm_keyframe_extract"](
            spark, SF_SMALL
        ).collect()
        media = multimodal.media_table(spark, SF_SMALL)
        scenes = {
            (r["doc_id"], r["frame_idx"]): r
            for r in multimodal.detect_scene_changes(media).collect()
        }
        expected = {
            k
            for k, r in scenes.items()
            if k[1] == 0 or r["is_scene_change"] == 1
        }
        got = {(r["doc_id"], r["frame_idx"]) for r in rows}
        assert got == expected
        for r in rows:
            assert r["is_first"] == (r["frame_idx"] == 0)
            assert (
                r["intensity"]
                == scenes[(r["doc_id"], r["frame_idx"])]["intensity"]
            )
            # the payload slice is the frame's own bytes
            assert len(r["frame_hex"]) == multimodal.FRAME_BYTES * 2
        # every video contributes at least its mandatory frame-0 keyframe
        n_videos = media.filter("media_type = 'video'").count()
        assert len({r["doc_id"] for r in rows}) == n_videos


class TestStateTtl:
    def test_invariants_and_sequential_oracle(self, spark):
        """The 4-batch TTL recursion replayed sequentially in pandas
        must equal the streaming result exactly — including the
        evicted-key-returns-as-new rule."""
        import pandas as pd

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )
        from etl_moodle_and_mass_email_sending_spark.queries.streaming_q import (
            STATE_TTL_CHUNKS,
            STATE_TTL_HOURS,
        )

        rows = sorted(
            registry.queries()["stream_state_ttl"](
                spark, SF_SMALL
            ).collect(),
            key=lambda r: r["chunk"],
        )
        assert [r["chunk"] for r in rows] == list(
            range(1, STATE_TTL_CHUNKS + 1)
        )
        # sequential pandas oracle
        ev = (
            load_table(spark, SF_SMALL, "events")
            .select("event_id", "user_id", "ts")
            .toPandas()
            .sort_values(["ts", "event_id"])
            .reset_index(drop=True)
        )
        chunks = []
        n, total = STATE_TTL_CHUNKS, len(ev)
        q, r = divmod(total, n)
        pos = 0
        for k in range(1, n + 1):
            size = q + (1 if k <= r else 0)
            chunks.append(ev.iloc[pos : pos + size])
            pos += size
        state: dict = {}
        ttl = pd.Timedelta(hours=STATE_TTL_HOURS)
        for k, ch in enumerate(chunks, start=1):
            arriv = ch.groupby("user_id")["ts"].max()
            n_new = sum(1 for u in arriv.index if u not in state)
            for u, t in arriv.items():
                state[u] = max(state.get(u, t), t)
            bmax = ch["ts"].max()
            evict = [u for u, t in state.items() if t < bmax - ttl]
            for u in evict:
                del state[u]
            got = rows[k - 1]
            assert got["n_arrived"] == len(arriv)
            assert got["n_new"] == n_new
            assert got["n_active"] == len(state)
            assert got["n_evicted"] == len(evict)
        # state hygiene demonstrably fires on the testbed
        assert sum(r["n_evicted"] for r in rows) > 0
        # a returning evicted key is counted as new again
        assert sum(r["n_new"] for r in rows[1:]) > 0

    def test_empty_chunk_carries_state_forward(self, spark, tmp_path):
        """ADVICE r13 #2: fewer events than STATE_TTL_CHUNKS stages
        empty chunk files => NULL batch high-water mark. The guard must
        carry the state forward (nothing can newly expire), in both the
        Spark plan and the DuckDB oracle."""
        import datetime

        import duckdb

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.queries.streaming_q import (
            STATE_TTL_HOURS,
        )

        t0 = datetime.datetime(2024, 3, 1, 0, 0, 0)
        late = t0 + datetime.timedelta(hours=STATE_TTL_HOURS + 4)
        ev = spark.createDataFrame(
            [(1, 100, t0), (2, 200, late)],
            schema="event_id long, user_id long, ts timestamp",
        )
        sf_dir = str(tmp_path / "tiny")
        (tmp_path / "tiny").mkdir()
        ev.coalesce(1).write.parquet(str(tmp_path / "tiny" / "events.parquet"))
        rows = sorted(
            registry.queries()["stream_state_ttl"](
                spark, sf_dir
            ).collect(),
            key=lambda r: r["chunk"],
        )
        got = [
            (r["chunk"], r["n_arrived"], r["n_new"], r["n_active"],
             r["n_evicted"])
            for r in rows
        ]
        # chunk 2 evicts user 100 (40h idle > 36h TTL); the two empty
        # trailing chunks carry user 200 forward, evicting nothing
        assert got == [
            (1, 1, 1, 1, 0),
            (2, 1, 1, 1, 1),
            (3, 0, 0, 1, 0),
            (4, 0, 0, 1, 0),
        ]
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
        )
        oracle = con.execute(
            registry.oracle_sql()["stream_state_ttl"]
        ).fetchall()
        assert sorted(oracle) == got


class TestScd2Asof:
    def test_no_future_leakage_and_interval_consistency(self, spark):
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )

        rows = sorted(
            registry.queries()["rel_scd2_asof"](
                spark, SF_SMALL
            ).collect(),
            key=lambda r: r["day"],
        )
        assert len(rows) >= 7  # daily spine over the ~30-day testbed
        ev = load_table(spark, SF_SMALL, "events").select(
            "user_id", "ts", "value", "event_id"
        )
        # spot-check one probe day against a direct latest-before-probe
        # computation (the no-future-leakage contract)
        probe = rows[len(rows) // 2]["day"]
        direct = (
            ev.filter(F.col("ts") <= F.lit(probe))
            .withColumn(
                "_rn",
                F.row_number().over(
                    __import__("pyspark.sql.window", fromlist=["Window"])
                    .Window.partitionBy("user_id")
                    .orderBy(F.col("ts").desc(), F.col("event_id").desc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,2)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("m"),
            )
            .collect()[0]
        )
        got = next(r for r in rows if r["day"] == probe)
        assert got["n_tracked"] == direct["n"]
        assert got["mean_current_value"] == direct["m"]
        # tracked-user count is monotonically nondecreasing (users only
        # ever enter the dimension; intervals never expire)
        tracked = [r["n_tracked"] for r in rows]
        assert tracked == sorted(tracked)


class TestReleaseDiff:
    def test_total_row_reconciles_and_new_fires(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = registry.queries()["llm_release_diff"](
            spark, SF_SMALL
        ).collect()
        per = [r for r in rows if r["source"] != "__total__"]
        (tot,) = [r for r in rows if r["source"] == "__total__"]
        for col in ("docs_prev", "docs_curr", "tokens_prev", "tokens_curr"):
            assert tot[col] == sum(r[col] for r in per)
        assert tot["token_delta"] == tot["tokens_curr"] - tot["tokens_prev"]
        # the not-yet-onboarded source demonstrably reads 'new'
        assert any(r["status"] == "new" for r in per)
        assert all(r["docs_curr"] >= r["docs_prev"] for r in per)
        for r in per:
            if r["tokens_prev"] > 0:
                assert r["status"] in ("grown", "shrunk", "unchanged")
                assert r["pct_change"] is not None
            else:
                assert r["status"] == "new" and r["pct_change"] is None


class TestIngestFreshness:
    def test_adaptive_slo_discriminates(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = registry.queries()["rel_ingest_freshness"](
            spark, SF_SMALL
        ).collect()
        assert len(rows) == 5
        # the high-water feed has zero lag and is never lagging
        lead = min(rows, key=lambda r: r["lag_minutes"])
        assert lead["lag_minutes"] == 0.0 and not lead["lagging"]
        # the adaptive SLO discriminates on the testbed: some feed lags
        assert any(r["lagging"] for r in rows)
        for r in rows:
            assert r["lagging"] == (
                r["lag_minutes"] > r["mean_gap_minutes"]
            )
            assert r["volume_ratio"] is not None and r["n_days"] >= 1


class TestIngestHealth:
    def test_sections_and_verdict_consistency(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = registry.queries()["llm_ingest_health"](
            spark, SF_SMALL
        ).collect()
        by_sec = {}
        for r in rows:
            by_sec.setdefault(r["section"], []).append(r)
        assert set(by_sec) == {
            "schema",
            "fk",
            "mixture",
            "fresh",
            "verdict",
        }
        (v,) = by_sec["verdict"]
        body = [r for r in rows if r["section"] != "verdict"]
        assert v["n"] == sum(1 for r in body if r["flag"])
        hard = sum(
            1
            for r in body
            if r["section"] in ("schema", "fk") and r["flag"]
        )
        assert v["metric"] == float(hard)
        assert v["flag"] == (hard == 0)
        # the degraded FK dimension makes the gate demonstrably fire
        assert any(r["flag"] for r in by_sec["fk"])
        assert not v["flag"]
        # planted schema drift lands in batch 2, batch 1 is clean
        sch = {r["key"]: r for r in by_sec["schema"]}
        assert not sch["chunk1"]["flag"] and sch["chunk2"]["flag"]
        assert sch["chunk2"]["n"] == 2  # exp new + legacy missing

    def test_receipts_table_rerun_idempotent(self, spark, tmp_path):
        """Round 13 (VERDICT r12 item 3): the monitors append to a
        MATERIALIZED ingest-receipts table; re-appending the same
        (run_id, section) replaces exactly its own rows (dynamic
        partition overwrite), and a newer run shadows the older one
        in the latest-run rollup — per section, not globally."""
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark.operators import (
            receipts as rcpt,
        )
        from etl_moodle_and_mass_email_sending_spark.queries.llmdata import (
            _ingest_receipt_frames,
        )

        frames = _ingest_receipt_frames(spark, SF_SMALL)
        table = str(tmp_path / "ingest_receipts")
        for frame in frames.values():
            rcpt.append_receipts(
                rcpt.INGEST, frame, table, run_id="run-000001"
            )

        def snap():
            return sorted(
                (r["section"], r["key"], r["n"], r["metric"], r["flag"])
                for r in rcpt.latest_rollup(
                    rcpt.INGEST, spark, table
                ).collect()
            )

        first = snap()
        assert len(first) == len(set((s, k) for s, k, *_ in first))
        # rerun ONE producer for the SAME run: nothing changes
        rcpt.append_receipts(
            rcpt.INGEST, frames["fk"], table, run_id="run-000001"
        )
        assert snap() == first
        # a NEWER run of one section shadows only that section
        doctored = frames["fk"].withColumn(
            "n", (F.col("n") + F.lit(100)).cast("bigint")
        )
        rcpt.append_receipts(
            rcpt.INGEST, doctored, table, run_id="run-000002"
        )
        second = snap()
        assert [r for r in second if r[0] != "fk"] == [
            r for r in first if r[0] != "fk"
        ]
        assert all(
            r[2] >= 100 for r in second if r[0] == "fk"
        ) and any(r[0] == "fk" for r in second)

    def test_query_rerun_in_session_is_stable(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry

        fn = registry.queries()["llm_ingest_health"]
        a = sorted(map(tuple, fn(spark, SF_SMALL).collect()))
        b = sorted(map(tuple, fn(spark, SF_SMALL).collect()))
        assert a == b


class TestCdcMerge:
    def test_receipt_reconciles_and_every_action_fires(self, spark):
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )
        from etl_moodle_and_mass_email_sending_spark.queries.windows import (
            CDC_BASE_MOD,
            CDC_CHG_MOD,
            CDC_DEL_MOD,
        )

        rows = {
            r["action"]: r
            for r in registry.queries()["rel_cdc_merge"](
                spark, SF_SMALL
            ).collect()
        }
        assert set(rows) == {
            "insert", "update", "delete", "noop_delete", "unchanged",
            "final",
        }
        o = load_table(spark, SF_SMALL, "orders")
        k = F.col("o_orderkey")
        in_base = k % CDC_BASE_MOD != 3
        in_chg = k % CDC_CHG_MOD != 4
        deleted = k % CDC_DEL_MOD == 0
        direct = o.agg(
            F.sum((in_base & ~in_chg).cast("long")).alias("unchanged"),
            F.sum((in_base & in_chg & deleted).cast("long")).alias(
                "delete"
            ),
            F.sum((in_base & in_chg & ~deleted).cast("long")).alias(
                "update"
            ),
            F.sum((~in_base & in_chg & ~deleted).cast("long")).alias(
                "insert"
            ),
            F.sum((~in_base & in_chg & deleted).cast("long")).alias(
                "noop_delete"
            ),
        ).collect()[0]
        for action in (
            "unchanged", "delete", "update", "insert", "noop_delete"
        ):
            assert rows[action]["n_rows"] == direct[action], action
        # the final row reconciles: post-merge table = unchanged +
        # update + insert, in both count and value mass
        assert rows["final"]["n_rows"] == (
            rows["unchanged"]["n_rows"]
            + rows["update"]["n_rows"]
            + rows["insert"]["n_rows"]
        )
        assert abs(
            rows["final"]["sum_value"]
            - (
                rows["unchanged"]["sum_value"]
                + rows["update"]["sum_value"]
                + rows["insert"]["sum_value"]
            )
        ) < 1e-6
        # upserts added exactly +10 per touched row
        n_upserts = rows["update"]["n_rows"] + rows["insert"]["n_rows"]
        assert n_upserts > 0 and rows["delete"]["n_rows"] > 0


class TestIvfTombstone:
    def test_counts_and_shares(self, spark):
        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
            N_CENTROIDS,
            TOMBSTONE_MOD,
            _vectors,
        )

        rows = registry.queries()["sim_index_tombstone"](
            spark, SF_SMALL
        ).collect()
        assert len(rows) == N_CENTROIDS
        v = _vectors(spark, SF_SMALL)
        total = v.count()
        n_del = v.filter(f"vec_id % {TOMBSTONE_MOD} = 3").count()
        assert sum(r["n_before"] for r in rows) == total
        assert sum(r["n_deleted"] for r in rows) == n_del
        for r in rows:
            assert r["n_after"] == r["n_before"] - r["n_deleted"]
        assert abs(sum(r["share_after"] for r in rows) - 1.0) < 1e-3


class TestSpectralHealth:
    def test_power_iteration_trace_matches_numpy(self, spark):
        import numpy as np

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
            DIM,
            SPECTRAL_ITERS,
            _vectors,
        )

        rows = sorted(
            registry.queries()["sim_spectral_health"](
                spark, SF_SMALL
            ).collect(),
            key=lambda r: r["iter"],
        )
        assert [r["iter"] for r in rows] == list(
            range(1, SPECTRAL_ITERS + 1)
        )
        X = np.array(
            [
                r["vec"]
                for r in _vectors(spark, SF_SMALL)
                .select("vec")
                .collect()
            ]
        )
        m = X.mean(axis=0)
        Xc = X - m
        total_var = (Xc * Xc).sum(axis=1).mean()
        u = np.full(DIM, 1.0 / DIM**0.5)
        for r in rows:
            w = Xc @ u
            z = (Xc * w[:, None]).mean(axis=0)
            lam = float(np.linalg.norm(z))
            u_next = z / lam
            assert abs(r["lambda_est"] - lam) < 1e-5
            assert abs(r["dominant_share"] - lam / total_var) < 1e-5
            assert abs(r["align"] - float(u @ u_next)) < 1e-5
            u = u_next
        # the iterate converges toward the dominant direction
        assert rows[-1]["align"] >= rows[0]["align"]


class TestRateLimit:
    def test_token_bucket_recursion_and_fifo_value(self, spark):
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )
        from etl_moodle_and_mass_email_sending_spark.queries.streaming_q import (
            RATE_CAP,
            RATE_CHUNKS,
            RATE_REFILL,
        )

        rows = sorted(
            registry.queries()["stream_rate_limit"](
                spark, SF_SMALL
            ).collect(),
            key=lambda r: r["chunk"],
        )
        assert [r["chunk"] for r in rows] == list(
            range(1, RATE_CHUNKS + 1)
        )
        total = load_table(spark, SF_SMALL, "events").count()
        assert sum(r["n_arrived"] for r in rows) == total
        left = backlog = 0
        for r in rows:
            tokens = min(RATE_CAP, left + RATE_REFILL)
            adm = min(backlog + r["n_arrived"], tokens)
            assert r["n_admitted"] == adm
            backlog = backlog + r["n_arrived"] - adm
            assert r["n_deferred"] == backlog
            left = tokens - adm
            assert r["n_admitted"] <= RATE_CAP
        # the bucket binds on the testbed (backlog actually accrues)
        assert any(r["n_deferred"] > 0 for r in rows)
        # admitted value mass is the FIFO prefix: first chunk's
        # admitted value equals the sum over the globally-earliest
        # n_admitted events
        ev = load_table(spark, SF_SMALL, "events").select(
            "event_id", "ts", F.col("value").cast("decimal(18,2)").alias("v")
        )
        k = rows[0]["n_admitted"]
        expect = (
            ev.orderBy("ts", "event_id")
            .limit(k)
            .agg(F.sum("v").cast("double"))
            .collect()[0][0]
        )
        assert abs(rows[0]["admitted_value"] - expect) < 1e-6


class TestBloomDecontaminate:
    def test_no_false_negatives_and_exact_arm_matches_detection(
        self, spark
    ):
        from etl_moodle_and_mass_email_sending_spark import registry

        rows = registry.queries()["text_bloom_decontaminate"](
            spark, SF_SMALL
        ).collect()
        assert rows
        for r in rows:
            # bloom guarantees no false negatives: every exact doc is
            # a candidate, and fp is exactly the surplus
            assert r["n_exact_docs"] <= r["n_candidate_docs"]
            assert (
                r["n_fp_docs"]
                == r["n_candidate_docs"] - r["n_exact_docs"]
            )
            assert r["n_candidate_docs"] <= r["n_train_docs"]
            if r["fp_rate"] is not None:
                assert 0.0 <= r["fp_rate"] <= 1.0
        # the exact arm IS text_decontaminate's detection set
        n_exact = sum(r["n_exact_docs"] for r in rows)
        detected = (
            registry.queries()["text_decontaminate"](spark, SF_SMALL)
            .select("doc_id")
            .distinct()
            .count()
        )
        assert n_exact == detected


class TestStreamCdcApply:
    def test_state_reconciles_with_batch_twin(self, spark):
        from pyspark.sql import functions as F

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.catalog import (
            load_table,
        )
        from etl_moodle_and_mass_email_sending_spark.queries.streaming_q import (
            CDC_STREAM_CHUNKS,
        )
        from etl_moodle_and_mass_email_sending_spark.queries.windows import (
            CDC_BASE_MOD,
        )

        rows = sorted(
            registry.queries()["stream_cdc_apply"](
                spark, SF_SMALL
            ).collect(),
            key=lambda r: r["chunk"],
        )
        assert [r["chunk"] for r in rows] == list(
            range(1, CDC_STREAM_CHUNKS + 1)
        )
        base_n = (
            load_table(spark, SF_SMALL, "orders")
            .filter(F.col("o_orderkey") % CDC_BASE_MOD != 3)
            .count()
        )
        prev = base_n
        for r in rows:
            assert (
                r["rows_after"]
                == prev + r["n_insert"] - r["n_delete"]
            )
            prev = r["rows_after"]
        # the stream's final state IS the batch twin's final row
        batch = {
            b["action"]: b
            for b in registry.queries()["rel_cdc_merge"](
                spark, SF_SMALL
            ).collect()
        }
        assert rows[-1]["rows_after"] == batch["final"]["n_rows"]
        assert (
            abs(rows[-1]["value_after"] - batch["final"]["sum_value"])
            < 1e-6
        )
        # per-action totals across batches match the batch twin
        for a, col in (
            ("insert", "n_insert"),
            ("update", "n_update"),
            ("delete", "n_delete"),
            ("noop_delete", "n_noop"),
        ):
            assert sum(r[col] for r in rows) == batch[a]["n_rows"], a


class TestPoissonBootstrap:
    def test_replica_estimates_match_python_recompute(self, spark):
        import hashlib

        import duckdb

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.queries.finance import (
            BOOT_R,
            BOOT_SEED0,
            BOOT_Z95,
            _POIS_CDF,
            _U_SCALE,
        )

        rows = {
            r["priority"]: r
            for r in registry.queries()["rel_poisson_bootstrap"](
                spark, SF_SMALL
            ).collect()
        }
        df = duckdb.sql(
            "select o_orderkey, o_orderpriority, o_totalprice "
            f"from '{SF_SMALL}/orders.parquet'"
        ).fetchdf()
        assert sum(r["n_rows"] for r in rows.values()) == len(df)

        def h32(seed: int, key: int) -> int:
            return int(
                hashlib.md5(f"{seed}§{key}".encode()).hexdigest()[:8], 16
            )

        def mult(key: int, r: int) -> int:
            a = h32(BOOT_SEED0, key)
            b = h32(BOOT_SEED0 + 1, key)
            u = ((a + r * b) % 2**32) / _U_SCALE
            for k, t in enumerate(_POIS_CDF):
                if u < t:
                    return k
            return 5

        import collections
        from decimal import Decimal

        sw = collections.defaultdict(Decimal)
        cw = collections.defaultdict(int)
        for key, pri, v in zip(
            df["o_orderkey"], df["o_orderpriority"], df["o_totalprice"]
        ):
            dv = Decimal(str(round(float(v), 2)))
            for r in range(BOOT_R):
                w = mult(int(key), r)
                if w:
                    sw[(pri, r)] += w * dv
                    cw[(pri, r)] += w
        for pri, row in rows.items():
            ests = [
                float(sw[(pri, r)]) / cw[(pri, r)] for r in range(BOOT_R)
            ]
            s1 = 0.0
            s2 = 0.0
            for e in ests:  # same left-to-right fold as both engines
                s1 += e
                s2 += e * e
            bm = s1 / BOOT_R
            bs = max((s2 - s1 * s1 / BOOT_R) / (BOOT_R - 1), 0.0) ** 0.5
            assert abs(row["boot_mean"] - round(bm, 6)) < 1e-6, pri
            assert abs(row["boot_sd"] - round(bs, 6)) < 1e-6, pri
            assert (
                abs(row["ci_lo"] - round(bm - BOOT_Z95 * bs, 6)) < 1e-6
            )
            assert (
                abs(row["ci_hi"] - round(bm + BOOT_Z95 * bs, 6)) < 1e-6
            )
            # the CI brackets the point estimate for a mean statistic
            assert row["ci_lo"] <= row["point_est"] <= row["ci_hi"], pri


class TestBitemporalAsof:
    def test_snapshots_match_python_recompute(self, spark):
        import datetime as dt
        from decimal import Decimal

        import duckdb

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.queries.windows import (
            BT_CORR_MOD,
            BT_NEWV_MOD,
            BT_SNAPSHOTS,
        )

        rows = {
            r["snap"]: r
            for r in registry.queries()["rel_bitemporal_asof"](
                spark, SF_SMALL
            ).collect()
        }
        assert set(rows) == {s for s, _, _ in BT_SNAPSHOTS}
        df = duckdb.sql(
            "select o_orderkey, cast(o_orderdate as date) d, o_totalprice "
            f"from '{SF_SMALL}/orders.parquet'"
        ).fetchdf()
        day = dt.timedelta(days=1)
        for snap, tx_s, va_s in BT_SNAPSHOTS:
            tx = dt.date.fromisoformat(tx_s)
            va = dt.date.fromisoformat(va_s)
            n = n_corr = 0
            sv = Decimal(0)
            for key, d, v in zip(df["o_orderkey"], df["d"], df["o_totalprice"]):
                k = int(key)
                d = d.date() if hasattr(d, "date") else d
                dv = Decimal(str(round(float(v), 2)))
                vt_to1 = d + 90 * day if k % BT_NEWV_MOD == 0 else None
                versions = [
                    (dv, d, vt_to1, d + 2 * day,
                     d + 10 * day if k % BT_CORR_MOD == 0 else None, False),
                ]
                if k % BT_CORR_MOD == 0:
                    versions.append(
                        (dv + 5, d, vt_to1, d + 10 * day, None, True)
                    )
                if k % BT_NEWV_MOD == 0:
                    versions.append(
                        (dv + 9, d + 90 * day, None, d + 91 * day, None,
                         False)
                    )
                for val, vf, vt, tf, tt, corr in versions:
                    if (
                        tf <= tx
                        and (tt is None or tt > tx)
                        and vf <= va
                        and (vt is None or vt > va)
                    ):
                        n += 1
                        n_corr += corr
                        sv += val
            row = rows[snap]
            assert row["n_rows"] == n, snap
            assert row["n_corrected"] == n_corr, snap
            assert abs(row["sum_val"] - float(sv)) < 1e-4, snap

    def test_corrections_invisible_before_their_transaction(self, spark):
        # reproduce-yesterday's-report: at a system time before any
        # correction lands (min d+10), the corrected cohort contributes
        # its ORIGINAL values — n_corrected must be 0 for a snapshot
        # whose tx_asof precedes valid_asof + 9 days only if no key's
        # d+10 <= tx. s1_early (tx == valid) still sees corrections for
        # old-enough keys, so assert the monotone property instead:
        # later tx at the same valid time can only increase
        # n_corrected, never decrease it.
        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.queries.windows import (
            BT_SNAPSHOTS,
        )

        rows = {
            r["snap"]: r
            for r in registry.queries()["rel_bitemporal_asof"](
                spark, SF_SMALL
            ).collect()
        }
        for snap, _, _ in BT_SNAPSHOTS:
            r = rows[snap]
            assert r["n_rows"] > 0, snap
            assert 0 <= r["n_corrected"] <= r["n_rows"], snap


class TestGraphAnnTopk:
    def test_reachability_scoring_and_shape(self, spark):
        import math

        import duckdb

        from etl_moodle_and_mass_email_sending_spark import registry
        from etl_moodle_and_mass_email_sending_spark.operators.similarity import (
            GA_ENTRY_IDS,
            GA_HOPS,
            N_QUERIES,
            TOP_K,
            _knn_directed,
        )

        out = registry.queries()["sim_graph_ann_topk"](
            spark, SF_SMALL
        ).collect()
        per_q = {}
        for r in out:
            per_q.setdefault(r["query_id"], []).append(r)
        assert set(per_q) <= set(range(N_QUERIES))
        for qid, rs in per_q.items():
            rs.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
            assert len(rs) <= TOP_K
            cos = [r["cosine"] for r in rs]
            assert cos == sorted(cos, reverse=True)
            assert all(r["vec_id"] != qid for r in rs)
        # every result lies within GA_HOPS edge-hops of the entry set
        edges = {}
        for r in _knn_directed(spark, SF_SMALL).collect():
            edges.setdefault(r["src"], []).append(r["dst"])
        reach = set(GA_ENTRY_IDS)
        frontier = set(GA_ENTRY_IDS)
        for _ in range(GA_HOPS):
            frontier = {
                d for s in frontier for d in edges.get(s, [])
            }
            reach |= frontier
        assert all(r["vec_id"] in reach for r in out)
        # reported cosines equal the exact cosine, recomputed in python
        vecs = {
            int(vid): list(map(float, emb))
            for vid, emb in duckdb.sql(
                "select vec_id, embedding from "
                f"'{SF_SMALL}/embeddings.parquet'"
            ).fetchall()
        }
        for r in out:
            a, b = vecs[r["query_id"]], vecs[r["vec_id"]]
            dot = naa = nbb = 0.0
            for x, y in zip(a, b):
                dot += x * y
                naa += x * x
                nbb += y * y
            want = round(dot / (math.sqrt(naa) * math.sqrt(nbb)), 6)
            assert abs(r["cosine"] - want) < 2e-6, (r, want)


class TestWatermarkDetect:
    def test_planted_watermark_flags_plain_text_does_not(self, spark):
        import hashlib

        from pyspark.sql import types as T

        from etl_moodle_and_mass_email_sending_spark.operators.text_analysis import (
            GREEN_MOD,
            WM_SEED,
            watermark_detect,
        )

        def green(prev: str, cur: str) -> bool:
            h = int(
                hashlib.md5(
                    f"{WM_SEED}§{prev}§{cur}".encode()
                ).hexdigest()[:8],
                16,
            )
            return h % GREEN_MOD == 0

        # greedy watermark sampler: always emit a green next token —
        # exactly what the Kirchenbauer detector is built to catch
        vocab = [f"w{i}" for i in range(64)]
        toks = ["w0"]
        while len(toks) < 60:
            toks.append(next(c for c in vocab if green(toks[-1], c)))
        wm_text = " ".join(toks)
        plain_text = " ".join(f"tok{i}" for i in range(60))
        corpus = spark.createDataFrame(
            [
                (0, wm_text, "wm"),
                (1, plain_text, "plain"),
                (2, "solo", "plain"),  # 1 token: counted, not scored
            ],
            schema=T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("text", T.StringType()),
                    T.StructField("source", T.StringType()),
                ]
            ),
        )
        rows = {r["source"]: r for r in watermark_detect(corpus).collect()}
        wm, plain = rows["wm"], rows["plain"]
        assert wm["n_scored"] == 1 and wm["n_flagged_z3"] == 1
        assert wm["avg_green_frac"] == 1.0
        assert wm["avg_z"] > 4  # 59 all-green pairs >> gamma
        assert plain["n_docs"] == 2 and plain["n_scored"] == 1
        assert plain["n_flagged_z3"] == 0
        assert abs(plain["avg_z"]) < 3  # unwatermarked stays near gamma
