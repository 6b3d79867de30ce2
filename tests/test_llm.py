"""Tests for the LLM-pipeline operators (SURVEY.md §2C).

The oracle queries in queries.py verify end-to-end values against
DuckDB; these tests pin the properties the oracles can't express:
LSH candidate completeness, the two simhash computation paths agreeing,
ANN recall vs brute force, and the multimodal stub contracts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.llm import dedup, multimodal, vectors
from cdk_dynamodb_cdc_spark.llm import text as llm_text
from cdk_dynamodb_cdc_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


# --- dedup ---------------------------------------------------------------

def test_exact_dedup_groups(spark):
    docs = _docs(spark, ["a b c", "d e f", "a b c", "a b c", "g h i"])
    got = {
        (r.canonical_doc_id, r.n_copies)
        for r in dedup.exact_dedup_groups(docs).collect()
    }
    assert got == {(0, 3)}


def test_minhash_finds_planted_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(49)) + " zz"  # ~0.92 jaccard
    far = " ".join(f"x{i}" for i in range(50))
    docs = _docs(spark, [base, near, far])
    pairs = dedup.minhash_near_dup_pairs(docs, threshold=0.8).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(0, 1)}
    [r] = pairs
    # 48 shingles/side; only the final shingle of each differs
    assert r.n_common == 47 and r.n_union == 49 and r.jaccard > 0.8


def test_minhash_signature_is_deterministic(spark):
    docs = _docs(spark, ["a b c d e f g h"])
    s1 = dedup.minhash_signatures(docs).collect()[0].mh
    s2 = dedup.minhash_signatures(docs).collect()[0].mh
    assert s1 == s2 and len(s1) == dedup.MINHASH_PERMS


def test_simhash_agg_path_matches_columnar_path(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    col_path = docs.select(
        "doc_id", llm_text.simhash60(llm_text.tokens(F.col("text"))).alias("sh")
    )
    agg_path = dedup.simhash_signatures(docs)
    diff = col_path.join(agg_path, "doc_id").filter(
        col_path.sh != agg_path.sh
    )
    assert diff.count() == 0


def test_simhash_pairs_rejects_uncovered_hamming(spark):
    docs = _docs(spark, ["a b c"])
    with pytest.raises(ValueError, match="banding"):
        dedup.simhash_near_dup_pairs(docs, max_hamming=10)


def test_simhash_identical_docs_distance_zero(spark):
    docs = _docs(spark, ["a b c d e", "a b c d e"])
    [r] = dedup.simhash_near_dup_pairs(docs, max_hamming=3).collect()
    assert (r.doc_a, r.doc_b, r.hamming) == (0, 1, 0)


# --- vectors -------------------------------------------------------------

def test_cosine_topk_orders_by_similarity(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),   # closest to 0
            (2, [0.0, 1.0]),   # orthogonal
            (3, [-1.0, 0.0]),  # opposite
        ],
        "vec_id long, embedding array<float>",
    )
    rows = vectors.cosine_topk(emb, [0], k=3).collect()
    assert [(r.rk, r.neighbor_id) for r in rows] == [(1, 1), (2, 2), (3, 3)]


def test_ann_recall_floor_vs_brute_force(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 3, 4]
    bf = {(r.qid, r.neighbor_id) for r in vectors.cosine_topk(emb, qids, 10).collect()}
    ann = {
        (r.qid, r.neighbor_id)
        for r in vectors.ann_cosine_topk(emb, qids, 10, dim=64).collect()
    }
    assert len(bf) == 50
    # sign-LSH on near-random vectors: measured 0.52 at defaults; pin a
    # regression floor well above the ~0.34 expected from random probing
    assert len(bf & ann) / len(bf) >= 0.40


def test_lsh_near_dup_pairs_matches_numpy_contract(spark):
    """lsh_near_dup_pairs == {pairs with cos >= t AND sig-Hamming <= h},
    computed independently in numpy with the same seeded hyperplanes —
    pins both the exact-verify step and the exactly-once-per-pair
    property of the multiprobe expansion."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 200)
    rows = sorted(emb.select("vec_id", "embedding").collect())
    ids = [r.vec_id for r in rows]
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    planes = np.array(vectors._hyperplanes(V.shape[1], vectors.ANN_PLANES))
    bits = (V @ planes.T) >= 0
    nrm = np.linalg.norm(V, axis=1)
    C = (V @ V.T) / np.outer(nrm, nrm)
    expected = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if (bits[i] != bits[j]).sum() <= vectors.ANN_MULTIPROBE_HAMMING
        and C[i, j] >= 0.35
    }
    got = [
        (r.vec_a, r.vec_b)
        for r in vectors.lsh_near_dup_pairs(
            emb, dim=V.shape[1], threshold=0.35
        ).collect()
    ]
    assert len(got) == len(set(got))  # each pair exactly once
    assert set(got) == expected and expected


def test_ivf_recall_floor_vs_brute_force(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 3, 4]
    bf = {(r.qid, r.neighbor_id) for r in vectors.cosine_topk(emb, qids, 10).collect()}
    ivf = {
        (r.qid, r.neighbor_id)
        for r in vectors.ivf_cosine_topk(emb, qids, 10).collect()
    }
    # measured 0.84 overall at sf0.01 defaults (nlist=32, nprobe=6);
    # well above the ~nprobe/nlist = 0.19 expected from random cells
    assert len(bf & ivf) / len(bf) >= 0.60


# --- multimodal ----------------------------------------------------------

def test_media_decode_metadata_roundtrip(spark):
    docs = _docs(spark, ["hello world", "abc"])
    media = multimodal.attach_binary_payload(docs)
    rows = {r.doc_id: r for r in multimodal.decode_metadata(media).collect()}
    assert rows[0].n_bytes == 11 and rows[1].n_bytes == 3
    n = 11
    assert rows[0].width == n % 64 + 16
    assert rows[0].height == (n // 64) % 64 + 16
    assert rows[0].n_frames == n % 7 + 1


def test_media_frame_sample_emits_per_frame_rows(spark):
    docs = spark.createDataFrame(
        [(0, "x" * 20, "en", "src9", 20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.attach_binary_payload(docs)
    rows = multimodal.sample_frames(media).collect()
    n_frames = 20 % 7 + 1  # 7
    stride = 20 // n_frames
    assert [(r.frame_idx, r.frame_offset) for r in sorted(rows, key=lambda r: r.frame_idx)] == [
        (i, i * stride) for i in range(n_frames)
    ]


# --- text ----------------------------------------------------------------

def test_lang_id_precedence_and_und(spark):
    df = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "qqq zzz www")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.p for r in df.select(
        "doc_id", llm_text.lang_id(F.col("text")).alias("p")
    ).collect()}
    assert rows[0] == "en" and rows[1] == "und"


def test_fingerprint_invariant_to_word_order_only_if_grams_shared(spark):
    df = spark.createDataFrame(
        [(0, "abcdefghijklmnop"), (1, "abcdefghijklmnop")],
        "doc_id long, text string",
    )
    fps = [
        r.fp
        for r in df.select(llm_text.doc_fingerprint(F.col("text")).alias("fp")).collect()
    ]
    assert fps[0] == fps[1]


def test_short_docs_have_no_shingles_and_no_phantom_pairs(spark):
    """Docs with fewer than k tokens produce EMPTY shingle sets (ADVICE
    r2): two unrelated 2-token docs must not report Jaccard 1.0."""
    docs = _docs(spark, ["alpha beta", "gamma delta", "x", ""])
    sh = docs.select(
        "doc_id", dedup.word_shingles(F.col("text")).alias("s")
    ).collect()
    assert all(r.s == [] for r in sh)
    pairs = dedup.minhash_near_dup_pairs(docs).collect()
    assert pairs == []


def test_ivf_trained_cells_are_balanced(spark):
    """The trained codebook must keep cell populations balanced — the
    nprobe/nlist probe-cost bound only holds when no cell swallows the
    corpus. Pin max/mean cell population on the sf0.01 corpus."""
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    sizes = [
        r.n
        for r in vectors.ivf_build(emb)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    n_vecs = sum(sizes)
    mean = n_vecs / vectors.IVF_NLIST
    assert len(sizes) >= vectors.IVF_NLIST * 0.8  # few empty cells
    assert max(sizes) <= 4 * mean


def test_ivf_codebook_deterministic_and_unit_norm(spark):
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    base = vectors._normed(emb)
    cb1 = vectors._ivf_codebook(base, vectors.IVF_NLIST)
    cb2 = vectors._ivf_codebook(
        base.repartition(7), vectors.IVF_NLIST
    )  # partitioning-independent
    assert cb1 == cb2
    nrms = np.linalg.norm(np.array(cb1), axis=1)
    assert np.allclose(nrms, 1.0)


def test_ivf_index_persist_and_search_matches_direct(spark, tmp_path):
    """ivf_build -> write bucketed by cell -> read back -> ivf_search
    must equal the single-plan ivf_cosine_topk, and the stored-index
    search plan must not re-assign cells (no crossJoin against the
    corpus side)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 3, 4]
    direct = {(r.qid, r.rk, r.neighbor_id)
              for r in vectors.ivf_cosine_topk(emb, qids, 10).collect()}

    index = vectors.ivf_build(emb)
    index.write.mode("overwrite").option(
        "path", str(tmp_path / "ivf")
    ).bucketBy(8, "cell").saveAsTable("ivf_index_t")
    try:
        stored = spark.table("ivf_index_t")
        via_store = {(r.qid, r.rk, r.neighbor_id)
                     for r in vectors.ivf_search(stored, qids, 10).collect()}
        assert via_store == direct
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_index_t")


def test_scrub_pii_redacts_and_counts_hand_case(spark):
    from cdk_dynamodb_cdc_spark.llm.cleaning import scrub_pii

    df = spark.createDataFrame(
        [
            (0, "mail a.user@example.org or call 555-123-4567 via 10.1.2.3"),
            (1, "no pii here, just words and 1234 numbers"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert (rows[0].n_email, rows[0].n_phone, rows[0].n_ipv4) == (1, 1, 1)
    assert rows[0].text == "mail [EMAIL] or call [PHONE] via [IP]"
    assert (rows[1].n_email, rows[1].n_phone, rows[1].n_ipv4) == (0, 0, 0)
    assert rows[1].text == "no pii here, just words and 1234 numbers"


def test_vocab_top_terms_hand_corpus(spark):
    from cdk_dynamodb_cdc_spark.llm.text import vocab_top_terms

    df = spark.createDataFrame(
        [
            (0, "en", "a a a b b c"),
            (1, "en", "b z"),
            (2, "fr", "x y y"),
        ],
        "doc_id long, lang string, text string",
    )
    rows = [
        (r.lang, r.rk, r.term, r.n)
        for r in vocab_top_terms(df, per_lang=2).orderBy("lang", "rk").collect()
    ]
    assert rows == [
        ("en", 1, "a", 3),
        ("en", 2, "b", 3),  # tie with 'a' broken lexicographically
        ("fr", 1, "y", 2),
        ("fr", 2, "x", 1),
    ]


def test_weighted_sample_deterministic_and_weight_biased(spark):
    from cdk_dynamodb_cdc_spark.llm import curation

    df = spark.createDataFrame(
        [(i, 1 if i else 10**9) for i in range(200)],
        "doc_id long, w long",
    )
    s1 = sorted(r.doc_id for r in curation.weighted_sample(df, "w", 20).collect())
    s2 = sorted(
        r.doc_id
        for r in curation.weighted_sample(df.repartition(13), "w", 20).collect()
    )
    assert s1 == s2 and len(s1) == 20  # partitioning-independent
    assert 0 in s1  # the ~1e9x-weight row is effectively always drawn
    salted = sorted(
        r.doc_id
        for r in curation.weighted_sample(df, "w", 20, salt="other").collect()
    )
    assert salted != s1  # a different salt draws an independent sample


def test_connected_components_merges_transitive_chains(spark):
    # chain 1-2-3 and clique 10-11-12 plus cross pair 11-12: two
    # components; 1 and 3 were never directly paired but share a
    # cluster through 2.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path is the adversarial high-diameter case for
    # min-label propagation; the label must walk the whole chain.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    rows = dedup.connected_components(pairs).collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert len(rows) == 13


def test_connected_components_raises_when_iteration_budget_too_small(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iterations=2)


def test_decontaminate_flags_planted_overlap(spark):
    from cdk_dynamodb_cdc_spark.llm import curation

    leak = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 words
    corpus = spark.createDataFrame(
        [(1, f"prefix words here {leak} suffix tail"),
         (2, "totally unrelated text with no benchmark overlap at all")],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, f"question: {leak} answer: 42")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in curation.decontaminate(corpus, eval_set).collect()}
    assert rows[1]["n_shared_grams"] >= 1
    assert rows[2]["n_shared_grams"] == 0
    assert rows[2]["n_grams"] > 0


def test_decontaminate_bloom_matches_exact_on_edge_docs(spark):
    """The r14 single-pass rewrite must keep bloom == exact row-for-row,
    including the edge documents the explode_outer path exists for: a
    zero-candidate doc (every gram fails the Bloom), a doc shorter than
    the gram width (empty gram array), and a NULL-text doc."""
    from cdk_dynamodb_cdc_spark.llm import curation

    leak = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [
            (1, f"prefix words here {leak} suffix tail"),
            (2, "totally unrelated text with no benchmark overlap at all"),
            (3, "short text"),  # < 8 words: zero grams
            (4, None),  # NULL text
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, f"question: {leak} answer: 42")], "doc_id long, text string"
    )
    exact = {tuple(r) for r in curation.decontaminate(corpus, eval_set).collect()}
    bloom = {
        tuple(r)
        for r in curation.decontaminate_bloom(corpus, eval_set).collect()
    }
    assert exact == bloom
    assert len(exact) == 4  # every corpus doc present exactly once
    by_id = {r[0]: r for r in exact}
    assert by_id[1][2] >= 1  # planted overlap flagged
    assert by_id[2][2] == 0  # no overlap
    assert by_id[3][2] == 0  # zero grams -> zero shared


def test_pack_sequences_contiguous_fill_and_boundary_flag(spark):
    from cdk_dynamodb_cdc_spark.llm import curation

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g"), (3, "h i j k l"), (4, "m n")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            curation.pack_sequences(docs, budget=5).collect()}
    # offsets: 0, 4, 7, 12 -> packs 0, 0, 1, 2
    assert [rows[i]["pack_id"] for i in (1, 2, 3, 4)] == [0, 0, 1, 2]
    # doc 2 occupies tokens 4..6, straddling the 5-token boundary
    assert rows[2]["spans_packs"] is True
    assert rows[1]["spans_packs"] is False


def test_stratified_sample_deterministic_and_bounded(spark):
    from cdk_dynamodb_cdc_spark.llm import curation

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr") for i in range(50)],
        "doc_id long, lang string",
    )
    s1 = sorted((r["lang"], r["doc_id"]) for r in
                curation.stratified_sample(df, "lang", 5, salt="a").collect())
    s2 = sorted((r["lang"], r["doc_id"]) for r in
                curation.stratified_sample(df, "lang", 5, salt="a").collect())
    s3 = sorted((r["lang"], r["doc_id"]) for r in
                curation.stratified_sample(df, "lang", 5, salt="b").collect())
    assert s1 == s2  # reproducible
    assert s1 != s3  # independent draw under a different salt
    from collections import Counter

    assert Counter(lang for lang, _ in s1) == {"en": 5, "fr": 5}


# --- ngram jaccard (prefix-filtered exact similarity join) ----------------

def test_ngram_jaccard_matches_brute_force(spark):
    """The prefix-filtered join must equal all-pairs exact Jaccard —
    including pairs LSH banding could miss at low thresholds."""
    base = " ".join(f"w{i}" for i in range(30))
    mid = " ".join(f"w{i}" for i in range(20)) + " " + " ".join(
        f"y{i}" for i in range(10)
    )  # moderate overlap with base
    near = " ".join(f"w{i}" for i in range(29)) + " zz"
    far = " ".join(f"x{i}" for i in range(30))
    rows = [base, mid, near, far]
    docs = _docs(spark, rows)
    got = {
        (r.doc_a, r.doc_b, r.n_common, r.n_union)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }

    def shingles(t):
        ws = t.split(" ")
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    want = set()
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            sa, sb = shingles(rows[a]), shingles(rows[b])
            inter, union = len(sa & sb), len(sa | sb)
            if union and inter / union >= 0.3:
                want.add((a, b, inter, union))
    assert got == want and len(want) >= 2


def test_ngram_jaccard_size_filter_keeps_qualifying_pairs(spark):
    """A short prefix of a long doc fails the size ratio and must be
    pruned; an identical copy must survive with jaccard 1.0."""
    long = " ".join(f"w{i}" for i in range(40))
    short = " ".join(f"w{i}" for i in range(8))  # subset, tiny
    copy = long
    docs = _docs(spark, [long, short, copy])
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert set(pairs) == {(0, 2)} and pairs[(0, 2)] == 1.0


# --- cleaning: repetition + boilerplate -----------------------------------

def test_duplicated_gram_fraction_hand_computed(spark):
    from cdk_dynamodb_cdc_spark.llm import cleaning

    # 2-grams of "a b a b c": [a b, b a, a b, b c] -> 'a b' dup (2 of 4)
    docs = _docs(spark, ["a b a b c", "a b c d", "x"])
    got = {
        r.doc_id: r.dup_frac
        for r in docs.select(
            "doc_id",
            cleaning.duplicated_gram_fraction(F.col("text")).alias("dup_frac"),
        ).collect()
    }
    assert got[0] == 0.5 and got[1] == 0.0 and got[2] == 0.0


def test_boilerplate_gram_stats_flags_corpus_frequent_grams(spark):
    from cdk_dynamodb_cdc_spark.llm import cleaning

    shared = "alpha beta gamma delta epsilon"  # one 5-gram, in 3 docs
    docs = _docs(
        spark,
        [
            shared + " one two",
            shared + " three four",
            shared,
            "unique words only here now too",
            "tiny",
        ],
    )
    got = {
        r.doc_id: (r.n_grams, r.n_boilerplate, r.boilerplate_frac)
        for r in cleaning.boilerplate_gram_stats(
            docs, k=5, min_docs=3
        ).collect()
    }
    assert got[2] == (1, 1, 1.0)          # exactly the shared gram
    assert got[3] == (2, 0, 0.0)          # 6 tokens -> 2 grams, none shared
    assert got[4] == (0, 0, 0.0)          # sub-k doc present, not dropped
    assert got[0][1] >= 1 and got[1][1] >= 1


# --- gapfill ---------------------------------------------------------------

def test_gapfill_fills_silent_hours_and_carries_value(spark):
    from cdk_dynamodb_cdc_spark.queries import QUERIES

    out = QUERIES["gapfill_hourly_user_activity"](spark, SF_DIR)
    rows = out.filter(F.col("user_id") == 0).orderBy("hour_start").collect()
    assert rows, "user 0 must exist in the corpus"
    # grid is contiguous hourly between first and last bucket
    hours = [r.hour_start for r in rows]
    deltas = {
        int((b - a).total_seconds()) for a, b in zip(hours, hours[1:])
    }
    assert deltas == {3600}
    # zero-filled hours exist and LOCF is never null
    assert any(r.n_events == 0 for r in rows)
    assert all(r.locf_hour_value is not None for r in rows)
    # LOCF equality: a silent hour carries the previous hour's value
    for prev, cur in zip(rows, rows[1:]):
        if cur.n_events == 0:
            assert cur.locf_hour_value == prev.locf_hour_value


def test_ngram_jaccard_randomized_equals_brute_force(spark):
    """Seeded random corpora from a small vocabulary (worst case for
    prefix filtering: dense shingle space) across several thresholds —
    the join must equal brute force every time."""
    import numpy as np

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(12)]
    for trial, threshold in [(0, 0.3), (1, 0.5), (2, 0.8)]:
        texts = [
            " ".join(rng.choice(vocab, size=rng.integers(1, 25)))
            for _ in range(30)
        ]
        docs = _docs(spark, texts)
        got = {
            (r.doc_a, r.doc_b)
            for r in dedup.ngram_jaccard_pairs(docs, threshold).collect()
        }

        def sh(t):
            ws = t.split(" ")
            return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

        want = set()
        for a in range(len(texts)):
            for b in range(a + 1, len(texts)):
                sa, sb = sh(texts[a]), sh(texts[b])
                if not sa or not sb:
                    continue
                if len(sa & sb) / len(sa | sb) >= threshold:
                    want.add((a, b))
        assert got == want, f"trial {trial} t={threshold}"


def test_resize_dims_caps_longest_side_and_floors_at_one():
    from cdk_dynamodb_cdc_spark.llm.multimodal import resize_dims

    assert resize_dims(16, 20) == (16, 20)          # under cap: unchanged
    assert resize_dims(64, 32) == (32, 16)          # exact halving
    assert resize_dims(79, 17) == (32, 6)           # floor division
    assert resize_dims(4000, 1) == (32, 1)          # floor at 1
    w, h = resize_dims(63, 61)
    assert max(w, h) == 32 and w >= h               # aspect order kept


def test_inverted_index_conjunctive_search(spark):
    from cdk_dynamodb_cdc_spark.llm.text import (
        build_inverted_index,
        search_conjunctive,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a c"),   # a twice + b + c -> matches {a,b}, score 3
            (2, "a b b b"),   # matches {a,b}, score 4
            (3, "a a a a"),   # missing b -> no match
            (4, "b c"),       # missing a -> no match
        ],
        "doc_id long, text string",
    )
    idx = build_inverted_index(docs)
    assert {
        (r["term"], r["doc_id"], r["tf"]) for r in idx.collect()
    } >= {("a", 1, 2), ("b", 2, 3), ("c", 4, 1)}
    hits = search_conjunctive(idx, ["a", "b"], top_k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in hits] == [(2, 4), (1, 3)]


def test_ngram_containment_randomized_equals_brute_force(spark):
    """Directed containment join vs brute force on seeded dense random
    corpora (small vocabulary = worst case for prefix filtering),
    including the asymmetric case Jaccard misses: a short doc embedded
    in a long one."""
    import numpy as np

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(10)]
    for trial, threshold in [(0, 0.5), (1, 0.8)]:
        texts = [
            " ".join(rng.choice(vocab, size=rng.integers(1, 22)))
            for _ in range(25)
        ]
        # plant an embedded-subset pair: doc 0 is a verbatim slice of
        # a much longer doc 1 (containment high, Jaccard low)
        texts[0] = "q1 q2 q3 q4 q5"
        texts[1] = " ".join(["p%d" % i for i in range(30)]) + " " + texts[0]
        docs = _docs(spark, texts)
        got = {
            (r.doc_a, r.doc_b)
            for r in dedup.ngram_containment_pairs(docs, threshold).collect()
        }

        def sh(t):
            ws = t.split(" ")
            return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

        want = set()
        for a in range(len(texts)):
            for b in range(len(texts)):
                if a == b:
                    continue
                sa, sb = sh(texts[a]), sh(texts[b])
                if not sa or not sb:
                    continue
                if len(sa & sb) / len(sa) >= threshold:
                    want.add((a, b))
        assert (0, 1) in want and (1, 0) not in want  # asymmetry is real
        assert got == want, f"trial {trial} t={threshold}"


def test_star_cc_matches_propagation_on_random_graphs(spark):
    # The two implementations must agree exactly on every topology.
    import random

    rng = random.Random(42)
    for trial in range(2):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        want = {
            (r["node"], r["cluster_id"])
            for r in dedup.connected_components(pairs).collect()
        }
        got = {
            (r["node"], r["cluster_id"])
            for r in dedup.connected_components_star(pairs).collect()
        }
        assert got == want, f"trial {trial}"
        # Path parity: local_finish_edges=0 forces the fully
        # distributed star loop; the default sends a graph this small
        # through the driver union-find finisher. Identical output is
        # the finisher's whole contract.
        got_dist = {
            (r["node"], r["cluster_id"])
            for r in dedup.connected_components_star(
                pairs, local_finish_edges=0
            ).collect()
        }
        assert got_dist == want, f"trial {trial} (distributed path)"


def test_star_cc_local_finisher_string_ids(spark):
    # The local finisher's min-label union must match Spark's binary
    # UTF-8 string ordering (multi-byte codepoints included).
    pairs = spark.createDataFrame(
        [("b", "a"), ("a", "é"), ("z", "y"), ("y", "x")],
        "doc_a string, doc_b string",
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in dedup.connected_components_star(pairs).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("é", "a"),
        ("x", "x"), ("y", "x"), ("z", "x"),
    }
    got_dist = {
        (r["node"], r["cluster_id"])
        for r in dedup.connected_components_star(
            pairs, local_finish_edges=0
        ).collect()
    }
    assert got_dist == got


def test_star_cc_handles_diameter_beyond_propagation_budget(spark):
    # A 120-node path needs ~120 propagation rounds — the simple loop
    # refuses at its 25-round cap; large-star/small-star collapses it
    # in O(log n) rounds. This is the documented escalation path made
    # executable.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs)
    rows = dedup.connected_components_star(pairs).collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert len(rows) == 121


def test_star_cc_keeps_components_separate(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in dedup.connected_components_star(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_temperature_mix_rates_and_determinism(spark):
    """tau=0.5 upweights small sources (higher keep rate), rates cap
    at 1.0, the kept set is identical across repartitionings, and the
    realized counts sit near n_s * rate."""
    import pyspark.sql.functions as F

    from cdk_dynamodb_cdc_spark.llm.curation import (
        source_temperature_plan,
        temperature_mix,
    )

    rows = [(i, "big" if i < 9000 else "small") for i in range(10_000)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")

    plan = {
        r["source"]: r
        for r in source_temperature_plan(
            docs, tau=0.5, target_frac=0.5
        ).collect()
    }
    big, small = plan["big"], plan["small"]
    big_rate = big["keep_millionths"] / 1e6
    small_rate = small["keep_millionths"] / 1e6
    assert small_rate > big_rate  # tau < 1 upweights the small source
    assert 0 < big_rate <= 1.0 and 0 < small_rate <= 1.0
    # tau=0.5 gives the small source weight 0.25 -> raw rate 1.25,
    # capped at 1.0 (contributes all 1000 docs, no redistribution);
    # big keeps 5000*0.75/9000 -> expected total 3750 + 1000 = 4750.
    assert small_rate == 1.0
    exp_total = big["n_docs"] * big_rate + small["n_docs"] * small_rate
    assert abs(exp_total - 4750) < 5  # millionth-floor rounding only

    kept = temperature_mix(docs, tau=0.5, target_frac=0.5)
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    kept_ids_re = sorted(
        r["doc_id"]
        for r in temperature_mix(
            docs.repartition(13), tau=0.5, target_frac=0.5
        ).collect()
    )
    assert kept_ids == kept_ids_re  # partitioning-independent
    # realized counts within 5% of expectation (hash uniformity)
    n_big = kept.filter(F.col("source") == "big").count()
    assert abs(n_big - big["n_docs"] * big_rate) < 0.05 * big["n_docs"]


def test_temperature_mix_caps_small_sources_at_one(spark):
    """A tiny source whose upweighted rate exceeds 1 contributes all
    its documents, never more."""
    from cdk_dynamodb_cdc_spark.llm.curation import (
        source_temperature_plan,
        temperature_mix,
    )

    rows = [(i, "big" if i < 9990 else "tiny") for i in range(10_000)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    plan = {
        r["source"]: r["keep_millionths"]
        for r in source_temperature_plan(
            docs, tau=0.1, target_frac=0.9
        ).collect()
    }
    assert plan["tiny"] == 1_000_000  # capped
    kept = temperature_mix(docs, tau=0.1, target_frac=0.9)
    assert kept.filter("source = 'tiny'").count() == 10


def test_semantic_dedup_keeps_one_per_cluster(spark):
    """semantic_dedup_keep: exactly one kept representative per
    cluster, and it is the member with the largest L2 norm."""
    import pyspark.sql.functions as F

    from cdk_dynamodb_cdc_spark.queries import QUERIES

    out = QUERIES["semantic_dedup_keep"](
        spark, "/root/testdata/sf0.001"
    )
    per_cluster = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_kept").cast("int")).alias("n_kept"),
        F.count(F.lit(1)).alias("n"),
        F.max("cluster_size").alias("sz"),
    )
    bad = per_cluster.filter(
        (F.col("n_kept") != 1) | (F.col("n") != F.col("sz"))
    ).count()
    assert bad == 0
    assert out.count() == 500


def test_perplexity_filter_scores_and_decisions(spark):
    """Bigram-LM scoring: repeated high-probability sequences score
    above a gibberish doc; scores are partitioning-independent; every
    doc with >= 2 tokens gets exactly one row."""
    from cdk_dynamodb_cdc_spark.llm.quality_lm import (
        doc_logprob_scores,
        perplexity_filter,
    )

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(20)]
    rows.append((100, "zq xv qj wk vz kx"))  # singleton bigrams
    rows.append((101, "solo"))  # one token: no bigrams, no row
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    scores = {
        r["key"]: r["avg_logprob"]
        for r in doc_logprob_scores(docs).collect()
    }
    assert 101 not in scores
    assert len(scores) == 21
    # the common sentence's bigrams have corpus count 20+; gibberish 1
    assert scores[0] > scores[100]
    assert scores[0] == scores[19]  # identical text -> identical score

    re_scores = {
        r["key"]: r["avg_logprob"]
        for r in doc_logprob_scores(docs.repartition(7)).collect()
    }
    assert scores == re_scores  # deterministic fold order

    # a threshold between the two scores separates them
    thr = (scores[0] + scores[100]) / 2
    kept = {
        r["key"]: r["kept"]
        for r in perplexity_filter(docs, min_avg_logprob=thr).collect()
    }
    assert kept[0] is True and kept[100] is False


def test_substring_dup_finds_planted_shared_span(spark):
    """A 12-token span shared verbatim by two docs yields exactly
    span_len - k + 1 duplicated windows in each, and an all-unique doc
    yields zero."""
    span = " ".join(f"s{i}" for i in range(12))
    rows = [
        (0, span + " " + " ".join(f"a{i}" for i in range(8))),
        (1, " ".join(f"b{i}" for i in range(8)) + " " + span),
        (2, " ".join(f"u{i}" for i in range(20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["key"]: (r["n_windows"], r["n_dup_windows"])
        for r in dedup.substring_dup_stats(
            docs, window_tokens=10
        ).collect()
    }
    # 20 tokens -> 11 windows each; the 12-token span contributes
    # 12 - 10 + 1 = 3 windows fully inside it
    assert got == {0: (11, 3), 1: (11, 3), 2: (11, 0)}


def test_substring_dup_counts_within_doc_repeats(spark):
    """A span repeated within ONE document is duplication too (the
    suffix-array criterion is corpus-global, not cross-doc)."""
    span = " ".join(f"r{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(0, span + " " + span)], "doc_id long, text string"
    )
    [r] = dedup.substring_dup_stats(docs, window_tokens=10).collect()
    assert r["n_windows"] == 11
    # windows at offsets 0 and 10 are the identical span
    assert r["n_dup_windows"] == 2


def test_bpe_merge_candidates_ranks_weighted_pairs(spark):
    """Pair counts weight words by corpus frequency, and the ranking
    picks the dominant adjacency."""
    from cdk_dynamodb_cdc_spark.llm.text import bpe_merge_candidates

    docs = spark.createDataFrame(
        [(0, "abab abab cd"), (1, "abab xy")],
        "doc_id long, text string",
    )
    rows = bpe_merge_candidates(docs, top_n=3).collect()
    ranked = [(r["pair"], r["n_occurrences"]) for r in rows]
    # 'abab' x3 occurrences: pairs ab(2), ba(1) each per occurrence
    assert ranked[0] == ("ab", 6)
    assert ("ba", 3) in ranked


def test_substring_dup_randomized_equals_brute_force(spark):
    """Seeded random corpora from a tiny vocabulary (dense window
    space, worst case for collisions): the relational profile must
    equal a pure-Python recount every time."""
    import numpy as np

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(6)]
    k = 4
    for _ in range(3):
        texts = [
            " ".join(rng.choice(vocab, size=int(rng.integers(2, 18))))
            for _ in range(25)
        ]
        docs = _docs(spark, texts)
        got = {
            r["key"]: (r["n_windows"], r["n_dup_windows"])
            for r in dedup.substring_dup_stats(
                docs, window_tokens=k
            ).collect()
        }

        from collections import Counter

        freq: Counter = Counter()
        per_doc: dict[int, list[str]] = {}
        for i, t in enumerate(texts):
            ws = t.split(" ")
            wins = [
                " ".join(ws[j:j + k]) for j in range(len(ws) - k + 1)
            ]
            if wins:
                per_doc[i] = wins
                freq.update(wins)
        want = {
            i: (len(wins), sum(1 for w in wins if freq[w] >= 2))
            for i, wins in per_doc.items()
        }
        assert got == want


def test_incremental_dedup_matches_symmetric_on_cross_pairs(spark):
    """The incremental (batch x index) operator finds exactly the
    cross-set subset of the symmetric operator's pairs, and a planted
    batch near-dup of a corpus doc is caught."""
    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(49)) + " zz"
    corpus_texts = [base, " ".join(f"c{i}" for i in range(40))]
    batch_texts = [near, " ".join(f"b{i}" for i in range(40))]
    rows = [(i * 2 + 1, t) for i, t in enumerate(corpus_texts)]  # odd ids
    rows += [(i * 2, t) for i, t in enumerate(batch_texts)]  # even ids
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter("doc_id % 2 = 1")
    batch = docs.filter("doc_id % 2 = 0")

    bands, shingles = dedup.minhash_index(corpus)
    inc = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in dedup.incremental_near_dup_pairs(
            batch, bands, shingles, threshold=0.8
        ).collect()
    }
    assert inc == {(0, 1)}  # planted near-dup found, nothing else

    sym = {
        tuple(sorted((r["doc_a"], r["doc_b"])))
        for r in dedup.minhash_near_dup_pairs(docs, 0.8).collect()
    }
    cross = {
        p for p in sym if (p[0] % 2 == 0) != (p[1] % 2 == 0)
    }
    assert {tuple(sorted(p)) for p in inc} == cross


def test_streaming_curation_into_transactional_table(spark, tmp_path):
    """End-to-end streaming composition: documents arrive as a file
    stream, each micro-batch runs the quality signals (repetition +
    quality score) and commits survivors to a transactional table with
    a CHECK constraint, rejects to a dead-letter table — exactly-once
    across a restart."""
    import json as _json

    from cdk_dynamodb_cdc_spark.llm.cleaning import (
        duplicated_gram_fraction,
    )
    from cdk_dynamodb_cdc_spark.llm.text import text_quality
    from cdk_dynamodb_cdc_spark.storage import TxTable

    src = tmp_path / "in"
    src.mkdir()
    good = " ".join(f"alpha{i} beta{i}" for i in range(25))
    junk = "spam spam spam spam spam spam spam spam spam spam"
    with open(src / "b0.json", "w") as fh:
        for i, t in ((0, good), (1, junk), (2, good + " more")):
            fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    tbl = str(tmp_path / "tbl")
    dlq = str(tmp_path / "dlq")
    table, dead = TxTable(spark, tbl), TxTable(spark, dlq)

    def gate(batch_df, batch_id):
        scored = batch_df.select(
            "doc_id",
            "text",
            duplicated_gram_fraction(F.col("text")).alias("rep"),
            text_quality(F.col("text"))["quality_score"].alias("q"),
        )
        keep = scored.filter((F.col("rep") <= 0.5) & (F.col("q") >= 0.3))
        drop = scored.filter((F.col("rep") > 0.5) | (F.col("q") < 0.3))
        table.commit(
            keep.select("doc_id", "text"),
            app_id="curate", batch_id=batch_id,
        )
        dead.commit(
            drop.select("doc_id", "text", "rep", "q"),
            app_id="curate:dlq", batch_id=batch_id,
        )

    def run_once():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
            .writeStream.foreachBatch(gate)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert sorted(
        r["doc_id"] for r in table.snapshot().collect()
    ) == [0, 2]
    assert [r["doc_id"] for r in dead.snapshot().collect()] == [1]

    # restart replays nothing (checkpoint + txn idempotence)...
    run_once()
    assert table.snapshot().count() == 2 and dead.snapshot().count() == 1

    # ...and a new arriving file flows through the same gate
    with open(src / "b1.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 3, "text": good + " x"}) + "\n")
    run_once()
    assert sorted(
        r["doc_id"] for r in table.snapshot().collect()
    ) == [0, 2, 3]


def test_nb_classifier_learns_separable_labels(spark):
    """NB trained on clearly separable vocabularies predicts the
    training labels back perfectly, and prediction is
    partitioning-independent."""
    from cdk_dynamodb_cdc_spark.llm.classify import predict_nb, train_nb

    rows = []
    for i in range(10):
        rows.append((i, " ".join(f"en{j}" for j in range(8)), "en"))
        rows.append((100 + i, " ".join(f"fr{j}" for j in range(8)), "fr"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    tc, ls, v = train_nb(docs)
    pred = {
        r["key"]: r["predicted_label"]
        for r in predict_nb(docs, tc, ls, v).collect()
    }
    assert all(pred[i] == "en" for i in range(10))
    assert all(pred[100 + i] == "fr" for i in range(10))
    pred2 = {
        r["key"]: r["predicted_label"]
        for r in predict_nb(docs.repartition(7), tc, ls, v).collect()
    }
    assert pred == pred2


def test_pq_recall_floor_and_encode_shape(spark):
    """PQ/ADC with exact re-rank: recall@10 above floor vs brute
    force; codes are M small ints; encoding is deterministic."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 3, 4]
    bf = {
        (r.qid, r.neighbor_id)
        for r in vectors.cosine_topk(emb, qids, 10).collect()
    }
    pq = {
        (r.qid, r.neighbor_id)
        for r in vectors.pq_topk(emb, qids, 10, dim=64).collect()
    }
    # measured 0.9 at sf0.01 defaults; floor well above chance
    assert len(bf & pq) / len(bf) >= 0.5

    books = vectors.pq_train(emb, 64)
    enc = vectors.pq_encode(emb, books).limit(20).collect()
    for r in enc:
        assert len(r.codes) == vectors.PQ_M
        assert all(0 <= c < vectors.PQ_K for c in r.codes)
    enc2 = {
        r.vec_id: r.codes
        for r in vectors.pq_encode(
            emb.repartition(13), books
        ).collect()
    }
    enc1 = {
        r.vec_id: r.codes for r in vectors.pq_encode(emb, books).collect()
    }
    assert enc1 == enc2  # partitioning-independent


def test_ivfpq_recall_floor_vs_brute_force(spark):
    """Composed IVF + PQ + exact re-rank: recall bounded below by the
    contract floor (IVF probing is the binding constraint)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 3, 4]
    bf = {
        (r.qid, r.neighbor_id)
        for r in vectors.cosine_topk(emb, qids, 10).collect()
    }
    got = {
        (r.qid, r.neighbor_id)
        for r in vectors.ivfpq_topk(emb, qids, 10, dim=64).collect()
    }
    assert len(bf & got) / len(bf) >= 0.3


def test_streaming_ivf_index_maintenance(spark, tmp_path):
    """Streaming ANN-index maintenance: new embedding batches arrive
    as a file stream, each micro-batch is cell-assigned with the FIXED
    trained codebook and appended exactly-once to a transactional
    index table; ivf_search over the read-back index returns the same
    neighbors as a batch-built index over the same vectors."""
    import json as _json

    from cdk_dynamodb_cdc_spark.storage import TxTable

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") < 100)
    arriving = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 200)
    )
    codebook = vectors._ivf_codebook(vectors._normed(emb), vectors.IVF_NLIST)

    tbl = str(tmp_path / "index")
    t = TxTable(spark, tbl)
    t.commit(vectors.ivf_build(base, codebook=codebook))

    # arriving vectors land as two stream files
    src = tmp_path / "in"
    src.mkdir()
    rows = arriving.collect()
    for part, chunk in enumerate((rows[:50], rows[50:])):
        with open(src / f"b{part}.json", "w") as fh:
            for r in chunk:
                fh.write(
                    _json.dumps(
                        {"vec_id": r.vec_id, "embedding": list(map(float, r.embedding))}
                    )
                    + "\n"
                )

    def append_batch(batch_df, batch_id):
        t.commit(
            vectors.ivf_build(batch_df, codebook=codebook),
            app_id="ivf", batch_id=batch_id,
        )

    q = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .json(str(src))
        .writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed_index = t.snapshot()
    assert streamed_index.count() == 200

    both = emb.filter(F.col("vec_id") < 200)
    batch_index = vectors.ivf_build(both, codebook=codebook)
    qids = [0, 1, 2]
    got = {
        (r.qid, r.rk, r.neighbor_id)
        for r in vectors.ivf_search(
            streamed_index, qids, 10, codebook=codebook
        ).collect()
    }
    want = {
        (r.qid, r.rk, r.neighbor_id)
        for r in vectors.ivf_search(
            batch_index, qids, 10, codebook=codebook
        ).collect()
    }
    assert got == want and len(want) == 30


def test_winnowing_guarantees_shared_fingerprint_for_long_spans(spark):
    """Any shared substring of >= w+k-1 chars must produce a shared
    fingerprint; disjoint-alphabet docs share none."""
    span = "qwertyuiopasdfgh"  # 16 chars >= w+k-1 = 11
    df = spark.createDataFrame(
        [
            (0, "aaa" + span + "zzz"),
            (1, "mmm" + span + "nnn"),
            (2, "0123456789012345678901234"),
        ],
        "doc_id long, text string",
    )
    rows = llm_text.winnow_fingerprints(df).collect()
    fps: dict[int, set] = {}
    for r in rows:
        fps.setdefault(r["key"], set()).add(r["fp"])
    assert fps[0] & fps[1]  # the guarantee
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_winnow_large_window_doubling_matches_brute_force(spark):
    """The w > 8 sparse-table doubling branch (llm/text.py) is pinned
    against a pure-Python brute-force sliding minimum over the same
    60-bit gram hashes — including a non-power-of-two w, a doc shorter
    than w (single truncated window), a NULL text (zero rows), and the
    w=1 identity case."""
    import hashlib

    k, w = 3, 11  # non-power-of-two w exercises the final partial shift
    texts = {
        0: "the quick brown fox jumps over the lazy dog again",
        1: "ab",            # fewer grams than w: one truncated window
        2: None,            # no substrings -> zero fingerprint rows
        3: "abcabcabcabcabcabc",  # heavy repetition -> dedup matters
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def brute(text: str | None, win: int) -> set:
        if text is None:
            return set()
        grams = [
            text[i : i + k] for i in range(max(len(text) - k + 1, 1))
        ]
        hs = [h60(g) for g in grams]
        n_windows = max(len(hs) - win + 1, 1)
        return {min(hs[i : i + win]) for i in range(n_windows)}

    for win in (11, 1):
        got: dict[int, set] = {d: set() for d in texts}
        rows = llm_text.winnow_fingerprints(df, k=k, w=win).collect()
        for r in rows:
            got[r["key"]].add(r["fp"])
        for d, text in texts.items():
            assert got[d] == brute(text, win), (win, d)

    import pytest

    with pytest.raises(ValueError, match="w must be >= 1"):
        llm_text.winnow_fingerprints(df, k=k, w=0)


def test_dsir_importance_separates_target_like_docs(spark):
    from cdk_dynamodb_cdc_spark.llm.curation import dsir_importance

    # target slice = lang 'en'; probe 100 shares the en vocabulary,
    # probe 101 the xx vocabulary — DSIR keeps 100 and drops 101.
    # 20 docs per side so the counts dominate the add-one smoothing
    # (64 buckets, not the production 1024, for the same reason).
    en, xx = "alpha beta gamma delta", "zonk quux blarg fnord"
    rows = (
        [(i, en, "en") for i in range(20)]
        + [(20 + i, xx, "xx") for i in range(20)]
        + [(100, en, "qq"), (101, xx, "qq")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    scored = dsir_importance(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=64
    ).collect()
    out = {r.key: r.kept for r in scored}
    assert out[100] is True and out[101] is False
    assert out[0] is True and out[20] is False
    # n_feats = unigrams + bigrams = 4 + 3 per doc
    assert all(r.n_feats == 7 for r in scored)


def test_bpe_train_greedy_semantics_and_python_parity(spark):
    """The trained merge sequence and tokenization must equal a pure-
    Python reference BPE (Sennrich-style greedy left-to-right merges,
    ties broken count-desc then pair-asc) — including the overlap case
    where 'aaaa' under merge (a,a) yields [aa, aa] and 'aaa' yields
    [aa, a]."""
    from collections import Counter

    from cdk_dynamodb_cdc_spark.llm.text import bpe_train

    texts = [
        "the cat sat on the mat",
        "the rat ate the cake",
        "aaaa aaa the that",
        "banana bandana",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")

    # pure-Python reference
    vocab = Counter(w for t in texts for w in t.split(" ") if w)
    syms = {w: list(w) for w in vocab}
    ref_merges = []
    for _ in range(12):
        pc = Counter()
        for w, n in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc:
            break
        a, b = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        ref_merges.append((a, b))
        for w in vocab:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out

    merges, vocab_tokens = bpe_train(docs, n_merges=12)
    assert merges == ref_merges
    got = {r["w"]: list(r["syms"]) for r in vocab_tokens.collect()}
    assert got == syms

    # lane parity: the threshold-gated driver-side finisher (default
    # here, vocab << 65536) must equal the distributed loop
    # (local_finish_threshold=0 forces it) row-for-row
    d_merges, d_tokens = bpe_train(
        docs, n_merges=12, local_finish_threshold=0
    )
    assert d_merges == merges
    d_got = {
        r["w"]: (r["n"], list(r["syms"])) for r in d_tokens.collect()
    }
    l_got = {
        r["w"]: (r["n"], list(r["syms"])) for r in vocab_tokens.collect()
    }
    assert d_got == l_got


def test_weighted_sample_log_lane_matches_linear_lane(spark):
    """log_weight=True with w = ln(weight) must pick the identical
    sample as the linear lane (r = ln(-ln u) - w orders exactly like
    -ln(u)/e^w), while handling magnitudes where exp(w) would
    overflow."""
    import math

    from cdk_dynamodb_cdc_spark.llm import curation

    rows = [(f"d{i}", float(1 + (i * 37) % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id string, wt double")
    lin = sorted(
        r.doc_id
        for r in curation.weighted_sample(df, "wt", 25).collect()
    )
    logd = df.select(
        "doc_id", F.log(F.col("wt")).alias("lw")
    )
    log_s = sorted(
        r.doc_id
        for r in curation.weighted_sample(
            logd, "lw", 25, log_weight=True
        ).collect()
    )
    assert lin == log_s
    # extreme log weights: exp would overflow/underflow a double
    big = spark.createDataFrame(
        [("hot", 800.0)] + [(f"c{i}", -900.0) for i in range(50)],
        "doc_id string, lw double",
    )
    got = curation.weighted_sample(
        big, "lw", 1, log_weight=True
    ).collect()
    assert [r.doc_id for r in got] == ["hot"]
    assert all(math.isfinite(0.0) for _ in got)  # no overflow surfaced


def test_dsir_resample_prefers_target_like_docs(spark):
    """The resampler composes dsir_log_weights with log-space A-ES:
    sampled docs skew heavily toward the target-like population, and
    the draw is deterministic across partitionings."""
    from cdk_dynamodb_cdc_spark.llm.curation import dsir_resample

    # same two-vocabulary corpus shape as the dsir_importance test:
    # counts must dominate the add-one smoothing (64 buckets)
    en, xx = "alpha beta gamma delta", "zonk quux blarg fnord"
    docs = spark.createDataFrame(
        [(f"t{i}", en, "en") for i in range(20)]
        + [(f"n{i}", xx, "xx") for i in range(20)],
        "doc_id string, text string, lang string",
    )
    target = docs.filter(F.col("lang") == "en")
    got = dsir_resample(docs, target, 10, n_buckets=64)
    rows = got.collect()
    ids = sorted(r["key"] for r in rows)
    assert len(ids) == 10
    # exp(w) gap between the vocabularies is many orders of magnitude:
    # every sampled doc is target-like
    assert all(i.startswith("t") for i in ids)
    assert all(r["n_feats"] == 7 for r in rows)
    ids2 = sorted(
        r["key"]
        for r in dsir_resample(
            docs.repartition(7), target, 10, n_buckets=64
        ).collect()
    )
    assert ids == ids2


def test_jl_projection_preserves_geometry_and_composes(spark):
    """JL lane: (1) projected squared norms concentrate around the
    original squared norms (Rademacher matrices are isometries in
    expectation: E||Rv||^2 = out_dim * ||v||^2 with rows scaled +-1 —
    we check the per-dim-normalized ratio), (2) the projection is
    deterministic under repartitioning, (3) the projected frame drops
    straight into the exact search path."""
    import math
    import random

    from cdk_dynamodb_cdc_spark.llm.vectors import (
        cosine_topk,
        jl_project,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    proj = jl_project(emb, 64, out_dim=16)
    got = {r.vec_id: list(r.embedding) for r in proj.collect()}
    assert all(len(v) == 16 for v in got.values())
    # expectation check: mean over vectors of ||Rv||^2 / (16 * ||v||^2)
    ratios = []
    for i, v in rows:
        n2 = sum(x * x for x in v)
        p2 = sum(x * x for x in got[i])
        ratios.append(p2 / (16 * n2))
    mean_ratio = sum(ratios) / len(ratios)
    assert 0.8 < mean_ratio < 1.2, mean_ratio
    # determinism across partitionings
    got2 = {
        r.vec_id: list(r.embedding)
        for r in jl_project(emb.repartition(7), 64, out_dim=16).collect()
    }
    assert got == got2
    # composition: the projected frame IS an embeddings frame
    top = cosine_topk(proj, query_ids=[0, 1], k=5).collect()
    assert {r.qid for r in top} == {0, 1}
    assert all(1 <= r.rk <= 5 for r in top)
    assert math.isfinite(mean_ratio)


def test_weighted_sample_per_group_independent_draws(spark):
    """Each group draws independently: a group's sample is identical
    whether other groups exist or not (the per-domain budget
    property), and groups smaller than n contribute everything."""
    from cdk_dynamodb_cdc_spark.llm import curation

    rows = [(f"a{i}", "A", float(i + 1)) for i in range(50)] + [
        (f"b{i}", "B", float(i + 1)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id string, grp string, wt double")
    got = curation.weighted_sample_per_group(
        df, "wt", 10, group_cols=("grp",)
    )
    by_grp = {}
    for r in got.collect():
        by_grp.setdefault(r.grp, set()).add(r.doc_id)
    assert len(by_grp["A"]) == 10
    assert by_grp["B"] == {f"b{i}" for i in range(5)}  # undersized: all
    # independence: group A alone draws the same sample
    alone = curation.weighted_sample_per_group(
        df.filter(F.col("grp") == "A"), "wt", 10, group_cols=("grp",)
    )
    assert {r.doc_id for r in alone.collect()} == by_grp["A"]


def test_semantic_decontaminate_flags_planted_neighbor(spark):
    from cdk_dynamodb_cdc_spark.llm.vectors import semantic_decontaminate

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (0, [0.99, 0.1, 0.0, 0.0]),   # near the eval vector
            (1, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
            (2, [-1.0, 0.0, 0.0, 0.0]),   # opposite
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: (r.n_eval_hits, r.contaminated)
        for r in semantic_decontaminate(corpus, ev, threshold=0.9).collect()
    }
    assert got == {0: (1, True), 1: (0, False), 2: (0, False)}


def test_bpe_merge_replace_equals_greedy_fold_random(spark):
    """Property: the separator-string replace trick used per merge
    iteration equals the greedy left-to-right pair fold on arbitrary
    symbol sequences — including runs (aaa), immediately repeating
    pairs (abab), and pairs at word boundaries. Randomized over small
    alphabets where collisions are dense, executed as ONE Spark job."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from cdk_dynamodb_cdc_spark.llm.text import BPE_SEP

    rng = random.Random(11)
    alphabet = ["a", "b", "ab", "ba", "aa"]
    cases = []
    for i in range(200):
        syms = [rng.choice(alphabet) for _ in range(rng.randint(1, 8))]
        pa, pb = rng.choice(alphabet), rng.choice(alphabet)
        cases.append((i, syms, pa, pb))
    # exhaustive small cases too
    for syms in itertools.product(["a", "aa"], repeat=3):
        cases.append((len(cases), list(syms), "a", "a"))

    def greedy(syms, pa, pb):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == pa and syms[i + 1] == pb:
                out.append(pa + pb)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    s2 = BPE_SEP + BPE_SEP
    df = spark.createDataFrame(
        [
            (i, s2 + s2.join(syms) + s2, pa, pb)
            for i, syms, pa, pb in cases
        ],
        "i long, s string, pa string, pb string",
    )
    merged = df.select(
        "i",
        F.split(
            F.btrim(
                F.replace(
                    F.col("s"),
                    F.concat(
                        F.lit(BPE_SEP), F.col("pa"), F.lit(s2),
                        F.col("pb"), F.lit(BPE_SEP),
                    ),
                    F.concat(
                        F.lit(BPE_SEP), F.col("pa"), F.col("pb"),
                        F.lit(BPE_SEP),
                    ),
                ),
                F.lit(BPE_SEP),
            ),
            s2,
        ).alias("syms"),
    )
    got = {r.i: list(r.syms) for r in merged.collect()}
    for i, syms, pa, pb in cases:
        assert got[i] == greedy(syms, pa, pb), (syms, pa, pb, got[i])


# --- BM25 / hard negatives / length bucketing ---------------------------

def test_bm25_fixed_point_matches_fraction_reference(spark):
    from fractions import Fraction

    corpus = [
        "spark spark merge window extra words here",
        "spark merge",
        "window window window filler filler filler filler filler",
        "nothing relevant at all",
    ]
    docs = _docs(spark, corpus)
    got = {
        r.doc_id: (r.n_terms_matched, r.score_fp)
        for r in llm_text.bm25_topk(
            docs, ["spark", "merge", "window"], top_k=10
        ).collect()
    }

    toks = [d.split(" ") for d in corpus]
    n_docs = len(toks)
    total_len = sum(len(t) for t in toks)
    expect = {}
    for term in ["spark", "merge", "window"]:
        df = sum(1 for t in toks if term in t)
        for i, t in enumerate(toks):
            tf = t.count(term)
            if not tf:
                continue
            dl = len(t)
            s = (
                Fraction(1_000_000)
                * (2 * n_docs - 2 * df + 1)
                * 44 * tf * total_len
                // (
                    (2 * df + 1)
                    * (20 * tf * total_len + 6 * total_len
                       + 18 * dl * n_docs)
                )
            )
            n, fp = expect.get(i, (0, 0))
            expect[i] = (n + 1, fp + int(s))
    assert got == expect


def test_hard_negative_topk_excludes_near_duplicates(spark):
    # vec 0 = anchor; vec 1 = exact duplicate (cos 1.0, excluded);
    # vec 2 = moderately similar (cos ~0.39, the hard negative);
    # vec 3 = orthogonal
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [2.0, 0.0, 0.0]),
            (2, [0.39, 0.92, 0.0]),
            (3, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    plain = {
        (r.qid, r.rk): r.neighbor_id
        for r in vectors.cosine_topk(emb, [0], k=3).collect()
    }
    hard = {
        (r.qid, r.rk): r.neighbor_id
        for r in vectors.hard_negative_topk(
            emb, [0], k=3, exclude_threshold=0.4
        ).collect()
    }
    assert plain[(0, 1)] == 1          # the duplicate tops plain top-k
    assert hard == {(0, 1): 2, (0, 2): 3}  # and is gone from hard negs


def test_length_bucket_batch_stats_padding_arithmetic(spark, tmp_path):
    import hashlib
    import sys

    sys.path.insert(0, "/root/repo")
    from cdk_dynamodb_cdc_spark.queries import QUERIES

    lengths = [10, 20, 30, 70, 80, 200, 300, 500, 600]
    rows = [" ".join(f"t{j}" for j in range(n)) for n in lengths]
    docs = _docs(spark, rows)
    d = str(tmp_path / "corpus")
    docs.coalesce(1).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    got = {
        r.bucket: (r.n_docs, r.n_batches, r.pad_tokens, r.padded_tokens)
        for r in QUERIES["length_bucket_batch_stats"](spark, d).collect()
    }

    # replicate: bucket = min(len div 64, 7); shard = md5-hash % 8;
    # <32 docs per (bucket, shard) here, so each shard is one batch
    from collections import defaultdict

    shards = defaultdict(list)
    for i, n in enumerate(lengths):
        h = int(hashlib.md5(f"lenb:{i}".encode()).hexdigest()[:15], 16)
        shards[(min(n // 64, 7), h % 8)].append(n)
    expect = defaultdict(lambda: [0, 0, 0, 0])
    for (bucket, _), ls in shards.items():
        e = expect[bucket]
        e[0] += len(ls)
        e[1] += 1
        e[2] += len(ls) * max(ls) - sum(ls)
        e[3] += len(ls) * max(ls)
    assert got == {b: tuple(v) for b, v in expect.items()}


def test_rrf_fuse_hand_lists(spark):
    a = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rk int"
    )
    b = spark.createDataFrame(
        [(20, 1), (40, 2)], "doc_id long, rk int"
    )
    got = {
        r.key: (r.rank_1, r.rank_2, r.rrf_fp)
        for r in llm_text.rrf_fuse([a, b], top_k=10).collect()
    }
    c = lambda rk: 1_000_000_000 // (60 + rk)  # noqa: E731
    assert got == {
        10: (1, 0, c(1)),
        20: (2, 1, c(2) + c(1)),
        30: (3, 0, c(3)),
        40: (0, 2, c(2)),
    }
    # doc 20 (in both lists) must outrank every single-list doc
    order = [
        r.key for r in llm_text.rrf_fuse([a, b], top_k=10).collect()
    ]
    assert order[0] == 20


def test_sample_quota_apportionment_sums_to_k(spark, tmp_path):
    import sys

    sys.path.insert(0, "/root/repo")
    from cdk_dynamodb_cdc_spark.queries import QUERIES

    # counts chosen so the proportional shares have awkward remainders:
    # 10000 * [7, 11, 13, 2] / 33 = 2121.2, 3333.3, 3939.4, 606.1
    rows = []
    i = 0
    for lang, n in [("aa", 7), ("bb", 11), ("cc", 13), ("dd", 2)]:
        for _ in range(n):
            rows.append((i, f"text {i}", lang, "s", 6))
            i += 1
    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r.lang: r.quota_slots
        for r in QUERIES["sample_quota_apportionment"](spark, d).collect()
    }
    # floors: 2121, 3333, 3939, 606 (sum 9999); largest remainder is
    # cc (.39... -> rem 13) > bb (.33 -> rem 10)? exact rems:
    # 10000*7%33=4, *11%33=11, *13%33=31, *2%33=2 -> extra goes to cc
    assert got == {"aa": 2121, "bb": 3333, "cc": 3940, "dd": 606}
    assert sum(got.values()) == 10000


def test_sq8_codes_bounded_and_deterministic(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(100)
    quant = vectors.sq8_train(emb, 64)
    codes = vectors.sq8_encode(emb, quant)
    stats = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("d"),
    ).collect()[0]
    assert stats.lo >= 0 and stats.hi <= 255 and stats.d == 64
    # per-dim extremes must encode to the range ends
    assert stats.lo == 0 and stats.hi == 255
    c1 = {r.vec_id: r.codes for r in codes.collect()}
    c2 = {
        r.vec_id: r.codes
        for r in vectors.sq8_encode(emb, vectors.sq8_train(emb, 64))
        .collect()
    }
    assert c1 == c2


def test_sq8_constant_dimension_is_safe(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [2.0, 5.0]), (2, [3.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    quant = vectors.sq8_train(emb, 2)
    codes = {
        r.vec_id: r.codes
        for r in vectors.sq8_encode(emb, quant).collect()
    }
    assert all(c[1] == 0 for c in codes.values())  # span-0 dim -> 0
    got = vectors.sq8_topk(emb, [0], k=2, dim=2, shortlist=3).collect()
    assert [(r.rk, r.neighbor_id) for r in sorted(got, key=lambda r: r.rk)] == [
        (1, 1), (2, 2),
    ]


def test_sq8_recall_floor_vs_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    ids = [0, 1, 2, 3, 4]
    sq = vectors.sq8_topk(emb, ids, k=10, dim=64)
    ex = vectors.cosine_topk(emb, ids, k=10)
    hits = ex.select("qid", "neighbor_id").join(
        sq.select("qid", "neighbor_id"),
        ["qid", "neighbor_id"],
        "left_semi",
    )
    rec = {
        r.qid: r.n
        for r in hits.groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(rec.get(q, 0) >= 8 for q in ids)


def test_pmi_collocations_discount_and_empty_tokens(spark):
    # "a b" co-occurs 6x and only ever together -> passes with
    # discount 5; "c d" co-occurs 5x (discounted to 0) -> fails;
    # "e  f" (doubled space) pairs through an empty token -> dropped,
    # never bridged into an (e, f) pair.
    docs = spark.createDataFrame(
        [("d%d" % i, "a b") for i in range(6)]
        + [("c%d" % i, "c d") for i in range(5)]
        + [("e%d" % i, "e  f") for i in range(9)],
        "doc_id string, text string",
    )
    got = {
        (r.a, r.b): (r.n_ab, r.n_a, r.n_b)
        for r in llm_text.pmi_collocations(
            docs, min_count=5, discount=5
        ).collect()
    }
    assert got == {("a", "b"): (6, 6, 6)}


def test_mmr_diversify_prefers_diverse_over_duplicate(spark):
    # id2 is an exact duplicate of id1; with lam=1/4 the redundancy
    # penalty (3x) pushes the diverse id3 ahead of the duplicate
    vecs = spark.createDataFrame(
        [
            (100, [10, 0]),
            (1, [10, 0]),
            (2, [10, 0]),
            (3, [6, 4]),
        ],
        "key long, vec array<long>",
    )
    out = vectors.mmr_diversify(
        vecs, query_ids=[100], k=3, shortlist=3, lam_num=1, lam_den=4
    ).collect()
    order = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert order == [1, 3, 2]
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].mmr_scaled == 100   # 1*rel - 3*0
    assert by_id[3].mmr_scaled == -120  # 60 - 3*60
    assert by_id[2].mmr_scaled == -200  # 100 - 3*100
    # shortlist smaller than k: exhausts without null rows
    small = vectors.mmr_diversify(
        vecs, query_ids=[100], k=5, shortlist=2
    )
    assert small.count() == 2


def test_budget_select_boundary_prefix(spark):
    from cdk_dynamodb_cdc_spark.llm.curation import budget_select

    # score 9 group (10 tokens) fits whole; score 5 group is the
    # boundary: remaining budget 7 admits d3 (4) then d4 (3) but not
    # d5; score 1 group is past the boundary and fully excluded
    scored = spark.createDataFrame(
        [
            ("d1", 9, 6), ("d2", 9, 4),
            ("d3", 5, 4), ("d4", 5, 3), ("d5", 5, 2),
            ("d6", 1, 1),
        ],
        "doc_id string, score long, n_tokens long",
    )
    got = {r.doc_id for r in budget_select(scored, budget=17).collect()}
    assert got == {"d1", "d2", "d3", "d4"}
    # whole corpus within budget -> everything selected
    assert budget_select(scored, budget=100).count() == 6


def test_sparse_cosine_topk_exact_small(spark):
    from cdk_dynamodb_cdc_spark.llm.text import sparse_cosine_topk

    # d1 = {a:2, b:1}, d2 = {a:1, b:1}, d3 = {c:1}; "z" appears in
    # all four docs and max_df=3 prunes it from vectors AND norms
    docs = spark.createDataFrame(
        [
            ("d1", "a a b z"),
            ("d2", "a b z"),
            ("d3", "c z"),
            ("d4", "z z z"),
        ],
        "doc_id string, text string",
    )
    out = {
        (r.doc_a, r.doc_b): r
        for r in sparse_cosine_topk(docs, max_df=3, top_k=10).collect()
    }
    # only (d1,d2) share a surviving term: dot = 2*1 + 1*1 = 3,
    # norms 5 and 2 -> floor(9e12 / 10)
    assert set(out) == {("d1", "d2")}
    r = out[("d1", "d2")]
    assert r.dot == 3
    assert r.cos2_ppt == (3 * 3 * 10**12) // (5 * 2)
    # d4 lost every term to the df cap: no pair, and no norm row
    # behind the scenes breaks the join


def test_poisson_bootstrap_weights_are_poisson_ish(spark):
    # The threshold table must reproduce Poisson(1): weight 0 and 1
    # each ~ e^-1 of rows, mean weight ~ 1. Checked over 40k hashes.
    import math

    from pyspark.sql import functions as F

    from cdk_dynamodb_cdc_spark.queries import _BOOT_T
    from cdk_dynamodb_cdc_spark.llm.text import token_hash60

    n = 40_000
    df = spark.range(n).select(
        (token_hash60(F.col("id").cast("string")) % 1048576).alias("u")
    )
    w = F.when(F.col("u") < _BOOT_T[0], 0)
    for k, t in enumerate(_BOOT_T[1:], start=1):
        w = w.when(F.col("u") < t, k)
    w = w.otherwise(7)
    agg = df.select(w.alias("w")).groupBy("w").count().collect()
    by_w = {r.w: r["count"] for r in agg}
    e1 = math.exp(-1)
    assert abs(by_w[0] / n - e1) < 0.01
    assert abs(by_w[1] / n - e1) < 0.01
    mean_w = sum(k * c for k, c in by_w.items()) / n
    assert abs(mean_w - 1.0) < 0.02


def test_kmeans_int_local_finisher_matches_distributed(spark):
    """The bounded local finisher (llm/vectors.py:_kmeans_int_local)
    must be bit-identical to the distributed Lloyd's path: same init
    hashes, same argmin tiebreaks, same floor(double-division)
    centroid updates, same exact wss totals."""
    import random

    rng = random.Random(7)
    dim, n = 8, 60
    rows = [
        (i, [rng.uniform(-2.0, 2.0) for _ in range(dim)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )

    def run(threshold: int):
        return sorted(
            tuple(r)
            for r in vectors.kmeans_int(
                emb, k=4, iters=3, dim=dim,
                local_finish_elements=threshold,
            ).collect()
        )

    local = run(1 << 21)   # n*dim = 480 -> local path
    dist = run(0)          # forced distributed path
    assert local == dist
    assert len(local) == 4
    assert sum(r[1] for r in local) == n  # every vector assigned

    import pytest

    # duplicate vec_ids would silently collapse in the local dict
    # keying while the distributed path keeps both rows — the local
    # finisher must refuse rather than drift across the threshold
    dup = spark.createDataFrame(
        rows + rows[:1], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="unique vec_id"):
        vectors.kmeans_int(dup, k=4, iters=2, dim=dim)
    # iters=0 has no assignment pass to report on either lane
    with pytest.raises(ValueError, match="iters >= 1"):
        vectors.kmeans_int(emb, k=4, iters=0, dim=dim)
