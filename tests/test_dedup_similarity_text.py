"""Training-data pipeline operators: dedup and text analysis."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators import dedup, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "The quick  brown fox jumps over the lazy dog"),         # normalizes to dup
        (3, "the quick brown fox leaps over the lazy dog"),          # near-dup
        (4, "completely different content about spark engines"),
        (5, "totally unrelated words regarding quantum physics"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = {r["keep_id"]: r["dup_count"] for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 3  # docs 0,1,2 collapse after normalization
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0 and pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(0, 3)] < 1.0  # near-dup
    assert (0, 4) not in pairs and (4, 5) not in pairs


def test_minhash_lsh_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in dedup.minhash_lsh_pairs(docs, k=16, bands=4, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
    assert (0, 3) in pairs  # near-dup estimated high
    assert (0, 4) not in pairs


def test_simhash_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_pairs(docs, max_distance=3).collect()}
    assert pairs[(0, 1)] == 0 and pairs[(0, 2)] == 0 and pairs[(1, 2)] == 0
    assert (0, 4) not in pairs


def test_simhash_banding_equals_bruteforce(spark, docs):
    """pigeonhole: bands=4, distance<=3 ⇒ banded result == all-pairs."""
    sigs = docs.select(
        "doc_id", dedup.simhash64(F.col("text")).alias("sig")
    )
    a = sigs.selectExpr("doc_id id_a", "sig sa")
    b = sigs.selectExpr("doc_id id_b", "sig sb")
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dedup.hamming64(F.col("sa"), F.col("sb")).alias("h"))
        .filter(F.col("h") <= 3)
    )
    banded = dedup.simhash_pairs(docs, max_distance=3, bands=4)
    assert sorted((r["id_a"], r["id_b"]) for r in brute.collect()) == sorted(
        (r["id_a"], r["id_b"]) for r in banded.collect()
    )


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(40):
        base = [0.0] * 8
        base[i % 4] = 1.0
        # small deterministic perturbation; the i-term keeps every
        # vector unique (no accidental cosine ties)
        vec = [x + 0.01 * ((i * 7 + j) % 5) + (0.0001 * i if j == 7 else 0.0)
               for j, x in enumerate(base)]
        rows.append((i, [float(v) for v in vec]))
    rows.append((100, rows[0][1]))  # exact dup of vec 0
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_neardup_bruteforce(spark, vectors):
    pairs = dedup.embedding_neardup_pairs(vectors, threshold=0.999, planes=0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 100) in got


def test_embedding_neardup_lsh_subset_of_bruteforce(spark, vectors):
    brute = {(r["id_a"], r["id_b"])
             for r in dedup.embedding_neardup_pairs(vectors, threshold=0.99, planes=0).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.embedding_neardup_pairs(vectors, threshold=0.99, planes=4).collect()}
    assert lsh <= brute
    assert (0, 100) in lsh  # identical vectors always share every bucket


def test_dot_unrolled_bit_identical_to_hof(spark, vectors):
    # the codegen fast path must reproduce the HOF fold EXACTLY —
    # threshold comparisons sit on raw (unrounded) cosines
    pairs = vectors.alias("x").crossJoin(vectors.alias("y")).select(
        dedup.dot_double(F.col("x.embedding"), F.col("y.embedding"))
        .alias("hof"),
        dedup.dot_unrolled(F.col("x.embedding"), F.col("y.embedding"), 8)
        .alias("unrolled"),
    )
    assert pairs.filter(F.col("hof") != F.col("unrolled")).count() == 0


def test_arrow_kernels_bit_identical_to_hof(spark, vectors):
    """The Arrow numpy kernels must reproduce the HOF fold EXACTLY
    (same left-assoc IEEE fold — kernels.py's bit-parity contract):
    raw unrounded doubles compared with strict equality."""
    from jsonschema_spark.operators import kernels as K

    pairs = vectors.alias("x").crossJoin(vectors.alias("y")).select(
        dedup.dot_double(F.col("x.embedding"), F.col("y.embedding"))
        .alias("hof"),
        K.pair_dot(F.col("x.embedding"), F.col("y.embedding"))
        .alias("kernel"),
        F.sqrt(
            dedup.dot_double(F.col("x.embedding"), F.col("x.embedding"))
        ).alias("hof_norm"),
        K.self_norm(F.col("x.embedding")).alias("kernel_norm"),
    )
    assert pairs.filter(
        (F.col("hof") != F.col("kernel"))
        | (F.col("hof_norm") != F.col("kernel_norm"))
    ).count() == 0


def test_arrow_kernels_null_and_ragged_rows(spark):
    """Dirty-row policy (kernels.py): a null vector, a width-mismatched
    vector (vs the kernel's static width or the pair partner), yields
    SQL NULL — never a task-killing np.vstack crash — and validity is
    per-row, so results don't depend on partition layout."""
    from jsonschema_spark.operators import kernels as K

    rows = [
        (1, [1.0, 2.0], [3.0, 4.0]),
        (2, None, [1.0, 1.0]),
        (3, [1.0, 2.0, 3.0], [1.0, 1.0]),  # ragged vs partner/static
        (4, [2.0, 0.0], None),
    ]
    df = spark.createDataFrame(rows, "id int, a array<double>, b array<double>")

    def run(frame):
        sel = frame.select(
            "id",
            K.pair_dot("a", "b").alias("dot"),
            K.self_norm("a").alias("na"),
            K.ivf_assign("a", [[1.0, 0.0], [0.0, 1.0]])["cell"].alias("cell"),
            K.lsh_bucket_norm("a", [[1.0, -1.0]])["bucket"].alias("bkt"),
            K.km_assign("a", [[0.0, 0.0], [1.0, 2.0]])["cluster"].alias("cl"),
        )
        return {r["id"]: (r["dot"], r["na"], r["cell"], r["bkt"], r["cl"])
                for r in sel.collect()}

    got = run(df)
    assert got[1] == (11.0, pytest.approx(5 ** 0.5), 1, "0", 1)
    assert got[2] == (None, None, None, None, None)
    # self_norm is width-agnostic (defined per row); static-width and
    # pair kernels null the mismatched row
    assert got[3] == (None, pytest.approx(14 ** 0.5), None, None, None)
    assert got[4][0] is None and got[4][2] == 0
    # partition-layout independence: same answers from 1 and 4 splits
    assert run(df.repartition(1)) == run(df.repartition(4))


def test_text_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "Hello, world! 42 times"), (1, ""), (2, "   "), (3, "one")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_tokens"], r["n_bpe_tokens"]) for r in df.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    ).collect()}
    assert out[0] == (4, 6)  # [Hello][,][world][!][42][times]
    assert out[1] == (0, 0)
    assert out[2] == (0, 0)
    assert out[3] == (1, 1)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat sat on the mat and it was happy"),
            (1, "der hund ist nicht mit der katze und sie"),
            (2, "le chat est dans la maison pour le moment"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["g"] for r in df.select(
        "doc_id", text.lang_id(F.col("text")).alias("g")).collect()}
    assert out[0] == "en" and out[1] == "de" and out[2] == "fr" and out[3] == "und"


def test_quality_score_range_and_signal(spark):
    df = spark.createDataFrame(
        [
            (0, "The quick brown fox jumps over the lazy dog near the river bank."),
            (1, "!!! ??? ,,, ;;; !!!"),
            (2, "spam spam spam spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["quality_score"]
           for r in text.quality_score(df).select("doc_id", "quality_score").collect()}
    assert all(0.0 <= v <= 1.0 for v in out.values())
    assert out[0] > out[1] and out[0] > out[2]


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e f g h i j k l"), (1, "a b c d e f g h i j k l"),
         (2, "totally different words here now ok yes no maybe")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", text.fingerprint(F.col("text")).alias("fp")).collect()}
    assert out[0] == out[1] and out[0] != out[2]


def test_hash_mode_xxhash64(spark, docs):
    """set_hash_mode('xxhash64') (the production mode): identical plan
    shape and dup detection with xxhash64 base hashes instead of the
    md5 hex round-trip; md5 stays the default for oracle parity."""
    dedup.set_hash_mode("xxhash64")
    try:
        pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
                 for r in dedup.minhash_lsh_pairs(
                     docs, k=16, bands=4, threshold=0.5).collect()}
        assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
        assert (0, 4) not in pairs
        sim = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in dedup.simhash_pairs(docs, max_distance=3).collect()}
        assert sim[(0, 1)] == 0 and sim[(0, 2)] == 0
        # no md5 anywhere in the candidate-generation plan
        plan = dedup.minhash_lsh_pairs(
            docs, k=16, bands=4, threshold=0.5
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "md5" not in plan and "xxhash64" in plan.lower()
    finally:
        dedup.set_hash_mode("md5")
    with pytest.raises(ValueError):
        dedup.set_hash_mode("sha1")


def test_incremental_minhash_matches_batch(spark, docs):
    """Incremental contract: pairs reported for a new batch (internal +
    vs-store) == the full-corpus batch pairs minus store-internal ones,
    with identical est_jaccard values; the store is band rows only —
    no historical text is re-read or re-hashed."""
    old = docs.filter(F.col("doc_id") <= 2)   # 0,1,2 mutual dups
    new = docs.filter(F.col("doc_id") >= 3)   # 3 near-dups them, 4/5 unrelated

    full = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.4).collect()
    }
    store_internal = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(old, threshold=0.4).collect()
    }
    expected = {p: j for p, j in full.items() if p not in store_internal}

    # batch 1 -> store; batch 2 incremental
    _, store_rows = dedup.incremental_minhash_pairs(old, None, threshold=0.4)
    pairs, new_rows = dedup.incremental_minhash_pairs(
        new, store_rows, threshold=0.4
    )
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert got == expected and len(got) > 0
    # the rows handed back for appending cover the new batch's bands
    assert new_rows.select("id").distinct().count() == 3


def test_incremental_minhash_store_side_not_shuffled(spark, docs):
    """Scale shape: the store scan joins the BROADCAST batch (no
    exchange of historical rows).  The batch-internal self-join may
    legitimately shuffle — the batch is the small unit — so the only
    shuffle joins allowed are that one."""
    old = docs.filter(F.col("doc_id") <= 2)
    new = docs.filter(F.col("doc_id") >= 3)
    _, store_rows = dedup.incremental_minhash_pairs(old, None)
    pairs, _ = dedup.incremental_minhash_pairs(new, store_rows)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # batch-vs-store side
    assert plan.count("SortMergeJoin") <= 1  # batch-internal only


def test_duplicate_clusters_resolves_chains_and_stars(spark):
    from jsonschema_spark.operators.dedup import duplicate_clusters

    # chain 1-2-3-4, star 10-(11,12,13), singleton pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20),
    }


def test_duplicate_clusters_string_ids(spark):
    from jsonschema_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b")], "id_a string, id_b string"
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}


def test_duplicate_clusters_driver_and_distributed_paths_agree(spark):
    """The AQE-style adaptive switch must be invisible in the result:
    union-find (small-graph path) and min-label propagation
    (driver_edge_bound=0 forces the distributed loop) resolve the same
    clusters — chains, stars, a cycle, duplicate edges, both
    directions."""
    from jsonschema_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1),        # cycle
         (10, 11), (10, 12), (10, 13),          # star
         (20, 21), (21, 20), (20, 21),          # dup + reversed edges
         (31, 30)],                              # min on the right
        "id_a long, id_b long",
    )
    driver = {
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(pairs).collect()
    }
    dist = {
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(pairs, driver_edge_bound=0).collect()
    }
    assert driver == dist
    assert (31, 30) in driver and (4, 1) in driver


def test_duplicate_clusters_empty_pairs(spark):
    from jsonschema_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert duplicate_clusters(pairs).count() == 0


def test_classifier_score_matches_python_replay(spark):
    import hashlib
    import math

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox"),
            (1, ""),
            (2, "The  quick QUICK brown"),
            (3, None),
            (4, "one"),
        ],
        "doc_id long, text string",
    )
    weights = text.classifier_weights(spark, dim=64, seed="qc-v1")
    got = {
        r["doc_id"]: r
        for r in text.classifier_score(df, weights, dim=64).collect()
    }

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def replay(txt):
        if txt is None:
            return 0, 0.0
        toks = " ".join(txt.lower().split()).split(" ")
        uni = list(dict.fromkeys(toks))
        bi = list(dict.fromkeys(
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        )) if len(toks) >= 2 else []
        feats = [g for g in uni + bi if g != ""]
        if not feats:
            return 0, 0.0
        s9 = sum(
            md5_long(f"qc-v1#{md5_long(g) % 64}") % 2001 - 1000 for g in feats
        )
        return len(feats), s9 / (1000.0 * len(feats))

    for doc_id, txt in [(0, "the quick brown fox"), (1, ""),
                        (2, "The  quick QUICK brown"), (3, None), (4, "one")]:
        n, score = replay(txt)
        r = got[doc_id]
        assert r["n_feats"] == n
        assert r["score"] == round(score, 6)
        assert r["prob"] == round(1.0 / (1.0 + math.exp(-score)), 6)
        assert r["keep"] == (score >= 0.0)


def test_classifier_model_join_is_broadcast(spark):
    df = spark.createDataFrame([(0, "alpha beta gamma")], "doc_id long, text string")
    weights = text.classifier_weights(spark, dim=64)
    plan = text.classifier_score(df, weights, dim=64)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_classifier_hash_mode_xxhash64(spark):
    """classifier_score honors the production hash mode: same plan
    shape, xxhash64 gram bucketing, keep@0.5 still the integer
    predicate."""
    from jsonschema_spark.operators.text import classifier_score, classifier_weights

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon zeta eta")],
        "doc_id long, text string",
    )
    w = classifier_weights(spark, dim=64)
    dedup.set_hash_mode("xxhash64")
    try:
        out = {r["doc_id"]: r for r in classifier_score(docs, w, dim=64).collect()}
        assert out[0]["n_feats"] == 5 and out[1]["n_feats"] == 7
        plan = (
            classifier_score(docs, w, dim=64)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        # gram bucketing switched to xxhash64; md5 may remain only in
        # the stub weight-table derivation (deliberately
        # oracle-reproducible), never on the exploded gram stream
        assert "xxhash64" in plan.lower()
        gram_lines = [l for l in plan.splitlines() if "pmod" in l and "64)" in l]
        assert gram_lines and all("md5" not in l for l in gram_lines)
    finally:
        dedup.set_hash_mode("md5")


def test_normalize_text_unicode_kernel(spark):
    """NFC + accent strip + control removal, one Arrow pass; decomposed
    and precomposed inputs normalize to the same string."""
    from jsonschema_spark.operators.kernels import normalize_text_unicode

    decomposed = "café"       # e + combining acute
    df = spark.createDataFrame(
        [(0, decomposed), (1, "café"), (2, "a\tb\x07c"), (3, None)],
        "id long, t string",
    )
    got = {
        r["id"]: (r["nfc"], r["strip"], r["noctl"])
        for r in df.select(
            "id",
            normalize_text_unicode("t").alias("nfc"),
            normalize_text_unicode("t", strip_accents=True).alias("strip"),
            normalize_text_unicode("t", remove_control=True).alias("noctl"),
        ).collect()
    }
    assert got[0][0] == got[1][0] == "café"   # NFC-canonical equal
    assert got[0][1] == got[1][1] == "cafe"
    assert got[2][2] == "abc"                      # tab and BEL are controls
    assert got[3] == (None, None, None)


class TestBigramLm:
    def test_seen_and_backoff(self, spark):
        import math

        from jsonschema_spark.operators import text as T

        train = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
        )
        uni = T.lm_counts(train)      # a:3 b:3 c:1, T=7 V=3
        bi = T.lm_bigram_counts(train)  # (a,b):3 (b,a):1 (b,c):1
        score = spark.createDataFrame(
            [(10, "a b"), (11, "c a"), (12, "x")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in T.lm_score_bigram(score, uni, bi).collect()}
        # doc 10: seen bigram, s = 3/3 = 1 -> logs 0, ppl 1
        assert got[10]["n_bigrams"] == 1
        assert got[10]["avg_logs"] == 0.0 and got[10]["ppl"] == 1.0
        # doc 11: unseen bigram (c,a): backoff 0.4 * (3+0.5)/(7+0.5*4)
        s = 0.4 * ((3 + 0.5) / (7 + 0.5 * 4))
        assert got[11]["avg_logs"] == round(round(math.log(s) * 1e9) / 1e9, 6)
        # doc 12: no bigrams
        assert got[12]["n_bigrams"] == 0 and got[12]["avg_logs"] is None


class TestTokenEntropy:
    def test_known_values(self, spark):
        import math

        from jsonschema_spark.operators.text import token_entropy

        df = spark.createDataFrame(
            [
                (1, "a a a a"),        # all same -> H=0, norm 0
                (2, "a b c d"),        # uniform -> H=ln(4), norm 1
                (3, "a a b"),          # H = ln(3) - (2ln2)/3
                (4, ""),               # empty
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in token_entropy(df).collect()}
        assert got[1]["entropy"] == 0.0 and got[1]["norm_entropy"] == 0.0
        assert got[2]["entropy"] == round(math.log(4), 6)
        assert got[2]["norm_entropy"] == 1.0
        h3 = math.log(3) - round(2 * math.log(2) * 1e9) / 1e9 / 3
        assert got[3]["entropy"] == round(h3, 6)
        assert got[4]["n_tokens"] == 0 and got[4]["entropy"] is None


class TestBlocklist:
    def test_overlap_counting(self, spark):
        docs = spark.createDataFrame(
            [(1, "a a a b"), (2, "b a a"), (3, "c d")], "doc_id long, text string"
        )
        phrases = spark.createDataFrame([("a a",)], "phrase string")
        got = {
            (r["doc_id"], r["phrase"]): r["hits"]
            for r in text.blocklist_hits(docs, phrases).collect()
        }
        # overlapping starts both count: 'a a a' has 2
        assert got == {(1, "a a"): 2, (2, "a a"): 1}

    def test_multiword_and_boundary(self, spark):
        docs = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "quick brown")],
            "doc_id long, text string",
        )
        phrases = spark.createDataFrame(
            [("quick brown fox",), ("brown fox jumps",)], "phrase string"
        )
        got = [
            (r["doc_id"], r["phrase"], r["hits"])
            for r in text.blocklist_hits(docs, phrases).collect()
        ]
        assert got == [(1, "quick brown fox", 1)]

    def test_no_shuffle_before_match(self, spark):
        """Plan shape: the corpus side reaches the phrase join without
        an Exchange (candidate generation is broadcast); the only
        shuffle is the final hit-count aggregation."""
        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
        )
        phrases = spark.createDataFrame([("b c",)], "phrase string")
        plan = text.blocklist_hits(docs, phrases)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_phrase_normalization(self, spark):
        """Mixed-case / extra-whitespace phrases match normalized text."""
        docs = spark.createDataFrame(
            [(1, "The Quick  Brown fox")], "doc_id long, text string"
        )
        phrases = spark.createDataFrame(
            [("Quick   BROWN",), ("",), ("   ",)], "phrase string"
        )
        got = text.blocklist_hits(docs, phrases).collect()
        assert len(got) == 1
        assert got[0]["phrase"] == "Quick   BROWN" and got[0]["hits"] == 1

    def test_long_phrase_fails_loudly(self, spark):
        """A phrase longer than max_phrase_words can never match the
        truncated context window — the call must refuse up front
        (r3 advice: it used to return silent false negatives)."""
        import pytest

        docs = spark.createDataFrame(
            [(1, "a b c d e f")], "doc_id long, text string"
        )
        phrases = spark.createDataFrame([("a b c d e",)], "phrase string")
        with pytest.raises(ValueError, match="max_phrase_words"):
            text.blocklist_hits(docs, phrases, max_phrase_words=4)
        # raising the knob makes the same phrase match
        got = [
            (r["doc_id"], r["phrase"], r["hits"])
            for r in text.blocklist_hits(
                docs, phrases, max_phrase_words=5
            ).collect()
        ]
        assert got == [(1, "a b c d e", 1)]
