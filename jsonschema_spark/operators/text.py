"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure Column expressions (whole-stage codegen, zero Python in the
hot path); regex patterns restricted to the Java/RE2 common subset
(SURVEY.md §7.4 regex-dialect note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hash_long, md5_long, normalize_text, tokens

# tiny per-language stopword lists for the n-gram/stopword-hit
# language-ID heuristic (deterministic, dependency-free)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sie", "von"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "que", "pour", "pas"],
    "es": ["el", "los", "las", "una", "por", "con", "para", "como", "más", "pero"],
}

# BPE-ish token regex: words-with-leading-space | numbers | punctuation
# runs — the shape GPT-2-style tokenizers pre-split on, in the
# Java↔RE2-safe subset.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_count(col: Column) -> Column:
    """Whitespace token count of normalized text (0 for empty)."""
    norm = normalize_text(col)
    return F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.size(F.split(norm, " "))
    )


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish regex pre-tokens (letters / digits / punct runs)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0))


def _stopword_hits(norm: Column, words: list[str]) -> Column:
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    hits = F.lit(0)
    for w in words:
        # occurrence count of ' w ' via length arithmetic (no UDF)
        token = f" {w} "
        hits = hits + (
            (F.length(padded) - F.length(F.replace(padded, F.lit(token), F.lit(""))))
            / F.lit(len(token))
        ).cast("int")
    return hits


def lang_id(col: Column, langs: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language ID: the language whose stopword list scores
    the most hits; 'und' (undetermined) when no stopword matches.
    Deterministic tie-break: language name ascending."""
    langs = langs or STOPWORDS
    norm = normalize_text(col)
    entries = [
        F.struct(
            (-_stopword_hits(norm, ws)).cast("long").alias("neg_hits"),
            F.lit(lang).alias("lang"),
            _stopword_hits(norm, ws).cast("long").alias("hits"),
        )
        for lang, ws in sorted(langs.items())
    ]
    best = F.array_min(F.array(*entries))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append per-document quality features — the classic heuristic
    filter set (length, mean word length, punctuation/digit/upper
    ratios, stopword ratio, repetition)."""
    c = F.col(text_col)
    norm = normalize_text(c)
    toks = tokens(c)
    n_tok = token_count(c)
    n_chars = F.length(c)
    nz = F.greatest(n_chars.cast("double"), F.lit(1.0))
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]{}-]", ""))
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    uppers = F.length(F.regexp_replace(c, r"[^A-Z]", ""))
    stop_hits = _stopword_hits(norm, STOPWORDS["en"])
    distinct_tok = F.size(F.array_distinct(toks))
    return (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "mean_word_len",
            F.when(n_tok > 0, F.length(norm).cast("double") / n_tok).otherwise(F.lit(0.0)),
        )
        .withColumn("punct_ratio", punct / nz)
        .withColumn("digit_ratio", digits / nz)
        .withColumn("upper_ratio", uppers / nz)
        .withColumn(
            "stopword_ratio",
            F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "repetition_ratio",
            F.when(n_tok > 0, 1.0 - distinct_tok.cast("double") / n_tok).otherwise(F.lit(0.0)),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """A single [0,1] quality score from the heuristic features — the
    'keep it for training?' signal.  Weights are fixed and documented,
    not learned; the point is the columnar plumbing."""
    feat = quality_features(df, text_col)
    score = (
        F.lit(1.0)
        - F.least(F.col("punct_ratio") * 2.0, F.lit(0.3))
        - F.least(F.col("digit_ratio") * 2.0, F.lit(0.2))
        - F.least(F.col("repetition_ratio"), F.lit(0.3))
        - F.when(F.col("n_tokens") < 5, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return feat.withColumn("quality_score", F.greatest(score, F.lit(0.0)))


def fingerprint(col: Column, window: int = 8) -> Column:
    """Winnowing-style document fingerprint: min rolling-window hash of
    the token stream (md5-derived, oracle-reproducible).  Robust to
    small edits away from the minimizing window — the standard
    plagiarism/fingerprint primitive."""
    toks = tokens(col)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(window - 1), F.lit(1))),
        lambda i: md5_long(F.array_join(F.slice(toks, i, window), " ")),
    )
    return F.array_min(grams)


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-stop per-document profile: lang guess, token counts, quality
    score, fingerprint — the table a curriculum/filter stage consumes."""
    q = quality_score(df, text_col)
    return q.select(
        F.col(id_col),
        lang_id(F.col(text_col)).alias("lang_guess"),
        F.col("n_tokens"),
        bpe_token_count(F.col(text_col)).alias("n_bpe_tokens"),
        F.round("quality_score", 6).alias("quality_score"),
        fingerprint(F.col(text_col)).alias("fingerprint"),
    )


# --------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------
# Patterns restricted to the Java<->RE2 common subset (no lookaround,
# no backreferences) so the DuckDB oracle replays them verbatim.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    # the reference's own 'phone' format shape (validator_format.go:285-291):
    # 11 digits starting with 1
    "phone": r"\b1[0-9]{10}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def pii_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append one ``pii_<kind>`` match-count column per pattern plus a
    ``pii_total``.  Pure `regexp_extract_all` — codegen'd RE2-subset
    scans, no Python; at 100 TB this is a map-only pass that rides the
    ingest scan for free."""
    c = F.col(text_col)
    out = df
    total = F.lit(0)
    for kind, pat in PII_PATTERNS.items():
        cnt = F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        out = out.withColumn(f"pii_{kind}", cnt)
        total = total + cnt
    return out.withColumn("pii_total", total)


def pii_redact(col: Column) -> Column:
    """Replace every PII match with a typed placeholder (``<EMAIL>``,
    ``<IPV4>``, ...).  Order matters: email first so user@host.ip
    doesn't get its host half rewritten by the ipv4 rule; ssn before
    phone so hyphenated digit groups keep their own tag."""
    out = col
    for kind in ("email", "ssn", "phone", "ipv4"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


# --------------------------------------------------------------------
# Repetition / boilerplate features (Gopher-style quality rules)
# --------------------------------------------------------------------

def _ngram_join(toks: Column, i: Column, n: int) -> Column:
    return F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])


def _word_ngrams_all(toks: Column, n: int) -> Column:
    """ALL word n-grams (with duplicates — repetition needs the
    multiset) from a MATERIALIZED token-array column: higher-order
    function lambdas inline their argument into every ``element_at``,
    so an inline tokenizer would re-run ~3n times per row."""
    cnt = F.size(toks) - F.lit(n - 1)
    return F.when(
        cnt >= 1,
        F.transform(F.sequence(F.lit(1), cnt), lambda i: _ngram_join(toks, i, n)),
    ).otherwise(F.array().cast("array<string>"))


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document:

    * ``dup_bigram_frac`` / ``dup_trigram_frac`` — fraction of word
      2-/3-grams that are repeats (1 - distinct/total), the "looping
      text" detector;
    * ``top_bigram_frac`` — fraction of all bigrams taken by the single
      most frequent one, the boilerplate/template detector.

    All higher-order-function Column expressions over the per-row token
    array: the most-frequent-bigram count is a transform over the
    distinct bigrams counting matches in the multiset — O(k^2) in the
    per-document bigram count k, zero shuffles, zero Python.  Documents
    with pathological k are exactly the ones these filters drop, so the
    quadratic term is bounded by upstream length filters in practice.

    The tokenizer and the bigram array are materialized in projection
    levels below the feature expressions (non-cheap + multiply
    referenced, so CollapseProject keeps them): each is computed ONCE
    per row instead of once per HOF element access.
    """
    toks, bi = F.col("__toks"), F.col("__bi")

    def dup_frac(grams: Column) -> Column:
        total = F.size(grams)
        return F.when(
            total > 0,
            1.0 - F.size(F.array_distinct(grams)).cast("double") / total,
        ).otherwise(F.lit(0.0))

    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(bi),
            lambda g: F.size(F.filter(bi, lambda x: x == g)),
        )
    )
    top_frac = F.when(
        F.size(bi) > 0, top_cnt.cast("double") / F.size(bi)
    ).otherwise(F.lit(0.0))

    return (
        df.withColumn("__toks", tokens(F.col(text_col)))
        .withColumn("__bi", _word_ngrams_all(toks, 2))
        .withColumn("dup_bigram_frac", dup_frac(bi))
        .withColumn("dup_trigram_frac", dup_frac(_word_ngrams_all(toks, 3)))
        .withColumn("top_bigram_frac", top_frac)
        .drop("__toks", "__bi")
    )


# ---------------------------------------------------------------------
# Unigram-LM pseudo-perplexity quality scoring (the CCNet-style
# "score documents by a corpus LM" pipeline stage, with an honest
# dependency-free unigram model instead of KenLM).  No reference
# analog (SURVEY.md §2.9).
# ---------------------------------------------------------------------


def lm_counts(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram counts ``(token, n)`` over whitespace tokens of the
    normalized text — the trained "LM".  One explode + one
    hash-partitioned aggregation; map-side partial counting makes the
    shuffle one row per distinct token per partition."""
    return (
        corpus.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def lm_score(
    docs: DataFrame,
    counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document add-alpha unigram LM score:
    ``(id, n_tokens, avg_logp, ppl)`` where
    p(tok) = (n_tok + alpha) / (T + alpha * (V + 1)), avg_logp is the
    mean token log-probability and ppl = exp(-avg_logp) (higher =
    further from the training distribution — the quality-filter knob).

    Determinism contract: each token's log-probability is snapped to a
    scaled long (round(ln(p) * 1e9)) BEFORE the per-document sum, so
    the aggregation sums exact integers — Spark's partial-aggregation
    order can never perturb a score, and the DuckDB oracle lands on
    identical values.  Unseen tokens (scoring corpus != training
    corpus) take the alpha mass via the left join.

    Scale: the token-to-count join shuffles on `token` (the counts
    table is vocab-sized — too big to assume broadcastable at 100 TB;
    Catalyst/AQE will broadcast it when it is small); the totals ride
    in as ONE broadcast row.  Everything else is codegen arithmetic.
    """
    tot = counts.agg(
        F.sum("n").alias("__T"), F.count(F.lit(1)).alias("__V")
    )
    exploded = (
        docs.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
        )
        .filter(F.col("token") != "")
    )
    scored = exploded.join(counts, "token", "left").crossJoin(
        F.broadcast(tot)
    )
    p = (F.coalesce(F.col("n"), F.lit(0)).cast("double") + F.lit(alpha)) / (
        F.col("__T").cast("double")
        + F.lit(alpha) * (F.col("__V").cast("double") + 1.0)
    )
    logp9 = F.round(F.log(p) * 1e9, 0).cast("long")
    agg = scored.groupBy(id_col).agg(
        F.sum(logp9).alias("__s9"), F.count(F.lit(1)).alias("n_tokens")
    )
    avg = F.col("__s9").cast("double") / F.col("n_tokens").cast("double") / 1e9
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.round(avg, 6).alias("avg_logp"),
            F.round(F.exp(-avg), 6).alias("ppl"),
        )
    )


# --------------------------------------------------------------------
# BM25 retrieval scoring
# --------------------------------------------------------------------

def _term_tf(norm: Column, term: str) -> Column:
    """Occurrence count of a word in normalized text, pure codegen.
    Spaces are doubled first so adjacent occurrences never share a
    delimiter (' a a ' counts 2, not 1 — the non-overlapping-replace
    pitfall _stopword_hits tolerates is not acceptable for tf)."""
    spread = F.concat(
        F.lit(" "), F.replace(norm, F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    token = f" {term} "
    return F.floor(
        (F.length(spread) - F.length(F.replace(spread, F.lit(token), F.lit(""))))
        / F.lit(len(token))
    ).cast("long")


def bm25_scores(
    df: DataFrame,
    query: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25(Okapi) score of every document against a bag-of-words
    query: (id, score) for documents matching at least one term.

    Spark-first shape — NO explode, NO token join:
    * per-term tf and doclen are pure string/length arithmetic on the
      normalized text (whole-stage codegen, one scan);
    * corpus stats (N, total length, per-term document frequencies)
      are ONE map-side-partial aggregation producing a single row,
      broadcast back (the classic two-scan pattern; at 100 TB the
      stats pass shuffles one row per partition);
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5))  (Robertson/Sparck
      Jones, the Lucene variant — strictly positive).

    Determinism contract: each term's contribution is snapped to a
    scaled long (round(x * 1e9)) before the cross-term sum, the same
    convention as lm_score, so the DuckDB oracle lands on identical
    values."""
    if not query:
        raise ValueError("bm25_scores: empty query")
    norm = normalize_text(F.col(text_col))
    terms = list(dict.fromkeys(query))  # dedupe, keep order
    base = df.select(
        F.col(id_col),
        token_count(F.col(text_col)).cast("long").alias("__dl"),
        *[_term_tf(norm, t).alias(f"__tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__N"),
        F.sum("__dl").alias("__L"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("__L").cast("double") / F.col("__N").cast("double")
    contrib9 = []
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        dfq = F.col(f"__df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__N").cast("double") - dfq + F.lit(0.5)) / (dfq + F.lit(0.5))
        )
        c = idf * (tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl").cast("double") / avgdl)
        )
        contrib9.append(
            F.when(F.col(f"__tf_{i}") > 0, F.round(c * 1e9, 0).cast("long")).otherwise(F.lit(0))
        )
    total9 = contrib9[0]
    for c9 in contrib9[1:]:
        total9 = total9 + c9
    return (
        scored.select(
            F.col(id_col), (total9.cast("double") / 1e9).alias("__s")
        )
        .filter(F.col("__s") > 0)
        .select(F.col(id_col), F.round("__s", 6).alias("score"))
    )


def bm25_topk(
    df: DataFrame,
    query: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 hits, deterministic tie-break on id ascending.
    orderBy+limit compiles to TakeOrderedAndProject: each partition
    keeps its local top-k, the driver merges k rows per partition —
    no global sort at any scale."""
    scored = bm25_scores(df, query, text_col, id_col, k1, b)
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


# --------------------------------------------------------------------
# model-based quality filtering: hashed-feature linear classifier
# --------------------------------------------------------------------
#
# The fasttext-shaped curation stage (score each document with a linear
# model over hashed n-gram features, keep above a threshold) that sits
# between the heuristic filters (quality_features, repetition_features)
# and the expensive model passes in a production pipeline.  The MODEL
# here is a deterministic md5-derived stub — a real trained table drops
# in as any (bucket, w9) DataFrame without touching the plan shape.


def classifier_weights(
    spark, dim: int = 1024, seed: str = "qc-v1"
) -> DataFrame:
    """Deterministic stub "pretrained" weight table
    ``(bucket:long, w9:long)`` with w9 uniform in [-1000, 1000], derived
    from md5(seed || '#' || bucket) so the DuckDB oracle regenerates it
    bit-exactly.  Weights are scaled integers (1e-3 precision): the
    per-document weight SUM is then exact under Spark partial
    aggregation in any order.

    A real fasttext-style model (D = 2^20 buckets) is a few MB — always
    broadcastable, at any corpus size."""
    return spark.range(dim).select(
        F.col("id").cast("long").alias("bucket"),
        (
            md5_long(F.concat(F.lit(seed + "#"), F.col("id").cast("string")))
            % 2001
            - 1000
        ).alias("w9"),
    )


def classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Linear classifier over hashed binary text features:
    ``(id, n_feats, score, prob, keep)``.

    Features are the DISTINCT unigrams plus DISTINCT bigrams of the
    normalized token stream (binary presence, the fasttext bag shape);
    each hashes to ``bucket = hash_long(gram) % dim`` (md5 by default,
    xxhash64 under ``dedup.set_hash_mode`` production mode) and looks
    up w9 in the broadcast model table.  score = sum(w9) / (1000 * n_feats)
    (mean feature weight), prob = sigmoid(score).

    Determinism: the aggregation sums exact integers (w9), so partial
    aggregation order can never perturb a score; the one float division
    and exp() happen once per document at output.  ``keep`` compares
    score against logit(threshold) — at the default 0.5 that is the
    EXACT integer predicate sum(w9) >= 0.

    Scale: explode(features) → broadcast hash join on the model table →
    ONE groupBy(id) shuffle.  Bigrams come from the Arrow kernel
    (ngram_distinct) — per-element HOF string builds are interpreted
    (BENCH/BASELINE.md pathology #3)."""
    import math

    from . import kernels

    toks = tokens(F.col(text_col))
    uni = F.array_distinct(toks)
    bi = kernels.ngram_distinct(toks, 2)["grams"]
    exploded = (
        docs.select(F.col(id_col), F.explode(F.concat(uni, bi)).alias("g"))
        .filter(F.col("g") != "")
    )
    # hash_long honors dedup.set_hash_mode: md5 (oracle-reproducible,
    # default) or xxhash64 (production — drops the hex round-trip per
    # gram).  The broadcast weight table is bucket-indexed, so a real
    # trained model just has to be hashed with the same mode.
    bucketed = exploded.select(
        F.col(id_col), F.pmod(hash_long(F.col("g")), F.lit(dim)).alias("bucket")
    )
    agg = (
        bucketed.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(F.sum("w9").alias("__s9"), F.count(F.lit(1)).alias("n_feats"))
    )
    score = F.col("__s9").cast("double") / (
        F.lit(1000.0) * F.col("n_feats").cast("double")
    )
    logit = math.log(threshold / (1.0 - threshold))
    out = docs.select(id_col).join(agg, id_col, "left")
    score = F.coalesce(score, F.lit(0.0))
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
        F.round(score, 6).alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6).alias("prob"),
        (score >= F.lit(logit)).alias("keep"),
    )


# --------------------------------------------------------------------
# document chunking: fixed-size overlapping token windows
# --------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size overlapping token windows —
    the RAG-indexing / pretraining-example chunking step:
    ``(id, chunk_idx, n_tokens, chunk_text)``, chunk i covering
    normalized whitespace tokens [i*stride, i*stride + size).

    ``stride < size`` gives (size - stride)-token overlap between
    neighbours; ``stride == size`` gives gapless non-overlapping
    chunks.  Empty documents produce zero chunks (posexplode of an
    empty array), never a null chunk row.

    Scale: a map-only pass — tokenization in codegen, the chunk build
    as ONE Arrow kernel (``kernels.chunk_tokens``; the per-chunk string
    join is a per-element HOF build in the pure-Column form —
    pathology #3), then posexplode.  No shuffle at any corpus size;
    output rows ~ corpus_tokens / stride.
    """
    from . import kernels

    chunked = docs.select(
        F.col(id_col),
        kernels.chunk_tokens(tokens(F.col(text_col)), size, stride).alias(
            "__chunks"
        ),
    )
    # posexplode_outer, NOT posexplode: the non-outer generate makes
    # Spark insert a size(chunks)>0 pre-filter that re-evaluates the
    # Arrow kernel a second time (two ArrowEvalPython operators).  The
    # outer form evaluates the kernel ONCE; the empty-document null row
    # is dropped by a cheap post-generate filter on the position.
    return (
        chunked.select(
            F.col(id_col),
            F.posexplode_outer("__chunks").alias("chunk_idx", "__c"),
        )
        .where(F.col("chunk_idx").isNotNull())
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.col("__c.n").alias("n_tokens"),
            F.col("__c.t").alias("chunk_text"),
        )
    )


def blocklist_hits(
    docs: DataFrame,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_col: str = "phrase",
    max_phrase_words: int = 4,
) -> DataFrame:
    """(doc_id, phrase, hits): overlapping token-run occurrence counts
    of each blocklist phrase in each document — the scalable
    replacement for a giant regex alternation (Java's regex compiler
    and the per-row scan both fall over at 100k+ phrases).

    Scale shape: documents are tokenized and position-exploded ONCE;
    each token row carries only the next ``max_phrase_words`` tokens
    (a bounded window slice, not the whole document).  Candidate
    generation is a **broadcast** equality join on the phrase's first
    word — corpus rows never shuffle — and full-phrase verification is
    a map-side array-slice comparison against the candidate's window.
    The only shuffle carries MATCHED candidates into the final
    (doc_id, phrase) count, so network volume is hit-proportional.
    Counts are overlap-counting (every start position checked), unlike
    a replace()-based count which skips overlapping runs.

    ``max_phrase_words`` bounds the per-token context window each
    corpus row carries into the join (the knob that keeps the exploded
    corpus linear in tokens, not tokens x longest-phrase).  A phrase
    LONGER than the window can never match a truncated window, so
    rather than silently never matching (r3 advice finding) the
    phrase table — broadcast-small by contract — is checked up front
    with one tiny aggregate and the call fails loudly; the actual max
    phrase length (<= the cap) is then used as the slice width, so
    short phrase sets carry a smaller window than the cap allows.
    """
    # normalize the phrase the same way document text is tokenized —
    # otherwise a mixed-case / extra-whitespace phrase silently never
    # matches anything
    ph = phrases.select(
        F.col(phrase_col).alias("phrase"),
        tokens(F.col(phrase_col)).alias("p_toks"),
    ).withColumn("plen", F.size("p_toks"))
    longest = ph.agg(F.max("plen")).collect()[0][0] or 1
    if longest > max_phrase_words:
        raise ValueError(
            f"blocklist phrase has {longest} tokens but max_phrase_words="
            f"{max_phrase_words}: such phrases could never match the "
            f"bounded context window. Raise max_phrase_words to >= "
            f"{longest} (costs {longest} tokens of carried window per "
            "corpus token row) or shorten the phrase."
        )
    window = min(max_phrase_words, longest)
    first = ph.filter(F.col("p_toks")[0] != "").select(
        "phrase", "p_toks", "plen", F.col("p_toks")[0].alias("tok")
    )
    tok = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            tokens(F.col(text_col)).alias("__t"),
        )
        .select(
            "doc_id",
            F.posexplode("__t").alias("pos", "tok"),
            F.col("__t"),
        )
        # bounded context window: the explode output row references the
        # array transiently inside one codegen stage; only the
        # max_phrase_words-slice survives into the join
        .select(
            "doc_id",
            "tok",
            F.expr(f"slice(__t, pos + 1, {window})").alias("win"),
        )
    )
    return (
        tok.join(F.broadcast(first), "tok")
        .filter(F.expr("slice(win, 1, plen)") == F.col("p_toks"))
        .groupBy("doc_id", "phrase")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


def lm_bigram_counts(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Bigram counts ``(w1, w2, n2)`` over adjacent whitespace tokens
    of normalized text — the bigram half of the backoff LM.  One scan,
    one map-side-combinable aggregation (shuffle = one row per
    distinct bigram per partition)."""
    t = tokens(F.col(text_col))
    pairs = F.zip_with(
        F.expr("slice(__t, 1, size(__t) - 1)"),
        F.expr("slice(__t, 2, size(__t) - 1)"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        corpus.select(t.alias("__t"))
        .filter(F.size("__t") >= 2)
        .select(F.explode(pairs).alias("p"))
        .filter((F.col("p.w1") != "") & (F.col("p.w2") != ""))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n2"))
    )


def lm_score_bigram(
    docs: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    backoff: float = 0.4,
) -> DataFrame:
    """Per-document STUPID-BACKOFF bigram LM score (Brants et al.
    2007): ``(id, n_bigrams, avg_logs, ppl)`` where each adjacent pair
    scores s(w2|w1) = n2(w1,w2)/n1(w1) when the bigram was seen in
    training, else ``backoff`` times the add-alpha unigram probability
    of w2.  The standard web-scale recipe — no normalization pass over
    the vocab, so training stays two counting aggregations.

    Determinism contract (same as lm_score): ln(s) snaps to a scaled
    long per bigram BEFORE the per-document sum — exact integer
    aggregation, order-free at any parallelism, oracle-replayable.

    Scale: three vocab-keyed equality joins (bigram table on (w1,w2),
    unigram table twice) — all shuffle on token keys; neither table is
    assumed broadcastable at corpus scale (AQE broadcasts them when
    small).  Totals ride in as ONE broadcast row."""
    tot = uni.agg(F.sum("n").alias("__T"), F.count(F.lit(1)).alias("__V"))
    t = tokens(F.col(text_col))
    pairs = F.zip_with(
        F.expr("slice(__t, 1, size(__t) - 1)"),
        F.expr("slice(__t, 2, size(__t) - 1)"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    exploded = (
        docs.select(F.col(id_col), t.alias("__t"))
        .filter(F.size("__t") >= 2)
        .select(F.col(id_col), F.explode(pairs).alias("p"))
        .filter((F.col("p.w1") != "") & (F.col("p.w2") != ""))
        .select(F.col(id_col), F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("n").alias("__n1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("n").alias("__nu2"))
    scored = (
        exploded.join(bi, ["w1", "w2"], "left")
        .join(u1, "w1", "left")
        .join(u2, "w2", "left")
        .crossJoin(F.broadcast(tot))
    )
    seen = F.col("n2").isNotNull() & F.col("__n1").isNotNull()
    p_uni = (
        F.coalesce(F.col("__nu2"), F.lit(0)).cast("double") + F.lit(alpha)
    ) / (
        F.col("__T").cast("double")
        + F.lit(alpha) * (F.col("__V").cast("double") + 1.0)
    )
    s = F.when(
        seen, F.col("n2").cast("double") / F.col("__n1").cast("double")
    ).otherwise(F.lit(backoff) * p_uni)
    logs9 = F.round(F.log(s) * 1e9, 0).cast("long")
    agg = scored.groupBy(id_col).agg(
        F.sum(logs9).alias("__s9"), F.count(F.lit(1)).alias("n_bigrams")
    )
    avg = F.col("__s9").cast("double") / F.col("n_bigrams").cast("double") / 1e9
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.round(avg, 6).alias("avg_logs"),
            F.round(F.exp(-avg), 6).alias("ppl"),
        )
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution:
    ``(id, n_tokens, n_distinct, entropy, norm_entropy)`` with
    H = ln(n) - (sum_t c_t*ln(c_t))/n and norm_entropy = H/ln(n_distinct)
    (0 when every token is identical).  Low entropy = repetitive /
    boilerplate text — the information-theoretic quality signal the
    heuristic ratio features miss.

    Shape: explode + ONE (doc, token) count aggregation, then a
    per-doc reduce of the count rows — both map-side combinable, both
    doc-keyed.  Each c*ln(c) term snaps to a scaled long per distinct
    token BEFORE the per-doc sum, so the aggregation is exact-integer
    and order-free (the lm_score contract)."""
    cnt = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok"))
        .filter(F.col("__tok") != "")
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    term9 = F.round(
        F.col("__c").cast("double") * F.log(F.col("__c").cast("double")) * 1e9, 0
    ).cast("long")
    agg = cnt.groupBy(id_col).agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(term9).alias("__s9"),
    )
    n_d = F.col("n_tokens").cast("double")
    h = F.log(n_d) - F.col("__s9").cast("double") / 1e9 / n_d
    norm = F.when(
        F.col("n_distinct") > 1,
        h / F.log(F.col("n_distinct").cast("double")),
    ).otherwise(F.lit(0.0))
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("n_distinct"), F.lit(0)).alias("n_distinct"),
            F.round(h, 6).alias("entropy"),
            F.round(norm, 6).alias("norm_entropy"),
        )
    )
