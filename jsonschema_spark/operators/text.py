"""Document hygiene operators: PII scan/redaction, unigram LM scoring
and phrase-blocklist matching over whitespace tokens of normalized
text.

All pure Column expressions and DataFrame joins/aggregations (zero
Python in the hot path); regex patterns restricted to the Java/RE2
common subset (SURVEY.md §7.4 regex-dialect note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(normalize_text(col), " ")


# --------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------
# Patterns restricted to the Java<->RE2 common subset (no lookaround,
# no backreferences).
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
    order can never perturb a score.  Unseen tokens (scoring corpus !=
    training corpus) take the alpha mass via the left join.

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
    rather than silently never matching the phrase table —
    broadcast-small by contract — is checked up front with one tiny
    aggregate and the call fails loudly; the actual max phrase length
    (<= the cap) is then used as the slice width, so short phrase sets
    carry a smaller window than the cap allows.
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
