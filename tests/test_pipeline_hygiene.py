"""Training-data hygiene operators: PII scan/redaction, unigram LM
scoring."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators import text


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "a completely original training document about spark"),
        (2, "short text"),
        (3, "quantum physics lectures for curious graduate students"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestPII:
    def test_counts_and_redaction(self, spark):
        df = spark.createDataFrame(
            [
                (0, "reach me at bob@example.com or 10.1.2.3"),
                (1, "call 15551234567 ssn 123-45-6789"),
                (2, "nothing sensitive here"),
            ],
            "doc_id long, text string",
        )
        feat = {r["doc_id"]: r for r in text.pii_features(df).collect()}
        assert feat[0]["pii_email"] == 1 and feat[0]["pii_ipv4"] == 1
        assert feat[0]["pii_total"] == 2
        assert feat[1]["pii_phone"] == 1 and feat[1]["pii_ssn"] == 1
        assert feat[2]["pii_total"] == 0
        red = {
            r["doc_id"]: r["red"]
            for r in df.select(
                "doc_id", text.pii_redact(F.col("text")).alias("red")
            ).collect()
        }
        assert red[0] == "reach me at <EMAIL> or <IPV4>"
        assert red[1] == "call <PHONE> ssn <SSN>"
        assert red[2] == "nothing sensitive here"

    def test_email_host_not_double_redacted(self, spark):
        df = spark.createDataFrame([(0, "x user@10.0.0.1.example.com y")],
                                   "doc_id long, text string")
        red = df.select(text.pii_redact(F.col("text")).alias("r")).first()["r"]
        assert red == "x <EMAIL> y"


class TestLMScore:
    def test_counts_and_totals(self, spark, corpus):
        counts = {r["token"]: r["n"] for r in text.lm_counts(corpus).collect()}
        assert counts["the"] == 2  # both in doc 0
        assert counts["spark"] == 1
        assert "" not in counts

    def test_score_prefers_in_distribution_docs(self, spark, corpus):
        counts = text.lm_counts(corpus)
        out = {r["doc_id"]: r for r in text.lm_score(corpus, counts).collect()}
        assert set(out) == {0, 1, 2, 3}
        # every doc scored over its real token count
        assert out[2]["n_tokens"] == 2
        # ppl = exp(-avg_logp) for every scored doc (relative tolerance:
        # avg_logp is independently rounded to 6 dp, which perturbs
        # exp(-avg_logp) by up to ~5e-7 * ppl)
        import math
        for r in out.values():
            assert abs(r["ppl"] - math.exp(-r["avg_logp"])) < r["ppl"] * 2e-6 + 1e-6

    def test_unseen_tokens_take_alpha_mass(self, spark, corpus):
        counts = text.lm_counts(corpus)
        new = spark.createDataFrame(
            [(9, "zebra zebra zebra")], "doc_id long, text string"
        )
        seen = spark.createDataFrame(
            [(8, "the the the")], "doc_id long, text string"
        )
        s_new = text.lm_score(new, counts).first()
        s_seen = text.lm_score(seen, counts).first()
        # out-of-distribution doc scores strictly worse (higher ppl)
        assert s_new["ppl"] > s_seen["ppl"]
        assert s_new["n_tokens"] == 3 and s_new["avg_logp"] < 0

    def test_empty_doc_scores_null(self, spark, corpus):
        counts = text.lm_counts(corpus)
        empty = spark.createDataFrame(
            [(7, ""), (6, "   ")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in text.lm_score(empty, counts).collect()}
        for r in out.values():
            assert r["n_tokens"] == 0
            assert r["avg_logp"] is None and r["ppl"] is None
