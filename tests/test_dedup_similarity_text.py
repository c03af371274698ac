"""Phrase-blocklist matching over normalized document tokens."""

from __future__ import annotations

from jsonschema_spark.operators import text


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
        instead of returning silent false negatives."""
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
