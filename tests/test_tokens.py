"""One tokenization rule for every tokenizing operator
(operators/dedup.py module docstring): normalize, split on the space,
and only documents with a non-whitespace character have tokens."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

#: NULL, blank, whitespace-only, and the same text with an edge LF, an
#: edge CRLF and inner tab/double-space runs
ROWS = [(1, None), (2, ""), (3, "   "), (4, "\t\n"),
        (5, "\nalpha beta gamma delta"),
        (6, "alpha beta gamma delta\r\n"),
        (7, "alpha  beta\tgamma delta")]
SAME = {5, 6, 7}
WORDS = {"alpha", "beta", "gamma", "delta"}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


class TestDocTokens:
    def test_edge_whitespace_is_no_token(self, docs):
        from db2pq_spark.operators.dedup import doc_tokens

        got = {r["id"]: r["_toks"] for r in
               doc_tokens(docs, "text", "doc_id").collect()}
        assert got == {i: ["alpha", "beta", "gamma", "delta"]
                       for i in SAME}

    def test_tokenizes_once_per_row(self, docs):
        from db2pq_spark.operators.dedup import doc_tokens

        plan = (doc_tokens(docs, "text", "doc_id")._jdf.queryExecution()
                .optimizedPlan().toString())
        assert plan.count("regexp_replace(") == 1


class TestDedupAgreesOnTheNormalizedForm:
    def test_exact_dedup_groups_edge_whitespace_variants(self, docs):
        from db2pq_spark.operators.dedup import exact_dedup

        groups = {r["keep_id"]: r["n_dups"] for r in
                  exact_dedup(docs, "text", "doc_id").collect()}
        assert groups[5] == 3

    def test_shingles_keep_an_edge_newline_document(self, docs):
        from db2pq_spark.operators.dedup import with_shingles

        ids = {r["id"] for r in
               with_shingles(docs, "text", "doc_id").collect()}
        assert ids == SAME

    def test_simhash_drops_whitespace_only_documents(self, docs):
        from db2pq_spark.operators.dedup import simhash

        got = {r["id"]: r["simhash"] for r in
               simhash(docs, "text", "doc_id").collect()}
        assert set(got) == SAME
        assert len(set(got.values())) == 1

    @pytest.mark.parametrize("keys", ["exact", "arrow"])
    def test_gopher_repetition_counts_no_edge_token(self, docs, keys):
        from db2pq_spark.operators.repetition import gopher_repetition

        got = {r["id"]: r["n_chars"] for r in gopher_repetition(
            docs, "text", "doc_id", keys=keys).collect()}
        assert got == {i: len("alpha beta gamma delta") for i in SAME}


class TestTokenizersSeeNoEmptyWord:
    def test_bpe(self, docs):
        from db2pq_spark.operators.bpe import word_freqs

        assert {r["word"]: r["freq"] for r in
                word_freqs(docs, "text").collect()} \
            == {w: 3 for w in WORDS}

    def test_wordpiece(self, spark, docs):
        from db2pq_spark.operators.wordpiece import wordpiece_segment

        vocab = spark.createDataFrame(
            [(c,) for c in "abcdefghijklmnopqrstuvwxyz"], "piece string")
        got = {r["id"]: (r["n_words"], r["n_unk"]) for r in
               wordpiece_segment(docs, "text", "doc_id", vocab).collect()}
        assert got == {i: (4, 0) for i in SAME}

    def test_unigram(self, docs):
        from db2pq_spark.operators.unigram import unigram_segment

        got = {r["id"]: r["n_words"] for r in unigram_segment(
            docs, "text", "doc_id", rounds=1).collect()}
        assert got == {i: 4 for i in SAME}


class TestLinesUseTheNormalizedForm:
    def test_crlf_line_counts_its_words(self, spark):
        from db2pq_spark.operators.filtering import line_filter

        df = spark.createDataFrame([(1, "foo bar\r\nbaz qux quux\r")],
                                   "doc_id long, text string")
        r = line_filter(df, "text", "doc_id", min_words=3).collect()[0]
        assert (r["n_lines"], r["n_kept"]) == (2, 1)

    def test_crlf_line_repeats_its_lf_twin(self, spark):
        from db2pq_spark.operators.filtering import remove_repeated_lines

        df = spark.createDataFrame(
            [(1, "foo bar\r\nalpha"), (2, "Foo  bar\nbeta")],
            "doc_id long, text string")
        got = {r["id"]: r["text_kept"] for r in remove_repeated_lines(
            df, "text", "doc_id").collect()}
        assert got == {1: "alpha", 2: "beta"}


def test_drift_counts_no_empty_token(spark, docs):
    from db2pq_spark.streaming.drift import _token_rows

    toks = {r["tok"]: r["n"] for r in _token_rows(docs, "text")
            .groupBy("tok").agg(F.count("*").alias("n")).collect()}
    assert toks == {w: 3 for w in WORDS}


class TestBlankTextHasNoTokens:
    """Spark splits '' into [''], so without a guard a blank text
    counts one token."""

    @pytest.fixture(scope="class")
    def blank(self, spark):
        return spark.createDataFrame([(1, ""), (2, "\t"), (3, "a b")],
                                     "doc_id long, text string")

    def test_token_count(self, blank):
        from db2pq_spark.operators.textstats import token_count, tokens

        got = {r["doc_id"]: (r["n"], r["t"]) for r in blank.select(
            "doc_id", token_count("text").alias("n"),
            tokens("text").alias("t")).collect()}
        assert got == {1: (0, []), 2: (0, []), 3: (2, ["a", "b"])}

    def test_gopher_rules_counts_no_word(self, blank):
        from db2pq_spark.operators.filtering import gopher_rules

        got = {r["id"]: (r["n_words"], r["word_chars"]) for r in
               gopher_rules(blank, "text", "doc_id").collect()}
        assert got == {1: (0, 0), 2: (0, 0), 3: (2, 2)}


def _regexp_replaces(df) -> int:
    return (df._jdf.queryExecution().optimizedPlan().toString()
            .count("regexp_replace("))


class TestNgramKeysTokenizeOnce:
    """A short-document filter on ``_toks`` would be pushed below the
    tokenizing projection with the split substituted, tokenizing every
    document twice; the n-gram builders need none."""

    @pytest.mark.parametrize("token_hash", ["arrow64", "xxhash64", "md5_60"])
    def test_winnow_fingerprints(self, docs, token_hash):
        from db2pq_spark.operators.dedup import winnow_fingerprints

        assert _regexp_replaces(winnow_fingerprints(
            docs, "text", "doc_id", token_hash=token_hash)) == 1

    @pytest.mark.parametrize("span_hash", ["xxhash64", "md5"])
    def test_contamination_stats(self, docs, span_hash):
        from db2pq_spark.operators.dedup import contamination_stats

        # three span relations, each tokenized once: the train spans
        # feed both the per-document total and the bench probe
        assert _regexp_replaces(contamination_stats(
            docs, docs.where("doc_id > 5"), "text", "doc_id", n=2,
            span_hash=span_hash)) == 3
