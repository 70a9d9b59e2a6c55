"""Unit tests for operators/filtering.py — the corpus quality-filter
battery (Gopher rules, C4 line filter, char entropy, edit-distance
confirm, per-group caps)."""
from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F


class TestGopherRules:
    def _rules(self, spark, rows, **kw):
        from db2pq_spark.operators.filtering import gopher_rules

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r["id"]: r.asDict() for r in
                gopher_rules(df, "text", "doc_id", **kw).collect()}

    def test_word_count_bounds(self, spark):
        rows = [(1, "the quick brown fox jumps over that lazy dog again " * 6),
                (2, "too short the and")]  # doc 1: 60 w, mean len 4.1
        out = self._rules(spark, rows)
        assert out[1]["r_word_count"] and out[1]["passes"]
        assert not out[2]["r_word_count"] and not out[2]["passes"]

    def test_mean_word_len_integer_identity(self, spark):
        # "aa bb cc" → word_chars 6, n_words 3, mean 2 < 3 → fail
        out = self._rules(spark, [(1, "aa bb cc")],
                          min_words=1, min_stopwords=0)
        assert out[1]["word_chars"] == 6
        assert not out[1]["r_mean_word_len"]
        # mean exactly at the lower bound passes (>= is inclusive)
        out = self._rules(spark, [(1, "aaa bbb ccc")],
                          min_words=1, min_stopwords=0)
        assert out[1]["r_mean_word_len"]

    def test_symbol_and_alpha_rules(self, spark):
        # 10 words, 2 symbols (# and ...) → ratio 0.2 > 0.1 → fail
        text = "the and of to a in is that it#for..."
        out = self._rules(spark, [(1, text)], min_words=1)
        assert out[1]["n_symbols"] == 2
        assert not out[1]["r_symbol_ratio"]
        # 5 words, 1 non-alpha ("123") → alpha frac 0.8 → pass at 0.80
        out = self._rules(spark, [(1, "the and of to 123")],
                          min_words=1)
        assert out[1]["n_alpha_words"] == 4
        assert out[1]["r_alpha_frac"]
        # 0.75 < 0.8 → fail
        out = self._rules(spark, [(1, "the and of 123")], min_words=1)
        assert not out[1]["r_alpha_frac"]

    def test_stopword_rule(self, spark):
        out = self._rules(spark, [(1, "zebra quagga okapi")],
                          min_words=1)
        assert out[1]["stop_hits"] == 0 and not out[1]["r_stopwords"]

    def test_threshold_validation(self, spark):
        from db2pq_spark.operators.filtering import gopher_rules

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="multiple of 0.01"):
            gopher_rules(df, "text", "doc_id", max_symbol_ratio=0.123)
        # a fractional count bound is rejected, not truncated
        with pytest.raises(ValueError, match="whole numbers"):
            gopher_rules(df, "text", "doc_id", min_mean_word_len=3.5)
        gopher_rules(df, "text", "doc_id", min_words=50.0)  # whole: fine


class TestLineFilter:
    def _lf(self, spark, text, **kw):
        from db2pq_spark.operators.filtering import line_filter

        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return line_filter(df, "text", "doc_id", **kw).collect()[0]

    def test_min_words_and_reassembly(self, spark):
        r = self._lf(spark, "one two three\nshort\nfour five six seven")
        assert (r["n_lines"], r["n_kept"]) == (3, 2)
        assert r["text_kept"] == "one two three\nfour five six seven"
        assert r["kept_doc"]

    def test_blocklist_case_insensitive(self, spark):
        r = self._lf(spark, "enable JavaScript to view\ngood line here",
                     blocklist=("javascript",))
        assert r["n_kept"] == 1
        assert r["text_kept"] == "good line here"

    def test_terminal_punct_and_doc_drop(self, spark):
        r = self._lf(spark, "no punctuation line\nthis one ends well.",
                     require_terminal_punct=True, keep_min_lines=2)
        assert r["n_kept"] == 1
        assert not r["kept_doc"]

    def test_blocklist_terms_are_literal(self, spark):
        # regex metacharacters in a term must not change semantics
        r = self._lf(spark, "price is $9.99 today\nplain line kept",
                     blocklist=("$9.99",))
        assert r["n_kept"] == 1


class TestCharEntropy:
    def test_known_values(self, spark):
        from db2pq_spark.operators.filtering import char_entropy

        df = spark.createDataFrame(
            [(1, "aaaa"), (2, "abab"), (3, "abcd")],
            "doc_id long, text string")
        out = {r["id"]: r for r in
               char_entropy(df, "text", "doc_id").collect()}
        assert out[1]["entropy"] == pytest.approx(0.0, abs=1e-6)
        assert out[2]["entropy"] == pytest.approx(1.0, abs=1e-6)
        assert out[3]["entropy"] == pytest.approx(2.0, abs=1e-6)
        assert out[3]["n_chars"] == 4

    def test_arrow_impl_matches_expr_exactly(self, spark, sf_dir):
        from db2pq_spark.operators.filtering import char_entropy

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        expr = {r["id"]: (r["n_chars"], r["sum_clog2c"]) for r in
                char_entropy(docs, "text", "doc_id").collect()}
        arrow = {r["id"]: (r["n_chars"], r["sum_clog2c"]) for r in
                 char_entropy(docs, "text", "doc_id",
                              impl="arrow").collect()}
        # bit-for-bit on the decimal-accumulated value, not approx
        assert arrow == expr

    def test_arrow_skips_empty_and_null(self, spark):
        from db2pq_spark.operators.filtering import char_entropy

        df = spark.createDataFrame([(1, "ab"), (2, ""), (3, None)],
                                   "doc_id long, text string")
        out = char_entropy(df, "text", "doc_id", impl="arrow").collect()
        assert [r["id"] for r in out] == [1]

    def test_impl_validation(self, spark):
        from db2pq_spark.operators.filtering import char_entropy

        df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
        with pytest.raises(ValueError, match="unknown impl"):
            char_entropy(df, "text", "doc_id", impl="pandas")
        with pytest.raises(ValueError, match="round_digits"):
            char_entropy(df, "text", "doc_id", round_digits=8,
                         impl="arrow")

    def test_matches_python_entropy(self, spark):
        from collections import Counter

        from db2pq_spark.operators.filtering import char_entropy

        text = "the quick brown fox jumps over the lazy dog"
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = char_entropy(df, "text", "doc_id").collect()[0]
        n = len(text)
        want = math.log2(n) - sum(
            round(c * math.log2(c), 6) for c in Counter(text).values()) / n
        assert r["entropy"] == pytest.approx(want, abs=1e-9)


class TestEditConfirm:
    def test_confirm_and_reject(self, spark):
        from db2pq_spark.operators.filtering import edit_confirm

        docs = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "the quick brown fax"),
             (3, "completely different words")],
            "doc_id long, text string")
        pairs = spark.createDataFrame([(1, 2), (1, 3)], "id1 long, id2 long")
        out = {(r["id1"], r["id2"]): r for r in
               edit_confirm(docs, pairs, "text", "doc_id",
                            min_sim=0.9).collect()}
        assert out[(1, 2)]["dist"] == 1 and out[(1, 2)]["confirmed"]
        assert not out[(1, 3)]["confirmed"]

    def test_boundary_is_inclusive_integer_exact(self, spark):
        from db2pq_spark.operators.filtering import edit_confirm

        # len 10 vs dist 2 → sim exactly 0.8: confirmed at 0.80
        docs = spark.createDataFrame(
            [(1, "abcdefghij"), (2, "abcdefghxy")],
            "doc_id long, text string")
        pairs = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
        r = edit_confirm(docs, pairs, "text", "doc_id",
                         min_sim=0.8).collect()[0]
        assert r["dist"] == 2 and r["confirmed"]
        r = edit_confirm(docs, pairs, "text", "doc_id",
                         min_sim=0.81).collect()[0]
        assert not r["confirmed"]

    def test_max_len_prefix(self, spark):
        from db2pq_spark.operators.filtering import edit_confirm

        docs = spark.createDataFrame(
            [(1, "same prefix then AAAA"), (2, "same prefix then BBBB")],
            "doc_id long, text string")
        pairs = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
        r = edit_confirm(docs, pairs, "text", "doc_id",
                         max_len=11).collect()[0]
        assert r["dist"] == 0 and r["len1"] == 11

    def test_confirmed_only_matches_full_filtered(self, spark):
        # the production scale path (length-gap prune + banded
        # levenshtein) must be row- and value-identical to the
        # audit-everything default filtered on confirmed — on the
        # real corpus fixture, where gap-pruned, band-overrun and
        # confirmed pairs all occur
        from db2pq_spark.operators.filtering import (
            blocked_pairs, edit_confirm)
        from tests.conftest import SF_SMOKE

        base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        # the fixture corpus has no confirmed pairs under this
        # blocking — clone a few documents with 1-char edits (same
        # source, same length bucket) so confirmed, band-overrun and
        # gap-pruned pairs all occur
        clones = (base.orderBy("doc_id").limit(5)
                  .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                          F.concat(F.substring("text", 1, 100),
                                   F.lit("x"),
                                   F.expr("substring(text, 102)"))
                          .alias("text"),
                          *[c for c in base.columns
                            if c not in ("doc_id", "text")]))
        docs = base.unionByName(clones) \
            .withColumn("_bkt", F.floor(F.col("n_chars") / F.lit(8)))
        pairs = blocked_pairs(docs, "doc_id", ["source", "_bkt"])
        full = edit_confirm(docs, pairs, "text", "doc_id",
                            min_sim=0.75, max_len=160)
        fast = edit_confirm(docs, pairs, "text", "doc_id",
                            min_sim=0.75, max_len=160,
                            confirmed_only=True)
        key = ["id1", "id2"]
        want = sorted(
            full.where("confirmed").collect(),
            key=lambda r: tuple(r[k] for k in key))
        got = sorted(fast.collect(),
                     key=lambda r: tuple(r[k] for k in key))
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        assert len(got) > 0  # fixture must actually exercise the path

    def test_confirmed_only_gap_prune_never_drops_confirmable(
            self, spark):
        from db2pq_spark.operators.filtering import edit_confirm

        # gap 5 on maxlen 10 → best-case sim 0.5 < 0.75: pruned; the
        # zero-gap rewrite at the same length confirms through the
        # banded form with an exact distance
        docs = spark.createDataFrame(
            [(1, "abcdefghij"), (2, "abcde"), (3, "abcdefghxy")],
            "doc_id long, text string")
        pairs = spark.createDataFrame([(1, 2), (1, 3)],
                                      "id1 long, id2 long")
        out = {(r["id1"], r["id2"]): r for r in
               edit_confirm(docs, pairs, "text", "doc_id",
                            min_sim=0.75, max_len=160,
                            confirmed_only=True).collect()}
        assert (1, 2) not in out
        assert out[(1, 3)]["dist"] == 2 and out[(1, 3)]["confirmed"]

    def test_blocked_pairs(self, spark):
        from db2pq_spark.operators.filtering import blocked_pairs

        df = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "a"), (4, "b")],
            "doc_id long, src string")
        got = {(r["id1"], r["id2"]) for r in
               blocked_pairs(df, "doc_id", ["src"]).collect()}
        assert got == {(1, 2), (1, 3), (2, 3)}


class TestCapPerGroup:
    def test_keeps_n_best_deterministic(self, spark):
        from db2pq_spark.operators.filtering import cap_per_group

        rows = [(1, "a", 0.9), (2, "a", 0.9), (3, "a", 0.5),
                (4, "b", 0.1)]
        df = spark.createDataFrame(rows, "doc_id long, src string, q double")
        out = cap_per_group(df, "src", "q", "doc_id", 2).collect()
        got = {(r["src"], r["doc_id"], r["cap_rank"]) for r in out}
        # tie on q=0.9 broken by lower id first
        assert got == {("a", 1, 1), ("a", 2, 2), ("b", 4, 1)}

    def test_n_validation(self, spark):
        from db2pq_spark.operators.filtering import cap_per_group

        df = spark.createDataFrame([(1, "a", 0.1)],
                                   "doc_id long, src string, q double")
        with pytest.raises(ValueError, match="must be >= 1"):
            cap_per_group(df, "src", "q", "doc_id", 0)


class TestVocabCoverage:
    def test_coverage_semantics(self, spark):
        from db2pq_spark.operators.vocab import vocab_coverage

        # freq: a=5, b=3, c=1, d=1 → total 10. 70%: keep a (cum 0),
        # b (cum 5 < 7); c has cum_before 8 ≥ 7 → cut. Ties c/d by token.
        df = spark.createDataFrame(
            [(1, "a a a a a b b b c d")], "doc_id long, text string")
        out = {r["token"]: r for r in
               vocab_coverage(df, "text", coverage_pct=70).collect()}
        assert out["a"]["kept"] and out["b"]["kept"]
        assert not out["c"]["kept"] and not out["d"]["kept"]
        assert out["a"]["rank"] == 1 and out["b"]["cum_before"] == 5
        assert out["c"]["rank"] == 3 and out["d"]["rank"] == 4
        assert out["d"]["total"] == 10

    def test_full_coverage_keeps_all(self, spark):
        from db2pq_spark.operators.vocab import vocab_coverage

        df = spark.createDataFrame([(1, "x y z")],
                                   "doc_id long, text string")
        rows = vocab_coverage(df, "text", coverage_pct=100).collect()
        assert all(r["kept"] for r in rows)

    def test_pct_validation(self, spark):
        from db2pq_spark.operators.vocab import vocab_coverage

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="coverage_pct"):
            vocab_coverage(df, "text", coverage_pct=0)


class TestCorruptionSpans:
    def test_spans_respect_blocks_and_length(self, spark):
        from db2pq_spark.operators.chunking import corruption_spans

        text = " ".join(f"w{i}" for i in range(60))
        df = spark.createDataFrame([(1, text), (2, text)],
                                   "doc_id long, text string")
        out = corruption_spans(df, "text", "doc_id",
                               block=12, span_len=2, rate=5).collect()
        assert out, "expected at least one span at these defaults"
        for r in out:
            blk_lo, blk_hi = r["blk"] * 12, (r["blk"] + 1) * 12
            assert blk_lo <= r["start_pos"] < blk_hi
            assert 1 <= r["n_masked"] <= 2
            assert r["start_pos"] + r["n_masked"] <= blk_hi
            assert len(r["masked_text"].split(" ")) == r["n_masked"]
        # at most one span per (id, blk)
        keys = [(r["id"], r["blk"]) for r in out]
        assert len(keys) == len(set(keys))

    def test_deterministic_and_salted(self, spark):
        from db2pq_spark.operators.chunking import corruption_spans

        text = " ".join(f"w{i}" for i in range(60))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        a = {(r["id"], r["blk"], r["start_pos"]) for r in
             corruption_spans(df, "text", "doc_id").collect()}
        b = {(r["id"], r["blk"], r["start_pos"]) for r in
             corruption_spans(df, "text", "doc_id").collect()}
        assert a == b
        c = {(r["id"], r["blk"], r["start_pos"]) for r in
             corruption_spans(df, "text", "doc_id", salt="ul2").collect()}
        assert a != c  # different salt → different mask plan

    def test_mask_fraction_near_t5_regime(self, spark):
        from db2pq_spark.operators.chunking import corruption_spans

        import pyspark.sql.functions as F

        docs = spark.createDataFrame(
            [(i, " ".join(f"t{i}_{j}" for j in range(120)))
             for i in range(50)], "doc_id long, text string")
        masked = corruption_spans(docs, "text", "doc_id") \
            .agg(F.sum("n_masked")).collect()[0][0]
        frac = masked / (50 * 120)
        assert 0.08 < frac < 0.25  # ~15% expected at defaults

    def test_param_validation(self, spark):
        from db2pq_spark.operators.chunking import corruption_spans

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="span_len"):
            corruption_spans(df, "text", "doc_id", block=4, span_len=5)


class TestRemoveRepeatedLines:
    DOCS = [
        (1, "unique opening line\nSubscribe to our newsletter\nbody one"),
        (2, "Subscribe to our newsletter\nbody two stays here"),
        (3, "subscribe   to our newsletter\nbody three"),
        (4, "Subscribe to our newsletter"),
        (5, None),
    ]

    def _run(self, spark, docs=None, **kw):
        from db2pq_spark.operators.filtering import remove_repeated_lines

        df = spark.createDataFrame(docs or self.DOCS,
                                   "doc_id long, text string")
        out = remove_repeated_lines(df, "text", "doc_id", **kw)
        return {r["id"]: r for r in out.collect()}

    def test_corpus_repeated_line_removed_everywhere(self, spark):
        # the banner recurs in docs 1-4 (doc 3 only via normalization)
        rows = self._run(spark)
        assert (rows[1]["n_lines"], rows[1]["n_kept"]) == (3, 2)
        assert rows[1]["text_kept"] == "unique opening line\nbody one"
        assert rows[2]["text_kept"] == "body two stays here"
        # normalization: case + whitespace-collapse still matches,
        # but the ORIGINAL line text is what reassembly preserves
        assert rows[3]["text_kept"] == "body three"
        # a doc that was ALL boilerplate survives, empty
        assert (rows[4]["n_kept"], rows[4]["text_kept"]) == (0, "")

    def test_null_text_is_empty_doc(self, spark):
        rows = self._run(spark)
        # null -> one empty line; it is corpus-unique here so it stays
        assert (rows[5]["n_lines"], rows[5]["n_kept"]) == (1, 1)
        assert rows[5]["text_kept"] == ""

    def test_max_occurrences_threshold(self, spark):
        # banner occurs 4x: allowed at max_occurrences=4, gone at 3
        rows = self._run(spark, max_occurrences=4)
        assert rows[4]["n_kept"] == 1
        rows = self._run(spark, max_occurrences=3)
        assert rows[4]["n_kept"] == 0

    def test_no_normalize_is_exact_match(self, spark):
        rows = self._run(spark, normalize=False)
        # doc 3's spacing variant no longer matches the banner...
        assert rows[3]["n_kept"] == 2
        # ...but the exact-equal copies in docs 1/2/4 still go
        assert rows[4]["n_kept"] == 0

    def test_text_key_matches_hash_key(self, spark):
        a = self._run(spark, line_key="xxhash64")
        b = self._run(spark, line_key="text")
        assert {k: (v["n_kept"], v["text_kept"]) for k, v in a.items()} \
            == {k: (v["n_kept"], v["text_kept"]) for k, v in b.items()}

    def test_same_doc_repeats_count(self, spark):
        docs = [(1, "echo line\necho line\nmiddle part"),
                (2, "other body")]
        rows = self._run(spark, docs=docs)
        # two occurrences inside ONE doc already exceed max=1
        assert rows[1]["text_kept"] == "middle part"
        assert rows[1]["n_kept"] == 1

    def test_order_preserved_after_removal(self, spark):
        docs = [(1, "a1 first\ndup here\na2 second\ndup here\na3 third"),
                (2, "solo body")]
        rows = self._run(spark, docs=docs)
        assert rows[1]["text_kept"] == "a1 first\na2 second\na3 third"

    def test_param_validation(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="max_occurrences"):
            self._run(spark, max_occurrences=0)
        with _pytest.raises(ValueError, match="line_key"):
            self._run(spark, line_key="md5")


class TestRemoveRepeatedLinesIncremental:
    CORPUS = [
        (10, "Subscribe to our newsletter\nold body alpha"),
        (11, "Subscribe to our newsletter\nold body beta"),
        (12, "rare corpus line\nold body gamma"),
    ]
    BATCH = [
        (1, "Subscribe to our newsletter\nfresh body one"),
        (2, "rare corpus line\nfresh body two"),
        (3, "batch echo\nbatch echo\nfresh body three"),
        (4, "fresh body four only"),
    ]

    def _state(self, spark, **kw):
        from db2pq_spark.operators.filtering import repeated_line_counts

        corpus = spark.createDataFrame(self.CORPUS,
                                       "doc_id long, text string")
        return repeated_line_counts(corpus, "text", **kw)

    def _run(self, spark, state=None, **kw):
        from db2pq_spark.operators.filtering import (
            remove_repeated_lines_incremental,
        )

        batch = spark.createDataFrame(self.BATCH,
                                      "doc_id long, text string")
        out = remove_repeated_lines_incremental(
            batch, state if state is not None else self._state(spark),
            "text", "doc_id", **kw)
        return {r["id"]: r for r in out.collect()}

    def test_prior_counts_plus_batch_counts_decide(self, spark):
        rows = self._run(spark)
        # banner: 2 prior + 1 batch > 1 -> dropped
        assert rows[1]["text_kept"] == "fresh body one"
        # 'rare corpus line': 1 prior + 1 batch = 2 > 1 -> dropped
        assert rows[2]["text_kept"] == "fresh body two"
        # batch-internal repeat alone exceeds the cap
        assert rows[3]["text_kept"] == "fresh body three"
        assert (rows[3]["n_lines"], rows[3]["n_kept"]) == (3, 1)
        # corpus-unseen, batch-unique -> untouched
        assert rows[4]["text_kept"] == "fresh body four only"

    def test_max_occurrences_sums_both_sides(self, spark):
        rows = self._run(spark, max_occurrences=2)
        # banner total 3 > 2 -> still dropped
        assert rows[1]["text_kept"] == "fresh body one"
        # 'rare corpus line' total 2 <= 2 -> kept now
        assert rows[2]["n_kept"] == 2

    def test_state_counts_and_stamp(self, spark):
        state = {r["line_hash"]: r for r in
                 self._state(spark, line_key="text").collect()}
        assert state["subscribe to our newsletter"]["n_occ"] == 2
        assert state["rare corpus line"]["n_occ"] == 1
        assert {r["_lk_repr"] for r in state.values()} \
            == {"text|norm=2"}

    def test_stamp_mismatch_raises(self, spark):
        import pytest as _pytest

        state = self._state(spark, line_key="text")
        with _pytest.raises(ValueError, match="_lk_repr"):
            self._run(spark, state=state, line_key="xxhash64")
        with _pytest.raises(ValueError, match="_lk_repr"):
            self._run(spark, state=state.drop("_lk_repr"),
                      line_key="text")
        with _pytest.raises(ValueError, match="normali"):
            self._run(spark, state=state, line_key="text",
                      normalize=False)

    def test_hash_state_matches_text_state(self, spark):
        a = self._run(spark, state=self._state(spark),
                      line_key="xxhash64")
        b = self._run(spark, state=self._state(spark, line_key="text"),
                      line_key="text")
        assert {k: (v["n_kept"], v["text_kept"]) for k, v in a.items()} \
            == {k: (v["n_kept"], v["text_kept"]) for k, v in b.items()}
