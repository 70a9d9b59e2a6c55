"""Extension-operator semantics tests on constructed micro-data —
known duplicates, known neighbors, known as-of matches."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from db2pq_spark.operators.asof import asof_join
from db2pq_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_dedup,
    word_shingles,
)
from db2pq_spark.operators.multimodal import binarize, decode_stub, extract_features
from db2pq_spark.operators.similarity import cosine_topk, embedding_neardup_pairs
from db2pq_spark.operators.textstats import text_profile

BASE = ("spark reads parquet files and runs distributed queries over "
        "partitioned data with catalyst optimizing every stage")
NEAR = ("spark reads parquet files and runs distributed queries over "
        "partitioned data with catalyst optimizing each stage")
OTHER = "completely different content about cooking pasta with tomato sauce"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "en"),
        (2, BASE, "en"),          # exact duplicate of 1
        (3, NEAR, "en"),          # near duplicate of 1
        (4, OTHER, "en"),
        (5, "  SPARK reads   parquet files and runs distributed queries over "
            "partitioned data with catalyst optimizing every stage ", "en"),
        # ^ same as 1 after normalization
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


class TestExactDedup:
    def test_groups(self, docs):
        out = {r["keep_id"]: r["n_dups"] for r in
               exact_dedup(docs, "text", "doc_id").collect()}
        assert out[1] == 3      # 1, 2, 5 normalize identically
        assert out[3] == 1 and out[4] == 1


class TestMinhash:
    def test_finds_near_and_exact_dups(self, docs):
        pairs = {(r["id1"], r["id2"])
                 for r in minhash_dedup(docs, "text", "doc_id",
                                        threshold=0.5).collect()}
        assert (1, 2) in pairs and (1, 5) in pairs and (2, 5) in pairs
        assert (1, 3) in pairs  # near dup: one word differs
        assert not any(4 in p for p in pairs)

    def test_shingle_fallback_short_text(self, spark):
        df = spark.createDataFrame([(1, "hi there")], "id long, text string")
        [row] = df.select(word_shingles("text", 3).alias("s")).collect()
        assert row["s"] == ["hi there"]

    def test_shingles_of_a_column_named_like_the_lambda_variable(self, spark):
        df = spark.createDataFrame([(1, "a b c d")], "id long, i string")
        [row] = df.select(word_shingles("i", 3).alias("s")).collect()
        assert row["s"] == ["a b c", "b c d"]


class TestIncrementalDedup:
    def test_batch_probes_corpus(self, docs):
        from db2pq_spark.operators.dedup import minhash_dedup_incremental

        batch = docs.filter(F.col("doc_id").isin(1, 4))
        corpus = docs.filter(~F.col("doc_id").isin(1, 4))
        pairs = {(r["batch_id"], r["corpus_id"]): r["jaccard"]
                 for r in minhash_dedup_incremental(
                     batch, corpus, "text", "doc_id",
                     threshold=0.5).collect()}
        # doc 1's exact clones (2, 5) and near-dup (3) are in the corpus
        assert pairs[(1, 2)] == 1.0 and pairs[(1, 5)] == 1.0
        assert (1, 3) in pairs
        # doc 4 is unrelated — no corpus match, and corpus-corpus pairs
        # (e.g. 2-5) must NOT appear
        assert not any(b == 4 for b, _ in pairs)
        assert all(b in (1, 4) for b, _ in pairs)

    def test_exact_incremental_flags(self, docs):
        from db2pq_spark.operators.dedup import (
            exact_dedup_incremental,
            normalize_text,
        )

        batch = docs.filter(F.col("doc_id").isin(1, 4))
        corpus = docs.filter(~F.col("doc_id").isin(1, 4))
        flags = {r["id"]: r["is_duplicate"]
                 for r in exact_dedup_incremental(
                     batch, corpus, "text", "doc_id").collect()}
        # doc 1 has exact clones (2, 5) in the corpus; doc 4 is unique
        assert flags == {1: True, 4: False}
        # precomputed hash-set path gives identical answers
        h = corpus.select(
            F.md5(F.encode(normalize_text("text"), "UTF-8"))
            .alias("content_hash"))
        flags2 = {r["id"]: r["is_duplicate"]
                  for r in exact_dedup_incremental(
                      batch, h, "text", "doc_id").collect()}
        assert flags2 == flags

    def test_precomputed_corpus_signatures(self, docs):
        # production path: signatures persisted once, passed per batch
        from db2pq_spark.operators.dedup import (
            minhash_dedup_incremental,
            minhash_signatures,
        )

        batch = docs.filter(F.col("doc_id") == 1)
        corpus = docs.filter(F.col("doc_id") != 1)
        fresh = sorted(map(tuple, minhash_dedup_incremental(
            batch, corpus, "text", "doc_id", threshold=0.5).collect()))
        csig = minhash_signatures(corpus, "text", "doc_id")
        reused = sorted(map(tuple, minhash_dedup_incremental(
            batch, csig, "text", "doc_id", threshold=0.5).collect()))
        assert fresh == reused and fresh

    def test_mismatched_precomputed_signature_width_raises(self, docs):
        # signatures persisted with a different num_hashes would derive
        # band keys from mismatched slices — must fail loudly
        from db2pq_spark.operators.dedup import (
            minhash_dedup_incremental,
            minhash_signatures,
        )

        batch = docs.filter(F.col("doc_id") == 1)
        corpus = docs.filter(F.col("doc_id") != 1)
        csig32 = minhash_signatures(corpus, "text", "doc_id",
                                    num_hashes=32)
        with pytest.raises(ValueError, match="32 minhashes"):
            minhash_dedup_incremental(batch, csig32, "text", "doc_id",
                                      num_hashes=64)

    def test_legacy_non_arrow_impl_stamp_raises(self, docs):
        # corpora signed by the former pure-JVM kernel carry a
        # _sig_impl stamp other than "arrow"; their signatures share no
        # band keys with an arrow-signed batch — must fail loudly, not
        # silently report zero duplicates
        from db2pq_spark.operators.dedup import (
            minhash_dedup_incremental,
            minhash_signatures,
        )

        batch = docs.filter(F.col("doc_id") == 1)
        corpus = docs.filter(F.col("doc_id") != 1)
        csig = minhash_signatures(corpus, "text", "doc_id")
        assert "_sig_impl" not in csig.columns
        legacy = csig.withColumn(
            "_sig_impl",
            F.when(F.col("id") == 2, F.lit("fold")).otherwise("arrow"))
        with pytest.raises(ValueError, match="_sig_impl"):
            minhash_dedup_incremental(batch, legacy, "text", "doc_id")
        # an all-"arrow" legacy stamp is the current kernel: passes
        arrow_stamped = csig.withColumn("_sig_impl", F.lit("arrow"))
        assert minhash_dedup_incremental(
            batch, arrow_stamped, "text", "doc_id",
            threshold=0.5).count() > 0

    def test_unstamped_repr_under_hash_raises(self, docs):
        # pre-round-8 relations stored shingle STRINGS; probing them
        # under the round-8 default shingle_repr='hash' is guaranteed
        # to band-match nothing — must raise, not warn
        import warnings as _w

        from db2pq_spark.operators.dedup import (
            minhash_dedup_incremental,
            minhash_signatures,
        )

        batch = docs.filter(F.col("doc_id") == 1)
        corpus = docs.filter(F.col("doc_id") != 1)
        pre_r8 = minhash_signatures(
            corpus, "text", "doc_id", shingle_repr="text") \
            .drop("_sig_repr")
        with pytest.raises(ValueError, match="no _sig_repr"):
            minhash_dedup_incremental(batch, pre_r8, "text", "doc_id",
                                      shingle_repr="hash")
        # shingle_repr='text' matches what pre-round-8 corpora actually
        # stored: warns and proceeds
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            got = minhash_dedup_incremental(
                batch, pre_r8, "text", "doc_id", shingle_repr="text",
                threshold=0.5).count()
        assert any("_sig_repr" in str(c.message) for c in caught)
        assert got > 0

    def test_null_repr_stamp_warns(self, docs):
        # a corpus unioned with allowMissingColumns=True carries NULL
        # _sig_repr on the unstamped half — must warn
        import warnings as _w

        from db2pq_spark.operators.dedup import (
            minhash_dedup_incremental,
            minhash_signatures,
        )

        batch = docs.filter(F.col("doc_id") == 1)
        half_a = minhash_signatures(
            docs.filter(F.col("doc_id").isin(2, 3)), "text", "doc_id")
        half_b = minhash_signatures(
            docs.filter(~F.col("doc_id").isin(1, 2, 3)), "text",
            "doc_id").drop("_sig_repr")
        mixed = half_a.unionByName(half_b, allowMissingColumns=True)
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            minhash_dedup_incremental(batch, mixed, "text", "doc_id")
        assert any("NULL _sig_repr" in str(c.message) for c in caught)


class TestSimhash:
    def test_exact_dups_hamming_zero(self, docs):
        pairs = {(r["id1"], r["id2"]): r["hamming"]
                 for r in simhash_dedup(docs, "text", "doc_id",
                                        max_hamming=3).collect()}
        assert pairs[(1, 2)] == 0 and pairs[(1, 5)] == 0
        assert not any(4 in p for p in pairs)

    def test_md5_60_token_hash_portable(self, spark):
        # the portable hash must equal hashlib's md5 (and therefore any
        # engine's): first 15 hex chars as a 60-bit int — the q37 gate
        # oracle recomputes it in DuckDB
        from db2pq_spark.operators.dedup import _HASH_FAMILIES

        words = ["hello", "world", "a", "", "Ünïcode tøken"]
        df = spark.createDataFrame([(w,) for w in words], "w string")
        got = {r["w"]: r["h"]
               for r in df.selectExpr(
                   "w", _HASH_FAMILIES["md5_60"].format("w") + " AS h"
               ).collect()}
        for w in words:
            exp = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            assert got[w] == exp, w

    def test_md5_60_same_pairs_as_xxhash_for_exact_dups(self, docs):
        # exact duplicates sit at hamming 0 under ANY token hash
        pairs = {(r["id1"], r["id2"]): r["hamming"]
                 for r in simhash_dedup(docs, "text", "doc_id",
                                        max_hamming=3,
                                        token_hash="md5_60").collect()}
        assert pairs[(1, 2)] == 0 and pairs[(1, 5)] == 0
        assert not any(4 in p for p in pairs)
        with pytest.raises(ValueError):
            simhash_dedup(docs, "text", "doc_id",
                          token_hash="nonsense").collect()

    def test_wider_chunks_widen_recall(self, docs):
        # (1,3) sits at hamming 10 — outside the 4-chunk guarantee but
        # inside the 16-chunk one (hamming < num_chunks)
        pairs = {(r["id1"], r["id2"]): r["hamming"]
                 for r in simhash_dedup(docs, "text", "doc_id",
                                        max_hamming=10,
                                        num_chunks=16).collect()}
        assert (1, 3) in pairs and pairs[(1, 3)] <= 10
        assert not any(4 in p for p in pairs)

    def test_arrow_kernel_bit_identical_to_expr(self, docs):
        """Round 11: the Arrow vote/pack kernel (new default — the
        interpreted 64-wide zip_with fold was the q37 variance root
        cause) consumes the same JVM token hashes, so SIGNATURES must
        be bit-identical, per token-hash family."""
        from db2pq_spark.operators.dedup import simhash

        for fam in ("xxhash64", "md5_60"):
            a = {r["id"]: r["simhash"] for r in
                 simhash(docs, "text", "doc_id", token_hash=fam,
                         impl="arrow").collect()}
            e = {r["id"]: r["simhash"] for r in
                 simhash(docs, "text", "doc_id", token_hash=fam,
                         impl="expr").collect()}
            assert a == e, fam
        with pytest.raises(ValueError, match="impl"):
            simhash(docs, "text", "doc_id", impl="nonsense")


class TestNgramJaccard:
    def test_exact_pair_is_one(self, docs):
        rows = {(r["id1"], r["id2"]): r["jaccard"]
                for r in ngram_jaccard_pairs(docs, "text", "doc_id",
                                             block_col="lang",
                                             threshold=0.5).collect()}
        assert rows[(1, 2)] == 1.0
        assert 0.5 <= rows[(1, 3)] < 1.0


class TestCosine:
    def test_identical_vector_ranks_first(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0]),   # nearly identical to 1
            (3, [0.0, 1.0, 0.0]),     # orthogonal
            (4, [-1.0, 0.0, 0.0]),    # opposite
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = cosine_topk(df, df.filter("vec_id = 1"), k=3)
        got = [(r["neighbor_id"], r["rank"]) for r in
               out.orderBy("rank").collect()]
        assert got[0] == (2, 1) and got[1] == (3, 2) and got[2] == (4, 3)

    def test_neardup_pairs_find_clones(self, spark):
        rows = [(i, [float(i == j) for j in range(8)]) for i in range(6)]
        rows.append((99, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))  # clone of 0
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = {(r["id1"], r["id2"]) for r in
                 embedding_neardup_pairs(df, threshold=0.99, dim=8).collect()}
        assert (0, 99) in pairs


class TestAsof:
    def test_backward_inclusive(self, spark):
        left = spark.createDataFrame(
            [(1, 10, 100), (2, 10, 205), (3, 10, 50), (4, 20, 100)],
            "event_id long, user_id long, ts_us long")
        right = spark.createDataFrame(
            [(10, 100), (10, 200), (30, 1)], "user_id long, ts_us long")
        out = {r["event_id"]: r["ts_us_asof"] for r in
               asof_join(left, right, "user_id", "ts_us", "ts_us",
                         ["ts_us"]).collect()}
        assert out[1] == 100   # inclusive: match at exactly t
        assert out[2] == 200   # latest before 205
        assert out[3] is None  # nothing at or before 50
        assert out[4] is None  # user 20 has no signup


class TestMultimodal:
    def test_features_match_hashlib(self, docs):
        feats = {r["doc_id"]: r for r in
                 extract_features(binarize(docs, "text", "doc_id")).collect()}
        assert feats[1]["sha256"] == hashlib.sha256(BASE.encode()).hexdigest()
        assert feats[1]["n_bytes"] == len(BASE.encode())
        assert feats[1]["head_byte"] == BASE.encode()[0]

    def test_decode_is_stubbed(self, docs):
        with pytest.raises(NotImplementedError):
            decode_stub(docs)

    def test_resize_stride_samples(self, docs):
        from db2pq_spark.operators.multimodal import resize

        out = {r["doc_id"]: r for r in
               resize(binarize(docs, "text", "doc_id"), 16).collect()}
        raw = BASE.encode()
        expect = bytes(raw[i * len(raw) // 16] for i in range(16)) \
            if len(raw) > 16 else raw
        assert bytes(out[1]["resized"]) == expect
        assert out[1]["out_bytes"] == min(16, len(raw))
        # every long payload lands at exactly the target size
        assert all(r["out_bytes"] <= 16 for r in out.values())

    def test_frame_sample_fanout(self, docs):
        import math

        from db2pq_spark.operators.multimodal import frame_sample

        rows = [r for r in
                frame_sample(binarize(docs, "text", "doc_id"),
                             frame_bytes=8, stride=2).collect()
                if r["doc_id"] == 1]
        raw = BASE.encode()
        n_frames = math.ceil(len(raw) / 8)
        assert [r["frame_idx"] for r in rows] == list(range(0, n_frames, 2))
        first = raw[0:8]
        assert rows[0]["frame_md5"] == hashlib.md5(first).hexdigest()
        assert rows[0]["frame_bytes"] == len(first)


class TestNullAndEmptyText:
    """Fixtures carry no NULL/empty text but real corpora do — the
    operators must not crash or mis-pair on them."""

    @pytest.fixture(scope="class")
    def dirty(self, spark):
        rows = [(1, BASE, "en"), (2, None, "en"), (3, "", "en"),
                (4, "   ", "en"), (5, BASE, "en")]
        return spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def test_exact_dedup_handles_nulls(self, dirty):
        out = {r["keep_id"]: r["n_dups"] for r in
               exact_dedup(dirty, "text", "doc_id").collect()}
        assert out[1] == 2           # 1 and 5
        # empty and whitespace-only normalize alike; null hashes to null
        assert sum(out.values()) == 5

    def test_minhash_pairs_only_real_dups(self, dirty):
        pairs = {(r["id1"], r["id2"]) for r in
                 minhash_dedup(dirty, "text", "doc_id", threshold=0.5).collect()}
        assert (1, 5) in pairs
        assert all(p[0] not in (2, 3, 4) and p[1] not in (2,)
                   for p in pairs), pairs

    def test_text_profile_no_crash(self, dirty):
        rows = {r["doc_id"]: r for r in
                text_profile(dirty, "text", "doc_id").collect()}
        assert rows[3]["n_tokens"] in (0, 1)  # split('') edge
        assert rows[3]["quality"] is not None
        assert rows[2]["lang_pred"] is None or rows[2]["lang_pred"] == "und"


class TestTextProfile:
    def test_counts_and_lang(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat and the dog, in the house."),
             (2, "der hund und die katze ist von den zu ein mit"),
             (3, "xyzzy plugh")],
            "doc_id long, text string")
        rows = {r["doc_id"]: r for r in
                text_profile(df, "text", "doc_id").collect()}
        assert rows[1]["n_tokens"] == 8
        assert rows[1]["lang_pred"] == "en"
        assert rows[2]["lang_pred"] == "de"
        assert rows[3]["lang_pred"] == "und"
        assert rows[1]["punct_ratio"] > 0


class TestConnectedComponents:
    """Connected components on constructed graphs — every topology runs
    through BOTH the driver union-find fast path (the small-graph
    default) and the distributed hash-min iteration
    (``small_graph_edges=0``), which must agree label-for-label."""

    def _cc(self, spark, edges, distributed=False, **kw):
        from db2pq_spark.operators.components import connected_components

        if distributed:
            kw["small_graph_edges"] = 0
        df = spark.createDataFrame(edges, ["id1", "id2"])
        out = connected_components(df, **kw)
        return {r["id"]: r["comp"] for r in out.collect()}

    @pytest.mark.parametrize("distributed", [False, True])
    def test_chain_floods_to_min(self, spark, distributed):
        # 1-2-3-4-5 chain: every node must reach label 1 (multi-hop)
        got = self._cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)],
                       distributed)
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}

    @pytest.mark.parametrize("distributed", [False, True])
    def test_two_components_stay_separate(self, spark, distributed):
        got = self._cc(spark, [(1, 2), (2, 3), (10, 11), (12, 11)],
                       distributed)
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}

    @pytest.mark.parametrize("distributed", [False, True])
    def test_direction_and_duplicates_irrelevant(self, spark,
                                                 distributed):
        got = self._cc(spark, [(2, 1), (1, 2), (3, 2), (2, 3)],
                       distributed)
        assert got == {1: 1, 2: 1, 3: 1}

    @pytest.mark.parametrize("distributed", [False, True])
    def test_cycle(self, spark, distributed):
        got = self._cc(spark, [(1, 2), (2, 3), (3, 1)], distributed)
        assert got == {1: 1, 2: 1, 3: 1}

    def test_max_iterations_bounds_rounds(self, spark):
        # a long chain with only 2 DISTRIBUTED rounds: labels can't
        # fully flood, but the result is still a refinement (every
        # label ≤ own id); the fast path always floods fully
        edges = [(i, i + 1) for i in range(1, 12)]
        got = self._cc(spark, edges, distributed=True, max_iterations=2)
        assert all(comp <= node for node, comp in got.items())
        full = self._cc(spark, edges, distributed=True)
        assert set(full.values()) == {1}

    def test_paths_agree_on_random_graph(self, spark):
        import random

        rng = random.Random(6)
        edges = [(rng.randrange(200), rng.randrange(200))
                 for _ in range(150)]
        edges = [(a, b) for a, b in edges if a != b]
        fast = self._cc(spark, edges)
        slow = self._cc(spark, edges, distributed=True)
        assert fast == slow

    def test_string_ids_supported_on_fast_path(self, spark):
        got = self._cc(spark, [("b", "a"), ("b", "c"), ("x", "y")])
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


class TestChunkingPacking:
    def test_chunk_windows_cover_and_overlap(self, spark):
        from db2pq_spark.operators.chunking import chunk_documents

        text = "abcdefghij" * 20  # 200 chars
        df = spark.createDataFrame([(1, text), (2, "short"), (3, None)],
                                   ["doc_id", "text"])
        out = chunk_documents(df, "text", "doc_id",
                              chunk_chars=100, overlap=20).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r["id"], []).append(r)
        # doc 1: stride 80 → ceil((200-20)/80) = 3 chunks
        c1 = sorted(by_id[1], key=lambda r: r["chunk_idx"])
        assert [r["chunk_idx"] for r in c1] == [0, 1, 2]
        assert c1[0]["chunk_text"] == text[0:100]
        assert c1[1]["chunk_text"] == text[80:180]
        assert c1[2]["chunk_text"] == text[160:200]  # final reaches the end
        # consecutive chunks share the 20-char overlap
        assert c1[0]["chunk_text"][-20:] == c1[1]["chunk_text"][:20]
        # short doc → single whole-doc chunk; NULL docs dropped
        assert len(by_id[2]) == 1 and by_id[2][0]["chunk_text"] == "short"
        assert 3 not in by_id

    def test_chunk_rejects_bad_overlap(self, spark):
        from db2pq_spark.operators.chunking import chunk_documents

        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            chunk_documents(df, "text", "doc_id", chunk_chars=10, overlap=10)

    def test_pack_next_fit_never_straddles(self, spark):
        from db2pq_spark.operators.chunking import pack_next_fit

        rows = [("en", i, s) for i, s in
                enumerate([40, 40, 30, 90, 10, 10, 95, 200, 5])]
        df = spark.createDataFrame(rows, ["lang", "seq", "size"])
        out = pack_next_fit(df, "size", "seq", budget=100,
                            group_col="lang").collect()
        bins = {}
        for r in sorted(out, key=lambda r: r["seq"]):
            bins.setdefault(r["bin"], []).append(r["size"])
        # greedy walk: [40,40] (80+30 overflows) → [30] (30+90 overflows)
        # → [90,10] (exactly full) → [10] (10+95 overflows) → [95] →
        # [200] (oversized singleton) → [5]
        assert bins == {0: [40, 40], 1: [30], 2: [90, 10], 3: [10],
                        4: [95], 5: [200], 6: [5]}
        # no bin except oversized singletons exceeds the budget
        for b, sizes in bins.items():
            assert sum(sizes) <= 100 or len(sizes) == 1

    def test_pack_next_fit_groups_are_independent(self, spark):
        from db2pq_spark.operators.chunking import pack_next_fit

        rows = [("en", 1, 60), ("en", 2, 60), ("de", 1, 60), ("de", 2, 30)]
        df = spark.createDataFrame(rows, ["lang", "seq", "size"])
        out = pack_next_fit(df, "size", "seq", budget=100, group_col="lang")
        got = {(r["lang"], r["seq"]): r["bin"] for r in out.collect()}
        assert got == {("en", 1): 0, ("en", 2): 1,
                       ("de", 1): 0, ("de", 2): 0}

    def test_pack_offsets_matches_manual_cumsum(self, spark):
        from db2pq_spark.operators.chunking import pack_offsets

        rows = [("en", i, 50) for i in range(10)]
        df = spark.createDataFrame(rows, ["lang", "seq", "size"])
        out = pack_offsets(df, "size", "seq", budget=120, group_col="lang")
        got = {r["seq"]: r["bin"] for r in out.collect()}
        # offsets 0,50,...,450 → floor(offset/120)
        assert got == {i: (i * 50) // 120 for i in range(10)}


class TestMapInArrow:
    def test_arrow_path_matches_pandas_path(self, spark, sf_dir):
        from db2pq_spark.operators.multimodal import (
            binarize,
            extract_features,
            extract_features_arrow,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        blobs = binarize(docs, "text", "doc_id")
        a = {r["doc_id"]: (r["n_bytes"], r["sha256"], r["head_byte"])
             for r in extract_features_arrow(blobs).collect()}
        p = {r["doc_id"]: (r["n_bytes"], r["sha256"], r["head_byte"])
             for r in extract_features(blobs).collect()}
        assert a == p and len(a) > 0


class TestAsofForward:
    def test_forward_inclusive(self, spark):
        from db2pq_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, 100), (2, 10, 205), (3, 10, 50), (4, 20, 100)],
            "event_id long, user_id long, ts_us long")
        right = spark.createDataFrame(
            [(10, 100), (10, 200), (30, 1)], "user_id long, ts_us long")
        out = {r["event_id"]: r["ts_us_asof"] for r in
               asof_join(left, right, "user_id", "ts_us", "ts_us",
                         ["ts_us"], direction="forward").collect()}
        assert out[1] == 100   # inclusive: match at exactly t
        assert out[2] is None  # nothing at or after 205
        assert out[3] == 100   # earliest at-or-after 50
        assert out[4] is None  # user 20 has no signup

    def test_bad_direction_rejected(self, spark):
        from db2pq_spark.operators.asof import asof_join

        df = spark.createDataFrame([(1, 1)], "user_id long, ts_us long")
        with pytest.raises(ValueError):
            asof_join(df, df, "user_id", "ts_us", "ts_us", ["ts_us"],
                      direction="nearest")


class TestChunkReconstruction:
    def test_chunks_reconstruct_every_document(self, spark):
        """Invariant: chunk[0] + chunk[i][overlap:] re-concatenated must
        equal the original document, for every length class (empty,
        below/at/above chunk size, exact boundary multiples, unicode)."""
        import random

        from db2pq_spark.operators.chunking import chunk_documents

        rng = random.Random(7)
        alphabet = "abcdefg αβγ 北京 xyz"
        lengths = ([0, 1, 63, 64, 65, 99, 100, 101, 164, 180, 244, 500]
                   + [rng.randrange(0, 700) for _ in range(60)])
        docs = [(i, "".join(rng.choice(alphabet) for _ in range(n)))
                for i, n in enumerate(lengths)]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        out = chunk_documents(df, "text", "doc_id",
                              chunk_chars=100, overlap=20)
        by_id: dict[int, list] = {}
        for r in out.collect():
            by_id.setdefault(r["id"], []).append(r)
        for i, text in docs:
            chunks = [r["chunk_text"] for r in
                      sorted(by_id[i], key=lambda r: r["chunk_idx"])]
            rebuilt = chunks[0] + "".join(c[20:] for c in chunks[1:])
            assert rebuilt == text, f"doc {i} (len {len(text)})"


class TestRangeJoin:
    @pytest.fixture(scope="class")
    def pts_ivs(self, spark):
        pts = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate([0, 5, 10, 15, 23, 42, 99])],
            ["pt_id", "x"])
        ivs = spark.createDataFrame(
            [(100, 0.0, 10.0),      # catches 0,5,10
             (101, 9.0, 16.0),      # catches 10,15
             (102, 40.0, 45.0),     # catches 42
             (103, 50.0, 60.0)],    # empty
            ["iv_id", "lo", "hi"])
        return pts, ivs

    def test_matches_naive_join(self, spark, pts_ivs):
        from db2pq_spark.operators.rangejoin import range_join

        pts, ivs = pts_ivs
        naive = {(r["pt_id"], r["iv_id"]) for r in
                 pts.join(ivs, (pts.x >= ivs.lo) & (pts.x <= ivs.hi))
                 .collect()}
        for width in (1.0, 5.0, 7.0, 100.0):
            binned = {(r["pt_id"], r["iv_id"]) for r in
                      range_join(pts, ivs, "x", "lo", "hi",
                                 bin_width=width).collect()}
            assert binned == naive, f"width={width}"

    def test_no_duplicate_pairs(self, spark, pts_ivs):
        from db2pq_spark.operators.rangejoin import range_join

        pts, ivs = pts_ivs
        rows = range_join(pts, ivs, "x", "lo", "hi", bin_width=2.0) \
            .groupBy("pt_id", "iv_id").count().collect()
        assert all(r["count"] == 1 for r in rows)

    def test_left_join_preserves_points_once(self, spark, pts_ivs):
        from db2pq_spark.operators.rangejoin import range_join

        pts, ivs = pts_ivs
        out = range_join(pts, ivs.filter("iv_id = 103"), "x", "lo", "hi",
                         bin_width=3.0, how="left").collect()
        # no point matches iv 103 → every point survives exactly once
        assert sorted(r["pt_id"] for r in out) == [0, 1, 2, 3, 4, 5, 6]
        assert all(r["iv_id"] is None for r in out)

    def test_equi_key_composition(self, spark):
        from db2pq_spark.operators.rangejoin import range_join

        pts = spark.createDataFrame(
            [("a", 5.0, 1), ("b", 5.0, 2)], ["grp", "x", "pt_id"])
        ivs = spark.createDataFrame(
            [("a", 0.0, 10.0, 7)], ["grp", "lo", "hi", "iv_id"])
        got = range_join(pts, ivs, "x", "lo", "hi", bin_width=4.0,
                         on=["grp"]).collect()
        assert [(r["pt_id"], r["iv_id"]) for r in got] == [(1, 7)]
        assert "grp" in got[0].asDict()

    def test_ambiguous_columns_rejected(self, spark, pts_ivs):
        from db2pq_spark.operators.rangejoin import range_join

        pts, ivs = pts_ivs
        with pytest.raises(ValueError, match="ambiguous"):
            range_join(pts, pts.withColumnRenamed("pt_id", "iv_id"),
                       "x", "x", "x", bin_width=1.0)

    def test_plan_is_hash_join_not_nested_loop(self, spark, pts_ivs):
        from db2pq_spark.operators.rangejoin import range_join

        pts, ivs = pts_ivs
        df = range_join(pts, ivs, "x", "lo", "hi", bin_width=5.0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestValidate:
    @pytest.fixture(scope="class")
    def dirty(self, spark):
        return spark.createDataFrame(
            [(1, 10.0, "A", 100),
             (2, -5.0, "A", 100),          # range violation
             (3, 10.0, "Z", 101),          # accepted_values violation
             (None, 10.0, "A", 102),       # null id
             (5, 10.0, "A", 999),          # fk orphan
             (5, 10.0, "A", 100),          # duplicate id=5
             (6, None, None, 100)],        # nulls: range/accepted pass
            "id long, qty double, flag string, ref long")

    @pytest.fixture(scope="class")
    def dim(self, spark):
        return spark.createDataFrame(
            [(100,), (101,), (102,)], "key long")

    def test_counts_and_pass_flags(self, spark, dirty, dim):
        from db2pq_spark.operators.validate import (
            accepted_values, foreign_key, in_range, not_null, unique_key,
            validate,
        )

        got = {r["rule"]: r for r in validate(dirty, [
            not_null("id"),
            in_range("qty", 0, 100),
            accepted_values("flag", ["A", "B"]),
            unique_key("id"),
            foreign_key("ref", dim, "key"),
        ]).collect()}
        assert got["not_null(id)"]["violations"] == 1
        assert got["in_range(qty,0,100)"]["violations"] == 1   # NULL passes
        assert got["accepted_values(flag)"]["violations"] == 1  # NULL passes
        assert got["unique(id)"]["violations"] == 1             # one surplus row
        assert got["fk(ref)"]["violations"] == 1
        assert all(r["n_rows"] == 7 for r in got.values())
        assert all(not r["passed"] for r in got.values())

    def test_clean_table_passes(self, spark, dim):
        from db2pq_spark.operators.validate import not_null, unique_key, validate

        out = validate(dim, [not_null("key"), unique_key("key")]).collect()
        assert all(r["passed"] and r["violations"] == 0 for r in out)

    def test_single_job_for_row_rules(self, spark, dirty):
        # row rules + unique compile to ONE aggregate over one scan
        from db2pq_spark.operators.validate import (
            in_range, not_null, unique_key, validate,
        )

        df = validate(dirty, [not_null("id"), in_range("qty", 0, 100),
                              unique_key("id")])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan ExistingRDD") <= 1

    def test_empty_rules_rejected(self, spark, dirty):
        from db2pq_spark.operators.validate import validate

        with pytest.raises(ValueError, match="empty"):
            validate(dirty, [])


class TestBm25:
    def test_matches_hand_formula(self, spark):
        import math

        from db2pq_spark.operators.retrieval import bm25_scores

        corpus = [(1, "a b a"), (2, "a c"), (3, "x y z")]
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        got = {r["doc_id"]: r["bm25"] for r in
               bm25_scores(df, "text", "doc_id", ["a", "b"]).collect()}

        def score(tf, dft, dl, n=3, avgdl=8 / 3, k1=1.2, b=0.75):
            idf = math.log(1 + (n - dft + 0.5) / (dft + 0.5))
            return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

        want1 = round(score(2, 2, 3) + score(1, 1, 3), 4)
        want2 = round(score(1, 2, 2), 4)
        assert got == {1: want1, 2: want2}     # doc 3 unscored → absent

    def test_tokenization_case_and_punct(self, spark):
        from db2pq_spark.operators.retrieval import tokenize

        df = spark.createDataFrame([("Hello, WORLD!  42-a",)], ["text"])
        [row] = df.select(tokenize("text").alias("t")).collect()
        assert row["t"] == ["hello", "world", "42", "a"]

    def test_empty_query_rejected(self, spark):
        from db2pq_spark.operators.retrieval import bm25_scores

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            bm25_scores(df, "text", "doc_id", [])


class TestRepetition:
    def test_profile_known_counts(self, spark):
        from db2pq_spark.operators.repetition import repetition_profile

        rows = [
            (1, "a b a b a b"),      # bigrams: ab ba ab ba ab -> top 3/5
            (2, "w x y z"),          # all distinct, top bigram 1/3
            (3, "solo"),             # single token: no bigrams
            (4, "same same same"),   # bigrams: 'same same' x2 -> top 2/2
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r.asDict() for r in
               repetition_profile(df, "text", "doc_id").collect()}

        assert got[1]["n_tokens"] == 6
        assert got[1]["n_bigrams"] == 5
        assert got[1]["top_bigram_fraction"] == round(3 / 5, 6)
        assert got[1]["distinct_token_ratio"] == round(2 / 6, 6)

        assert got[2]["distinct_token_ratio"] == 1.0
        assert got[2]["top_bigram_fraction"] == round(1 / 3, 6)

        assert got[3]["n_bigrams"] == 0
        assert got[3]["top_bigram_fraction"] == 0.0

        assert got[4]["top_bigram_fraction"] == 1.0

    def test_top_tokens_order_and_ties(self, spark):
        from db2pq_spark.operators.repetition import top_tokens

        df = spark.createDataFrame(
            [(1, "b a b c a b"), (2, "c a")], "doc_id long, text string")
        got = [(r["token"], r["n"]) for r in
               top_tokens(df, "text", 3).collect()]
        # a and b tie at 3 -> alphabetical; c has 2
        assert got == [("a", 3), ("b", 3), ("c", 2)]

    def test_no_python_udf_in_plan(self, spark):
        from db2pq_spark.operators.repetition import repetition_profile

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = repetition_profile(df, "text", "doc_id") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestGopherRepetition:
    """gopher_repetition (q147): the n-gram half of Gopher §A1.1 —
    top-gram char attribution, duplicated-gram coverage union, exact
    integer verdicts."""

    @pytest.fixture()
    def docs(self, spark):
        return spark.createDataFrame(
            [(1, "a b a b a b a b a b a b"),   # top-2gram dominated
             (2, "one two three four five six seven eight"),  # clean
             (3, "x y z w v x y z w v x y z w v q"),  # dup 5-grams
             (4, "solo")],                     # shorter than every n
            "doc_id long, text string")

    def test_exact_char_accounting(self, spark, docs):
        from db2pq_spark.operators.repetition import gopher_repetition

        got = {r["id"]: r for r in
               gopher_repetition(docs, "text", "doc_id").collect()}
        # doc 1: 'a b' occurs 6x, len 3 -> 18 of 23 chars; fails
        assert got[1]["n_chars"] == 23
        assert got[1]["top2_chars"] == 18
        assert got[1]["pass"] is False
        # doc 2: no gram repeats -> all zero, passes (the count>=2
        # guard: a count-1 'top' gram is not repetition)
        assert all(got[2][f"top{n}_chars"] == 0 for n in (2, 3, 4))
        assert all(got[2][f"dup{n}_chars"] == 0 for n in range(5, 11))
        assert got[2]["pass"] is True
        # doc 4: shorter than every n -> vacuous pass
        assert got[4]["pass"] is True and got[4]["n_chars"] == 4

    def test_coverage_union_never_double_counts(self, spark):
        from db2pq_spark.operators.repetition import gopher_repetition

        # overlapping duplicated 5-grams tile the whole stream: the
        # union must equal n_chars exactly, not the sum of intervals
        df = spark.createDataFrame(
            [(1, "a b c d e a b c d e a b c d e")],
            "doc_id long, text string")
        r = gopher_repetition(df, "text", "doc_id").collect()[0]
        assert r["dup5_chars"] == r["n_chars"] == 29

    def test_custom_thresholds(self, spark, docs):
        from db2pq_spark.operators.repetition import gopher_repetition

        # loosen every threshold -> everything passes. The top-gram
        # attribution is count x len, so OVERLAPPING occurrences can
        # legitimately exceed 100% of the doc (doc 1's 'a b a' is
        # 5 x 5 = 25 chars of a 23-char stream) — 200% clears it;
        # the dup coverage is a true union, always <= 100%.
        got = {r["id"]: r["pass"] for r in gopher_repetition(
            docs, "text", "doc_id",
            top_max_pct={2: 200, 3: 200, 4: 200},
            dup_max_pct={n: 100 for n in range(5, 11)}).collect()}
        assert all(got.values())

    def test_unknown_keys_raise(self, spark, docs):
        from db2pq_spark.operators.repetition import gopher_repetition

        with pytest.raises(ValueError, match="keys"):
            gopher_repetition(docs, "text", "doc_id", keys="nope")


class TestScrubPii:
    def test_redacts_and_counts(self, spark):
        from db2pq_spark.operators.repetition import scrub_pii

        rows = [
            (1, "mail me at jane.doe+x@example.co.uk or call +1 415-555-0199"),
            (2, "server at 10.0.0.1 responded"),
            (3, "nothing sensitive here"),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "id long, note string")
        got = {r["id"]: (r["note"], r["note_redactions"]) for r in
               scrub_pii(df, "note").collect()}

        assert got[1][0] == "mail me at [REDACTED] or call [REDACTED]"
        assert got[1][1] == 2
        assert got[2][0] == "server at [REDACTED] responded"
        assert got[2][1] == 1
        assert got[3] == ("nothing sensitive here", 0)
        assert got[4][0] is None

    def test_digit_runs_kind(self, spark):
        from db2pq_spark.operators.repetition import scrub_pii

        df = spark.createDataFrame([(1, "k=42 v=7")], "id long, p string")
        [r] = scrub_pii(df, "p", kinds=("number",), token="<NUM>").collect()
        assert r["p"] == "k=<NUM> v=<NUM>"
        assert r["p_redactions"] == 2

    def test_unknown_kind_rejected(self, spark):
        from db2pq_spark.operators.repetition import scrub_pii

        df = spark.createDataFrame([(1, "x")], "id long, p string")
        with pytest.raises(ValueError, match="unknown PII"):
            scrub_pii(df, "p", kinds=("ssn",))


class TestDuplicateSpans:
    SHARED = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens

    def test_planted_cross_doc_span(self, spark):
        from db2pq_spark.operators.dedup import duplicate_spans

        rows = [
            (1, f"intro words here {self.SHARED} tail one"),
            (2, f"other opening {self.SHARED} different ending"),
            (3, "fully unique content with no overlap at all whatsoever"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r.asDict() for r in
               duplicate_spans(df, "text", "doc_id", n=8).collect()}

        # docs 1 and 2 share exactly one 8-token span; doc 3 shares none
        assert got[1]["dup_spans"] == 1 and got[2]["dup_spans"] == 1
        assert got[3]["dup_spans"] == 0
        # doc 1: 13 tokens -> 6 spans of length 8
        assert got[1]["n_spans"] == 6
        assert got[1]["dup_span_ratio"] == round(1 / 6, 6)

    def test_within_doc_repeat_counts(self, spark):
        from db2pq_spark.operators.dedup import duplicate_spans

        df = spark.createDataFrame(
            [(1, "x y x y x y")], "doc_id long, text string")
        [r] = duplicate_spans(df, "text", "doc_id", n=2).collect()
        # spans: xy yx xy yx xy -> all 5 duplicated within the doc
        assert r["n_spans"] == 5 and r["dup_spans"] == 5

    def test_positions_output(self, spark):
        from db2pq_spark.operators.dedup import duplicate_span_positions

        rows = [(1, f"{self.SHARED} suffix"), (2, f"prefix {self.SHARED}")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["doc_id"], r["pos"]): r["span_count"] for r in
               duplicate_span_positions(df, "text", "doc_id", n=8).collect()}
        # the shared span starts at token 0 in doc 1, token 1 in doc 2
        assert got == {(1, 0): 2, (2, 1): 2}

    def test_short_docs_excluded(self, spark):
        from db2pq_spark.operators.dedup import duplicate_spans

        df = spark.createDataFrame(
            [(1, "one two"), (2, "a b c d e")], "doc_id long, text string")
        got = duplicate_spans(df, "text", "doc_id", n=5).collect()
        assert [r["doc_id"] for r in got] == [2]

    def test_removal_cuts_exactly_the_covered_tokens(self, spark):
        from db2pq_spark.operators.dedup import remove_duplicate_spans

        rows = [
            (1, f"intro words here {self.SHARED} tail one"),
            (2, f"other opening {self.SHARED} different ending"),
            (3, "fully unique content with no overlap at all whatsoever"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["id"]: r.asDict() for r in
               remove_duplicate_spans(df, "text", "doc_id",
                                      n=8).collect()}
        # the shared 8-token span is cut from both docs, nothing else
        assert got[1]["clean_text"] == "intro words here tail one"
        assert got[2]["clean_text"] == "other opening different ending"
        assert got[1]["n_removed"] == 8 and got[2]["n_removed"] == 8
        # untouched doc keeps every token
        assert got[3]["n_removed"] == 0
        assert got[3]["clean_text"].startswith("fully unique")

    def test_removal_overlapping_spans_merge(self, spark):
        from db2pq_spark.operators.dedup import remove_duplicate_spans

        # "x y x y x y": every 2-gram duplicated -> whole doc removed
        df = spark.createDataFrame(
            [(1, "x y x y x y"), (2, "y x")],
            "doc_id long, text string")
        got = {r["id"]: r.asDict() for r in
               remove_duplicate_spans(df, "text", "doc_id",
                                      n=2).collect()}
        assert got[1]["clean_text"] == "" and got[1]["n_kept"] == 0
        assert got[1]["n_removed"] == 6
        # doc 2's "y x" also duplicated (matches spans inside doc 1)
        assert got[2]["clean_text"] == ""

    def test_keep_one_spares_the_min_id_pos_exemplar(self, spark):
        from db2pq_spark.operators.dedup import remove_duplicate_spans

        rows = [
            (1, f"intro words here {self.SHARED} tail one"),
            (2, f"other opening {self.SHARED} different ending"),
            (3, "fully unique content with no overlap at all whatsoever"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["id"]: r.asDict() for r in
               remove_duplicate_spans(df, "text", "doc_id", n=8,
                                      keep="one").collect()}
        # exemplar = min (id, pos): doc 1's occurrence survives; doc
        # 2's copy is still cut — removal totals are the drop-all
        # totals minus the one exemplar per duplicated cluster
        assert got[1]["n_removed"] == 0
        assert got[1]["clean_text"].startswith("intro words here")
        assert self.SHARED in got[1]["clean_text"]
        assert got[2]["n_removed"] == 8
        assert got[2]["clean_text"] == "other opening different ending"
        assert got[3]["n_removed"] == 0

    def test_keep_one_within_doc_repeat(self, spark):
        from db2pq_spark.operators.dedup import remove_duplicate_spans

        # "x y x y x y": with n=2 the exemplar of each duplicated
        # 2-gram key is its leftmost occurrence, but later keys'
        # non-exemplar occurrences still cover the tail — only the
        # prefix the exemplars exclusively own survives
        df = spark.createDataFrame(
            [(1, "x y x y x y")], "doc_id long, text string")
        all_ = remove_duplicate_spans(
            df, "text", "doc_id", n=2).collect()[0]
        one = remove_duplicate_spans(
            df, "text", "doc_id", n=2, keep="one").collect()[0]
        assert all_["n_kept"] == 0          # drop-all removes the doc
        # keep-one: "x y" exemplar at pos 0, "y x" exemplar at pos 1
        # cover tokens 0-2; occurrences at pos>=2 are cut -> "x y" kept
        assert one["clean_text"] == "x y"
        assert one["n_removed"] == 4

    def test_keep_invalid_raises(self, spark):
        from db2pq_spark.operators.dedup import remove_duplicate_spans

        df = spark.createDataFrame([(1, "a b c")],
                                   "doc_id long, text string")
        with pytest.raises(ValueError, match="keep"):
            remove_duplicate_spans(df, "text", "doc_id", keep="two")

    def test_removal_short_and_clean_docs_survive_whole(self, spark):
        from db2pq_spark.operators.dedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(1, "ab"), (2, "c d e f"), (3, None), (4, "   ")],
            "doc_id long, text string")
        got = {r["id"]: r.asDict() for r in
               remove_duplicate_spans(df, "text", "doc_id",
                                      n=3).collect()}
        # shorter-than-n docs have no spans -> kept whole
        assert got[1]["clean_text"] == "ab" and got[1]["n_removed"] == 0
        assert got[2]["clean_text"] == "c d e f"
        # NULL / whitespace-only docs are excluded
        assert 3 not in got and 4 not in got


class TestWinnowing:
    def test_shared_run_guarantee(self, spark):
        # docs 1/2 share a 9-token run >= w+k-1 = 6 -> MUST pair
        from db2pq_spark.operators.dedup import (winnow_fingerprints,
                                                 winnow_overlap_pairs)

        df = spark.createDataFrame([
            (1, "alpha beta gamma delta epsilon zeta eta theta iota x"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota y"),
            (3, "totally unrelated words that never overlap anything"),
            (4, None), (5, "  "),
        ], "doc_id long, text string")
        pairs = {(r["id1"], r["id2"]): r["shared_fps"]
                 for r in winnow_overlap_pairs(
                     df, "text", "doc_id", k=3, w=4,
                     min_shared=1).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] >= 1
        assert not any(3 in p or 4 in p or 5 in p for p in pairs)
        # fingerprints are per-doc distinct and null/empty docs vanish
        fps = winnow_fingerprints(df, "text", "doc_id", k=3, w=4)
        pdf = fps.groupBy("id").count().collect()
        assert {r["id"] for r in pdf} == {1, 2, 3}

    def test_short_doc_keeps_one_fingerprint(self, spark):
        from db2pq_spark.operators.dedup import winnow_fingerprints

        # 4 tokens, k=3 -> 2 k-gram hashes < w windows -> min of all
        df = spark.createDataFrame([(1, "a b c d")],
                                   "doc_id long, text string")
        got = winnow_fingerprints(df, "text", "doc_id",
                                  k=3, w=4).collect()
        assert len(got) == 1

    def test_incremental_batch_vs_corpus(self, spark):
        from db2pq_spark.operators.dedup import (
            winnow_fingerprints, winnow_overlap_incremental)

        df = spark.createDataFrame([
            (1, "alpha beta gamma delta epsilon zeta eta theta iota x"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota y"),
            (3, "totally unrelated words that never overlap anything"),
        ], "doc_id long, text string")
        batch = df.filter(F.col("doc_id") == 1)
        corpus = df.filter(F.col("doc_id") != 1)
        got = winnow_overlap_incremental(
            batch, corpus, "text", "doc_id", k=3, w=4,
            min_shared=1).collect()
        assert {(r["batch_id"], r["corpus_id"]) for r in got} == {(1, 2)}
        # precomputed fingerprint corpus: same result, corpus not
        # re-fingerprinted
        cfp = winnow_fingerprints(corpus, "text", "doc_id", k=3, w=4)
        got2 = winnow_overlap_incremental(
            batch, cfp, "text", "doc_id", k=3, w=4,
            min_shared=1).collect()
        assert {(r["batch_id"], r["corpus_id"]) for r in got2} == {(1, 2)}

    def test_incremental_hash_family_mismatch_raises(self, spark):
        import pytest as _pt

        from db2pq_spark.operators.dedup import (
            winnow_fingerprints, winnow_overlap_incremental)

        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f g h")],
            "doc_id long, text string")
        cfp = winnow_fingerprints(df.filter(F.col("doc_id") == 2),
                                  "text", "doc_id", k=3, w=2,
                                  token_hash="md5_60")
        with _pt.raises(ValueError, match="token_hash='md5_60'"):
            winnow_overlap_incremental(
                df.filter(F.col("doc_id") == 1), cfp, "text", "doc_id",
                k=3, w=2, token_hash="xxhash64")

    def test_incremental_ambiguous_id_fp_columns_raise(self, spark):
        # raw documents that HAPPEN to carry id/fp columns must not be
        # silently treated as a fingerprint relation — the _fp_hash
        # stamp is the reliable marker; without it the call raises and
        # precomputed=True/False disambiguates
        import warnings as _w

        import pytest as _pt

        from db2pq_spark.operators.dedup import (
            winnow_fingerprints, winnow_overlap_incremental)

        batch = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string")
        raw_with_fp = spark.createDataFrame(
            [(2, "alpha beta gamma delta epsilon zeta", 7, "meta")],
            "doc_id long, text string, fp long, id string")
        with _pt.raises(ValueError, match="ambiguous"):
            winnow_overlap_incremental(batch, raw_with_fp, "text",
                                       "doc_id", k=3, w=2, min_shared=1)
        # precomputed=False: treated as raw documents, fingerprinted
        got = winnow_overlap_incremental(
            batch, raw_with_fp, "text", "doc_id", k=3, w=2,
            min_shared=1, precomputed=False).collect()
        assert {(r["batch_id"], r["corpus_id"]) for r in got} == {(1, 2)}
        # precomputed=True on a genuinely-unstamped fingerprint relation
        # (pre-stamp persisted table): warns, still runs
        cfp = winnow_fingerprints(
            spark.createDataFrame(
                [(2, "alpha beta gamma delta epsilon zeta")],
                "doc_id long, text string"),
            "text", "doc_id", k=3, w=2).drop("_fp_hash")
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            got2 = winnow_overlap_incremental(
                batch, cfp, "text", "doc_id", k=3, w=2, min_shared=1,
                precomputed=True).collect()
        assert any("_fp_hash" in str(c.message) for c in caught)
        assert {(r["batch_id"], r["corpus_id"]) for r in got2} == {(1, 2)}
        # precomputed=True without id/fp columns is a usage error
        with _pt.raises(ValueError, match="lacks id/fp"):
            winnow_overlap_incremental(
                batch, batch, "text", "doc_id", precomputed=True)

    def test_hot_fingerprint_cap(self, spark):
        from db2pq_spark.operators.dedup import winnow_overlap_pairs

        # every doc shares the same boilerplate -> capped away
        rows = [(i, f"common shared boilerplate line here tag{i}")
                for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        capped = winnow_overlap_pairs(df, "text", "doc_id", k=3, w=2,
                                      min_shared=1, max_bucket=3)
        uncapped = winnow_overlap_pairs(df, "text", "doc_id", k=3, w=2,
                                        min_shared=1, max_bucket=None)
        assert capped.count() < uncapped.count()


class TestBpe:
    def test_segment_counts_hand_computed(self, spark):
        from db2pq_spark.operators.bpe import bpe_segment

        # wf: ab:2 cd:1 ef:2 → R1 merges (a,b) [tie with (e,f) at 2,
        # pair asc], R2 merges (e,f) → ab=[ab] cd=[c,d] ef=[ef]
        df = spark.createDataFrame(
            [(1, "ab ab cd ef"), (2, "ef")], "doc_id long, text string")
        got = {r["id"]: r for r in
               bpe_segment(df, "text", "doc_id", merges=2).collect()}
        assert got[1]["n_words"] == 4 and got[1]["n_subwords"] == 5
        assert got[2]["n_words"] == 1 and got[2]["n_subwords"] == 1

    def test_learns_expected_merges(self, spark):
        from db2pq_spark.operators.bpe import bpe_train

        df = spark.createDataFrame(
            [(1, "the the the then with"), (2, "other the")],
            "doc_id long, text string")
        rules, vocab = bpe_train(df, "text", merges=2)
        # t+h appears in the(x4)+then+with+other = 7 weighted
        assert rules[0][1:3] == ("t", "h") and rules[0][3] == 7
        # th+e: the(x4)+then+other = 6
        assert rules[1][1:3] == ("th", "e") and rules[1][3] == 6
        segs = {r["word"]: r["sym"] for r in vocab.collect()}
        assert segs["the"] == ["the"]
        assert segs["then"] == ["the", "n"]
        assert segs["with"] == ["w", "i", "th"]

    def test_greedy_run_thinning(self, spark):
        from db2pq_spark.operators.bpe import bpe_train

        # "aaaa" -> [aa, aa]; "aaa" -> [aa, a]: greedy leftmost
        # every-other within the a==b run
        df = spark.createDataFrame([(1, "aaaa aaa")],
                                   "doc_id long, text string")
        rules, vocab = bpe_train(df, "text", merges=1)
        assert rules[0][1:3] == ("a", "a")
        segs = {r["word"]: r["sym"] for r in vocab.collect()}
        assert segs["aaaa"] == ["aa", "aa"]
        assert segs["aaa"] == ["aa", "a"]

    def test_tie_breaks_lexicographic(self, spark):
        from db2pq_spark.operators.bpe import bpe_train

        # pairs z+y and b+a both count 2 -> 'b a' < 'z y' wins
        df = spark.createDataFrame([(1, "zy ba zy ba")],
                                   "doc_id long, text string")
        rules, _ = bpe_train(df, "text", merges=1)
        assert rules[0][1:3] == ("b", "a")

    def test_apply_merge_column(self, spark):
        from db2pq_spark.operators.bpe import bpe_apply_merge
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(["a", "b", "a", "b"],), (["x"],), ([],)],
            "sym array<string>")
        got = [r["m"] for r in df.select(
            bpe_apply_merge("sym", "a", "b").alias("m")).collect()]
        assert got == [["ab", "ab"], ["x"], []]


class TestVocabEncode:
    def test_ids_by_rank_and_oov(self, spark):
        from db2pq_spark.operators.vocab import build_vocab, encode_documents

        df = spark.createDataFrame(
            [(1, "b a b c a b"), (2, "c a rare")], "doc_id long, text string")
        vocab = build_vocab(df, "text", max_size=3)
        v = {r["token"]: (r["token_id"], r["freq"])
             for r in vocab.collect()}
        # freq: b=3 a=3 c=2 rare=1 -> tie a/b broken alphabetically
        assert v == {"a": (0, 3), "b": (1, 3), "c": (2, 2)}

        enc = {r["doc_id"]: (r["token_ids"], r["n_tokens"]) for r in
               encode_documents(df, "text", "doc_id", vocab).collect()}
        assert enc[1] == ([1, 0, 1, 2, 0, 1], 6)
        assert enc[2] == ([2, 0, -1], 3)        # 'rare' is OOV

    def test_null_text_encodes_empty(self, spark):
        from db2pq_spark.operators.vocab import build_vocab, encode_documents

        df = spark.createDataFrame(
            [(1, "a b"), (2, None)], "doc_id long, text string")
        vocab = build_vocab(df.where("text is not null"), "text")
        enc = {r["doc_id"]: r["token_ids"] for r in
               encode_documents(df, "text", "doc_id", vocab).collect()}
        assert enc[1] == [0, 1] and enc[2] == []

    def test_roundtrip_decode(self, spark):
        from db2pq_spark.operators.vocab import build_vocab, encode_documents

        text = "the quick brown fox jumps over the lazy dog"
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        vocab = build_vocab(df, "text")
        enc = encode_documents(df, "text", "doc_id", vocab)
        inv = {r["token_id"]: r["token"] for r in vocab.collect()}
        [row] = enc.collect()
        assert " ".join(inv[i] for i in row["token_ids"]) == text


class TestDecontamination:
    BENCH = "question seven asks about the capital of france obviously"

    @pytest.fixture(scope="class")
    def corpora(self, spark):
        train = spark.createDataFrame(
            [(1, f"some filler then {self.BENCH} and more filler"),
             (2, "entirely clean document with fresh original content "
                 "written here today"),
             (3, "tiny doc")],
            "doc_id long, text string")
        bench = spark.createDataFrame(
            [(100, self.BENCH)], "doc_id long, text string")
        return train, bench

    def test_stats_flag_overlap(self, spark, corpora):
        from db2pq_spark.operators.dedup import contamination_stats

        train, bench = corpora
        got = {r["doc_id"]: r.asDict() for r in
               contamination_stats(train, bench, "text", "doc_id",
                                   n=8).collect()}
        # the full 9-token bench doc contributes two 8-gram spans; doc 1
        # contains both (plus nothing else from bench)
        assert got[1]["contaminated"] and got[1]["contaminated_spans"] == 2
        assert not got[2]["contaminated"]
        assert 3 not in got                  # too short for 8-grams

    def test_decontaminate_filters(self, spark, corpora):
        from db2pq_spark.operators.dedup import decontaminate

        train, bench = corpora
        kept = sorted(r["doc_id"] for r in
                      decontaminate(train, bench, "text", "doc_id",
                                    n=8).collect())
        assert kept == [2, 3]                # contaminated dropped, short kept

    def test_min_overlap_threshold(self, spark, corpora):
        from db2pq_spark.operators.dedup import decontaminate

        train, bench = corpora
        kept = sorted(r["doc_id"] for r in
                      decontaminate(train, bench, "text", "doc_id",
                                    n=8, min_overlap=3).collect())
        assert kept == [1, 2, 3]             # below threshold -> kept


class TestLabelCentroids:
    def test_known_centroid(self, spark):
        from db2pq_spark.operators.similarity import label_centroids

        rows = [(0, [1.0, 0.0]), (0, [3.0, 2.0]), (1, [5.0, 5.0])]
        df = spark.createDataFrame(rows,
                                   "label int, embedding array<float>")
        got = {r["label"]: r for r in
               label_centroids(df, "embedding", "label").collect()}
        assert got[0]["centroid"] == [2.0, 1.0]
        assert got[0]["n_vectors"] == 2
        assert got[1]["centroid"] == [5.0, 5.0]

    def test_no_python_udf(self, spark):
        from db2pq_spark.operators.similarity import label_centroids

        df = spark.createDataFrame([(0, [1.0])],
                                   "label int, embedding array<float>")
        plan = label_centroids(df, "embedding", "label") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan


class TestMixing:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [(i, f"src{i % 3}", 100) for i in range(30)]
        return spark.createDataFrame(
            rows, "doc_id long, source string, n_chars long")

    def test_downsample_and_upsample(self, spark, corpus):
        from db2pq_spark.operators.mixing import mix_corpus, mix_plan

        # src0 avail=1000 chars. target(src0)=3000 -> 3 full epochs;
        # target(src1)=1000 -> exactly 1 epoch; src2 unweighted -> gone
        weights = {"src0": 3.0, "src1": 1.0}
        plan = dict((s, (fe, ft)) for s, fe, ft, _ in
                    mix_plan(corpus, "source", "n_chars", weights, 4000))
        assert plan["src0"] == (3, 0)
        assert plan["src1"] == (1, 0)
        mixed = mix_corpus(corpus, "source", "n_chars", "doc_id",
                           weights, 4000).collect()
        by_src = {}
        for r in mixed:
            by_src.setdefault(r["source"], []).append(r["epoch"])
        assert sorted(set(by_src["src0"])) == [0, 1, 2]
        assert len(by_src["src0"]) == 30  # 10 docs x 3 epochs
        assert sorted(set(by_src["src1"])) == [0]
        assert "src2" not in by_src

    def test_fractional_rate_is_deterministic(self, corpus):
        from db2pq_spark.operators.mixing import mix_corpus

        # target(src0) = 500 of 1000 avail -> rate 0.5: a strict,
        # stable subset of docs in epoch 0 only
        a = sorted(r["doc_id"] for r in mix_corpus(
            corpus, "source", "n_chars", "doc_id",
            {"src0": 1.0}, 500).collect())
        b = sorted(r["doc_id"] for r in mix_corpus(
            corpus, "source", "n_chars", "doc_id",
            {"src0": 1.0}, 500).collect())
        assert a == b
        assert 0 < len(a) < 10

    def test_max_epochs_cap(self, corpus):
        from db2pq_spark.operators.mixing import mix_plan

        plan = mix_plan(corpus, "source", "n_chars",
                        {"src0": 1.0}, 10_000_000, max_epochs=4)
        assert plan == [("src0", 4, 0, 1000)]

    def test_report_shares(self, corpus):
        from db2pq_spark.operators.mixing import mix_corpus, mix_report

        mixed = mix_corpus(corpus, "source", "n_chars", "doc_id",
                           {"src0": 1.0, "src1": 1.0}, 2000)
        rep = {r["source"]: r for r in
               mix_report(mixed, "source", "n_chars", "doc_id").collect()}
        assert rep["src0"]["achieved_size"] == 1000
        assert rep["src0"]["n_distinct_rows"] == 10
        assert rep["src0"]["n_rows"] == 10
        assert abs(rep["src0"]["share"] - 0.5) < 1e-6

    def test_narrow_plan(self, corpus):
        from db2pq_spark.operators.mixing import mix_corpus

        plan = mix_corpus(corpus, "source", "n_chars", "doc_id",
                          {"src0": 2.0}, 1500) \
            ._jdf.queryExecution().executedPlan().toString()
        # corpus side never shuffles: only the broadcast of the tiny
        # decision table appears
        assert "BroadcastHashJoin" in plan
        assert plan.count("Exchange hashpartitioning") == 0

    def test_input_validation(self, corpus):
        from db2pq_spark.operators.mixing import mix_plan

        with pytest.raises(ValueError):
            mix_plan(corpus, "source", "n_chars", {"src0": 1.0}, 0)
        with pytest.raises(ValueError):
            mix_plan(corpus, "source", "n_chars", {"src0": -1.0}, 10)
        with pytest.raises(ValueError):
            mix_plan(corpus, "source", "n_chars", {}, 10)


class TestQuantize:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rows = [(1, [1.0, -0.5, 0.25, 0.0]),
                (2, [0.0, 0.0, 0.0, 0.0]),
                (3, [127.0, -127.0, 63.5, 1.0]),
                (4, None)]
        return spark.createDataFrame(rows,
                                     "vec_id long, embedding array<float>")

    def test_roundtrip_error_bound(self, vecs):
        from db2pq_spark.operators.quantize import (
            quantize_embeddings, quantization_error)

        q = quantize_embeddings(vecs.where("embedding is not null"),
                                "embedding")
        errs = quantization_error(q, "embedding").collect()
        for r in errs:
            bound = (r["qscale"] or 0.0) / 2 + 1e-12
            assert r["abs_err_max"] <= bound, (r["vec_id"], r)

    def test_codes_in_int8_range_and_extremes(self, vecs):
        from db2pq_spark.operators.quantize import quantize_embeddings

        got = {r["vec_id"]: r for r in
               quantize_embeddings(vecs, "embedding").collect()}
        assert got[1]["qvec"][0] == 127          # amax component -> ±127
        assert got[3]["qvec"][1] == -127
        assert all(-127 <= c <= 127 for c in got[3]["qvec"])
        assert got[2]["qvec"] == [0, 0, 0, 0]    # all-zero vector
        assert got[2]["qscale"] == 0.0
        assert got[4]["qvec"] is None            # NULL stays NULL
        # NULL vector => NULL scale too (distinguishable from all-zero)
        assert got[4]["qscale"] is None

    def test_no_shuffle_no_udf(self, vecs):
        from db2pq_spark.operators.quantize import quantize_embeddings

        plan = quantize_embeddings(vecs, "embedding") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "EvalPython" not in plan

    def test_quantized_topk_finds_planted_clones_first(self, spark):
        # int8 reconstruction error (<= scale/2 per component) must not
        # cost the easy wins: an exact clone of each query still ranks
        # first, far ahead of unrelated random vectors
        import random

        from db2pq_spark.operators.quantize import (
            quantize_embeddings, quantized_cosine_topk)

        rng = random.Random(6)
        rows = [(i, [rng.gauss(0, 1) for _ in range(16)])
                for i in range(40)]
        clones = [(i + 1000, list(v)) for i, v in rows[:3]]
        df = spark.createDataFrame(rows + clones,
                                   "vec_id long, embedding array<float>")
        q = df.filter("vec_id < 3")
        corpus_q = quantize_embeddings(df, "embedding") \
            .select("vec_id", "qvec", "qscale")
        got = {(r["query_id"], r["rank"]): r["neighbor_id"]
               for r in quantized_cosine_topk(corpus_q, q, k=3).collect()}
        for qid in range(3):
            assert got[(qid, 1)] == qid + 1000, got


class TestMinhashKernelEdges:
    def test_trailing_empty_array_does_not_corrupt_neighbor(self, spark):
        """Regression: np.minimum.reduceat with a clamped offset for a
        trailing zero-length segment STEALS the last element from the
        preceding row's segment — empty rows must be excluded from the
        reduce, not clamped."""
        from db2pq_spark.operators.dedup import _minhash_from_hashes_udf

        udf = _minhash_from_hashes_udf(4)
        rows = [(1, [11, 22, 33]), (2, []), (3, [11, 22, 33])]
        df = spark.createDataFrame(rows, "id long, hs array<long>") \
                  .repartition(1)
        got = {r["id"]: r["sig"] for r in
               df.select("id", udf("hs").alias("sig")).collect()}
        max_long = (1 << 63) - 1
        # row 2 (empty) gets the sentinel; rows 1 and 3 are identical
        # inputs and must produce identical signatures even though only
        # row 1 precedes the empty row
        assert got[2] == [max_long] * 4
        assert got[1] == got[3]


class TestBloom:
    @pytest.fixture(scope="class")
    def built(self, spark):
        from db2pq_spark.operators.bloom import bloom_build

        keys = spark.createDataFrame(
            [(i,) for i in range(0, 200, 2)], "k long")  # evens
        return bloom_build(keys, "k", n_bits=1 << 12, k=4, salt="t")

    def test_no_false_negatives(self, spark, built):
        from db2pq_spark.operators.bloom import bloom_probe

        probe = spark.createDataFrame([(i,) for i in range(200)],
                                      "k long")
        got = {r["k"]: r["might_contain"] for r in
               bloom_probe(probe, "k", built).collect()}
        for i in range(0, 200, 2):
            assert got[i] is True, f"false negative for member {i}"

    def test_fpr_is_bounded(self, spark, built):
        from db2pq_spark.operators.bloom import bloom_fpr, bloom_probe

        probe = spark.createDataFrame(
            [(i,) for i in range(1001, 20001, 2)], "k long")  # non-members
        fp = sum(r["might_contain"] for r in
                 bloom_probe(probe, "k", built).collect())
        expected = bloom_fpr(100, 1 << 12, 4)
        # generous 3x margin over the analytic rate
        assert fp / 9500 < max(3 * expected, 0.02), (fp, expected)

    def test_bitmap_is_fixed_size(self, built):
        row = built.head()
        assert len(row["bitmap"]) == (1 << 12) // 64
        assert row["n_bits"] == 1 << 12 and row["k"] == 4

    def test_probe_never_shuffles(self, spark, built):
        from db2pq_spark.operators.bloom import bloom_probe

        probe = spark.createDataFrame([(1,)], "k long")
        plan = bloom_probe(probe, "k", built) \
            ._jdf.queryExecution().executedPlan().toString()
        # probe side: broadcast of the one-row bitmap only
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        pr = plan.split("BroadcastExchange")[0]
        assert "Exchange hashpartitioning" not in pr

    def test_validation(self, spark):
        from db2pq_spark.operators.bloom import bloom_build

        keys = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError):
            bloom_build(keys, "k", n_bits=100)   # not a multiple of 64
        with pytest.raises(ValueError):
            bloom_build(keys, "k", k=0)

    def test_multi_row_bloom_refused(self, spark, built):
        # a union of two builds would cross-join and silently multiply
        # every probe row — must fail loudly
        from db2pq_spark.operators.bloom import bloom_probe

        probe = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError, match="exactly one"):
            bloom_probe(probe, "k", built.union(built))

    def test_probe_column_collision_refused(self, spark, built):
        from db2pq_spark.operators.bloom import bloom_probe

        probe = spark.createDataFrame([(1, 2)], "k long, bitmap long")
        with pytest.raises(ValueError, match="bitmap"):
            bloom_probe(probe, "k", built)
        probe2 = spark.createDataFrame([(1, 2)], "k long, __bp0 long")
        with pytest.raises(ValueError, match="__bp0"):
            bloom_probe(probe2, "k", built)
        # out_col colliding with internals would be silently dropped
        probe3 = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError, match="out_col"):
            bloom_probe(probe3, "k", built, out_col="bitmap")


class TestUnigramSurprisal:
    def test_uniform_corpus(self, spark):
        from db2pq_spark.operators.textstats import unigram_surprisal

        # 4 tokens, each appearing once -> p = 1/4, surprisal = 2 bits
        df = spark.createDataFrame(
            [(1, "aa bb"), (2, "cc dd")], "doc_id long, text string")
        got = {r["id"]: r for r in
               unigram_surprisal(df, "text", "doc_id").collect()}
        for i in (1, 2):
            assert got[i]["n_tokens"] == 2
            assert abs(got[i]["mean_surprisal"] - 2.0) < 1e-9

    def test_frequent_tokens_are_less_surprising(self, spark):
        from db2pq_spark.operators.textstats import unigram_surprisal

        df = spark.createDataFrame(
            [(1, "the the the the"), (2, "rare")],
            "doc_id long, text string")
        got = {r["id"]: r["mean_surprisal"] for r in
               unigram_surprisal(df, "text", "doc_id").collect()}
        assert got[1] < got[2]

    def test_reference_corpus_with_oov(self, spark):
        from db2pq_spark.operators.textstats import unigram_surprisal

        ref = spark.createDataFrame([(10, "aa aa bb cc")],
                                    "doc_id long, text string")
        batch = spark.createDataFrame([(1, "aa zz")],
                                      "doc_id long, text string")
        import math
        (row,) = unigram_surprisal(batch, "text", "doc_id",
                                   reference=ref).collect()
        # aa: -log2(2/4) = 1; zz unseen: add-one log2(N+1) = log2(5)
        expect = (1.0 + math.log2(5)) / 2
        assert abs(row["mean_surprisal"] - expect) < 1e-5


class TestKneserNey:
    def test_hand_computed_bigram_probs(self, spark):
        import math

        from db2pq_spark.operators.textstats import kneser_ney_bigrams

        # bigrams: doc1 (a,b),(b,a),(a,b); doc2 (a,b),(b,c)
        # bc: (a,b)=3 (b,a)=1 (b,c)=1; ctx a:(c1=3,n1f=1) b:(c1=2,n1f=2)
        # cont: a=1 b=1 c=1; nt=3
        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c")], "doc_id long, text string")
        d = 0.75

        def p(c12, c1, n1f, n1b, nt=3):
            return (max(c12 - d, 0.0) / c1
                    + (d * n1f / c1) * (n1b / nt))

        s_ab = round(-math.log2(p(3, 3, 1, 1)), 6)
        s_ba = round(-math.log2(p(1, 2, 2, 1)), 6)
        s_bc = round(-math.log2(p(1, 2, 2, 1)), 6)
        got = {r["id"]: r for r in
               kneser_ney_bigrams(df, "text", "doc_id").collect()}
        assert got[1]["n_bigrams"] == 3 and got[2]["n_bigrams"] == 2
        assert abs(float(got[1]["sum_surprisal"])
                   - (2 * s_ab + s_ba)) < 1e-6
        assert abs(float(got[2]["sum_surprisal"])
                   - (s_ab + s_bc)) < 1e-6

    def test_observed_probs_per_context_bounded_by_one(self, spark):
        from db2pq_spark.operators.textstats import kneser_ney_bigrams

        # interpolated KN sums to 1 over the FULL continuation vocab,
        # so observed-bigram surprisals must all be positive (p < 1)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(
                ["the cat sat on the mat", "the cat ran",
                 "a dog sat", "the mat sat on the cat"])],
            "doc_id long, text string")
        rows = kneser_ney_bigrams(df, "text", "doc_id").collect()
        assert rows and all(float(r["sum_surprisal"]) > 0 for r in rows)

    def test_short_docs_excluded(self, spark):
        from db2pq_spark.operators.textstats import kneser_ney_bigrams

        df = spark.createDataFrame(
            [(1, "solo"), (2, ""), (3, "a b")],
            "doc_id long, text string")
        got = {r["id"] for r in
               kneser_ney_bigrams(df, "text", "doc_id").collect()}
        assert got == {3}


class TestSemanticDedup:
    def test_clusters_and_keepers(self, spark):
        from db2pq_spark.operators.similarity import semantic_dedup

        # 1 & 2 parallel (cos 1.0); 3 orthogonal singleton
        rows = [(1, [1.0, 0.0, 0.0]), (2, [2.0, 0.0, 0.0]),
                (3, [0.0, 1.0, 0.0])]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r for r in
               semantic_dedup(df, threshold=0.999, dim=3).collect()}
        assert got[1]["cluster"] == 1 and got[1]["is_kept"] is True
        assert got[2]["cluster"] == 1 and got[2]["is_kept"] is False
        assert got[3]["cluster"] == 3 and got[3]["is_kept"] is True

    def test_kept_filter_is_a_dedup(self, spark):
        from db2pq_spark.operators.similarity import semantic_dedup

        rows = [(i, [float(i % 2), 1.0 - (i % 2), 0.0]) for i in range(6)]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<float>")
        kept = [r["vec_id"] for r in
                semantic_dedup(df, threshold=0.999, dim=3)
                .where("is_kept").collect()]
        assert sorted(kept) == [0, 1]  # one keeper per direction


class TestSemanticDedupIncremental:
    """embedding_dedup_state + semantic_dedup_incremental (q142): the
    train-once/probe-increments SemDeDup shape with the _ed_conf stamp
    discipline."""

    @pytest.fixture()
    def corpus(self, spark):
        rows = [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
                (3, [0.0, 0.0, 1.0]), (4, [1.0, 1.0, 0.0])]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")

    def test_clones_found_non_dups_not(self, spark, corpus):
        from db2pq_spark.operators.similarity import (
            embedding_dedup_state, semantic_dedup_incremental)

        state = embedding_dedup_state(corpus, dim=3)
        batch = spark.createDataFrame(
            [(101, [2.0, 0.0, 0.0]),    # clone of 1 (scaled)
             (102, [0.0, 0.5, 0.0]),    # clone of 2 (scaled)
             (103, [1.0, -1.0, 0.0])],  # near nothing at 0.999
            "vec_id long, embedding array<float>")
        got = {(r["batch_id"], r["corpus_id"]): r["cos"] for r in
               semantic_dedup_incremental(batch, state,
                                          threshold=0.999,
                                          dim=3).collect()}
        assert got == {(101, 1): 1.0, (102, 2): 1.0}

    def test_matches_batch_side_of_full_neardup(self, spark, corpus):
        """Incremental probe == the batch×corpus slice of running the
        full pair generator over corpus ∪ batch (same planes)."""
        from db2pq_spark.operators.similarity import (
            embedding_dedup_state, embedding_neardup_pairs,
            semantic_dedup_incremental)

        from pyspark.sql import functions as F

        batch = corpus.select(
            (F.col("vec_id") + 100).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(3.0))
             .alias("embedding"))
        state = embedding_dedup_state(corpus, num_planes=8, dim=3)
        inc = {(r["batch_id"], r["corpus_id"]) for r in
               semantic_dedup_incremental(
                   batch, state, threshold=0.999, num_planes=8,
                   dim=3, max_bucket=None).collect()}
        full = embedding_neardup_pairs(
            corpus.unionByName(batch), threshold=0.999,
            num_planes=8, dim=3, max_bucket=10**9)
        want = {(r["id2"], r["id1"]) for r in full.collect()
                if r["id2"] > 100 and r["id1"] <= 100}
        assert inc == want and len(inc) == 4

    def test_stamp_discipline(self, spark, corpus):
        from pyspark.errors.exceptions.base import PySparkException
        from pyspark.sql import functions as F

        from db2pq_spark.operators.similarity import (
            embedding_dedup_state, semantic_dedup_incremental)

        state = embedding_dedup_state(corpus, num_planes=8, dim=3)
        batch = corpus.limit(1)
        # plan-time metadata fast path: wrong plane family, zero jobs
        with pytest.raises(ValueError, match="p8/d3/s0"):
            semantic_dedup_incremental(batch, state, num_planes=12,
                                       dim=3)
        with pytest.raises(ValueError, match="no _ed_conf stamp"):
            semantic_dedup_incremental(batch, state.drop("_ed_conf"),
                                       dim=3)
        # metadata-less state with wrong-family rows: the per-row
        # guard folded into the bucket projection refuses at execution
        nometa = state.withColumn(
            "_ed_conf", F.concat(F.col("_ed_conf"), F.lit("")))
        assert not (nometa.schema["_ed_conf"].metadata or {})
        # AQE can surface the guard as a multi-stage materialization
        # failure (raw Py4J error, not a converted PySparkException) —
        # assert on the USER_RAISED_EXCEPTION message either way
        with pytest.raises(Exception, match="plane family"):
            semantic_dedup_incremental(batch, nometa, num_planes=10,
                                       dim=3).collect()

    def test_state_parquet_round_trip(self, spark, corpus, tmp_path):
        """The deployment shape: state persisted as parquet, probed in
        a later session — metadata stamp survives the round trip."""
        from db2pq_spark.operators.similarity import (
            embedding_dedup_state, semantic_dedup_incremental)

        p = str(tmp_path / "ed_state.parquet")
        embedding_dedup_state(corpus, dim=3).write.parquet(p)
        state = spark.read.parquet(p)
        assert (state.schema["_ed_conf"].metadata or {}).get(
            "ed_conf") == "p12/d3/s0"
        batch = corpus.select(
            (F.col("vec_id") + 100).alias("vec_id"), "embedding")
        got = {(r["batch_id"], r["corpus_id"]) for r in
               semantic_dedup_incremental(batch, state,
                                          threshold=0.999,
                                          dim=3).collect()}
        assert got == {(101, 1), (102, 2), (103, 3), (104, 4)}


class TestKmeans:
    def test_two_obvious_clusters(self, spark):
        from db2pq_spark.operators.clustering import kmeans_fit

        # two tight blobs around (0,0) and (10,10); k=2 seeded by the
        # two lowest ids — one in each blob so Lloyd converges in one
        # round and membership is unambiguous
        rows = [(0, [0.0, 0.1]), (1, [10.0, 10.1]),
                (2, [0.2, 0.0]), (3, [9.9, 10.0]),
                (4, [0.1, 0.2]), (5, [10.1, 9.9])]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<float>")
        assigned, centroids = kmeans_fit(df, k=2, iterations=2)
        got = {r["id"]: r["cluster"] for r in assigned.collect()}
        assert got[0] == got[2] == got[4]
        assert got[1] == got[3] == got[5]
        assert got[0] != got[1]
        # centroids are the blob means (round_scale=9)
        c_lo = centroids[got[0]]
        assert abs(c_lo[0] - 0.1) < 1e-6 and abs(c_lo[1] - 0.1) < 1e-6

    def test_empty_cluster_keeps_previous_centroid(self, spark):
        from db2pq_spark.operators.clustering import kmeans_fit

        # k=3 but only two distinct points: the seed centroid whose
        # cluster empties out must survive unchanged
        rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0]),
                (3, [5.0, 5.0])]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<float>")
        assigned, centroids = kmeans_fit(df, k=3, iterations=2)
        assert len(centroids) == 3
        # ties go to the lower cluster id, so cluster 1 (seeded by the
        # duplicate of point 0) ends empty but keeps its seed centroid
        assert centroids[1] == [0.0, 0.0]
        n = assigned.count()
        assert n == 4

    def test_deterministic_across_runs(self, spark):
        from db2pq_spark.operators.clustering import kmeans_fit

        import random
        rng = random.Random(17)
        rows = [(i, [rng.gauss(0, 1) for _ in range(4)])
                for i in range(50)]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<float>")
        _, c1 = kmeans_fit(df, k=4, iterations=2)
        _, c2 = kmeans_fit(df, k=4, iterations=2)
        assert c1 == c2

    def test_arrow_impl_agrees_with_exact(self, spark):
        # BLAS assignment vs exact-decimal assignment: identical
        # labels and centroids away from boundary ties (random data)
        import random

        from db2pq_spark.operators.clustering import kmeans_fit

        rng = random.Random(23)
        rows = [(i, [rng.gauss(0, 1) for _ in range(8)])
                for i in range(120)]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<float>")
        a_ex, c_ex = kmeans_fit(df, k=3, iterations=2, impl="exact")
        a_ar, c_ar = kmeans_fit(df, k=3, iterations=2, impl="arrow")
        ex = {r["id"]: r["cluster"] for r in a_ex.collect()}
        ar = {r["id"]: r["cluster"] for r in a_ar.collect()}
        assert ex == ar
        assert c_ex == c_ar


class TestSelectUntilBudget:
    ROWS = [
        # (id, score, size) — ranked by (score desc, id asc):
        # 3(90,40) -> 1(80,30) -> 5(80,50) -> 2(50,20) -> 4(10,100)
        (1, 80, 30),
        (2, 50, 20),
        (3, 90, 40),
        (4, 10, 100),
        (5, 80, 50),
    ]

    def _run(self, spark, budget, **kw):
        from db2pq_spark.operators.mixing import select_until_budget

        df = spark.createDataFrame(self.ROWS,
                                   "id long, score long, size long")
        out = select_until_budget(df, "score", "size", "id",
                                  budget=budget, **kw)
        return {r["id"]: r for r in out.collect()}

    def test_greedy_prefix_admission(self, spark):
        rows = self._run(spark, budget=100)
        assert [rows[i]["rank"] for i in (3, 1, 5, 2, 4)] \
            == [1, 2, 3, 4, 5]
        assert [rows[i]["cum_before"] for i in (3, 1, 5, 2, 4)] \
            == [0, 40, 70, 120, 140]
        # 40+30 fit (70); adding 5's 50 would hit 120 > 100 -> cut
        assert {i for i, r in rows.items() if r["kept"]} == {3, 1}

    def test_budget_boundary_inclusive(self, spark):
        rows = self._run(spark, budget=120)
        # 70 + 50 == 120 fits exactly
        assert {i for i, r in rows.items() if r["kept"]} == {3, 1, 5}

    def test_tail_not_backfilled(self, spark):
        # greedy prefix, not knapsack: once a doc overflows, later
        # smaller docs are NOT admitted even if they would fit
        rows = self._run(spark, budget=110)
        assert {i for i, r in rows.items() if r["kept"]} == {3, 1}
        assert not rows[2]["kept"]   # size 20 would fit, rank after cut

    def test_zero_budget_and_validation(self, spark):
        import pytest as _pytest

        rows = self._run(spark, budget=0)
        assert not any(r["kept"] for r in rows.values())
        with _pytest.raises(ValueError, match="budget"):
            self._run(spark, budget=-1)

    def test_score_tie_breaks_by_id(self, spark):
        rows = self._run(spark, budget=1000)
        assert rows[1]["rank"] < rows[5]["rank"]   # both score 80
        assert all(r["kept"] for r in rows.values())

    def test_bounded_fast_path_matches(self, spark):
        a = self._run(spark, budget=100)
        b = self._run(spark, budget=100, bounded=10)
        assert {i: (r["rank"], r["cum_before"], r["kept"])
                for i, r in a.items()} \
            == {i: (r["rank"], r["cum_before"], r["kept"])
                for i, r in b.items()}


class TestKnScoreIncrement:
    """kn_bigram_stats + kn_score_documents (q141, round 10): the
    persisted-LM scoring split with the backoff/OOV ladder and the
    _kn_keys stamp discipline."""

    @pytest.fixture()
    def train(self, spark):
        return spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c")], "doc_id long, text string")

    def test_self_scoring_matches_one_shot(self, spark, train):
        from db2pq_spark.operators.textstats import (
            kn_bigram_stats, kn_score_documents, kneser_ney_bigrams)

        stats = kn_bigram_stats(train, "text")
        inc = {r["id"]: r for r in
               kn_score_documents(train, stats, "text",
                                  "doc_id").collect()}
        one = {r["id"]: r for r in
               kneser_ney_bigrams(train, "text", "doc_id").collect()}
        assert set(inc) == set(one)
        for i in one:
            assert inc[i]["n_bigrams"] == one[i]["n_bigrams"]
            assert inc[i]["sum_surprisal"] == one[i]["sum_surprisal"]

    def test_oov_ladder(self, spark, train):
        import math

        from db2pq_spark.operators.textstats import (
            kn_bigram_stats, kn_score_documents)

        # train bc: (a,b)=3 (b,a)=1 (b,c)=1; ctx a:(3,1) b:(2,2);
        # cont a=1 b=1 c=1; nt=3
        stats = kn_bigram_stats(train, "text")
        batch = spark.createDataFrame(
            [(10, "a c"),     # seen ctx a, unseen pair, seen cont c
             (11, "z b"),     # unseen ctx z, seen cont b
             (12, "z q")],    # unseen ctx, unseen cont
            "doc_id long, text string")
        got = {r["id"]: float(r["sum_surprisal"]) for r in
               kn_score_documents(batch, stats, "text",
                                  "doc_id").collect()}
        d = 0.75
        p_ac = 0.0 / 3 + (d * 1 / 3) * (1 / 3)   # lambda(a)*Pcont(c)
        p_zb = 1 / 3                              # Pcont(b)
        p_zq = 1 / (3 + 1)                        # OOV floor
        for i, p in ((10, p_ac), (11, p_zb), (12, p_zq)):
            assert abs(got[i] - round(-math.log2(p), 6)) < 1e-6

    def test_stamp_discipline(self, spark, train):
        from db2pq_spark.operators.textstats import (
            kn_bigram_stats, kn_score_documents)

        stats = kn_bigram_stats(train, "text", keys="hash")
        # column-metadata fast path: wrong family fails at PLAN time,
        # zero Spark jobs (round 11 — the old eager distinct().collect()
        # validation re-ran the full training aggregate)
        with pytest.raises(ValueError, match="keys='hash'"):
            kn_score_documents(train, stats, "text", "doc_id",
                               keys="exact")
        with pytest.raises(ValueError, match="no _kn_keys stamp"):
            kn_score_documents(train, stats.drop("_kn_keys"),
                               "text", "doc_id")
        # hash-stamped state probed as hash scores fine
        rows = kn_score_documents(train, stats, "text", "doc_id",
                                  keys="hash").collect()
        assert len(rows) == 2

    def test_row_level_guard_catches_mixed_and_unstamped(
            self, spark, train):
        """The authoritative in-plan guard (folded into the type-total
        aggregate): unions that merged mismatched families, and states
        whose column metadata was lost, still refuse at execution."""
        from pyspark.errors.exceptions.base import PySparkException

        from db2pq_spark.operators.textstats import (
            kn_bigram_stats, kn_score_documents)

        from pyspark.sql import functions as F

        # per-row stamp drift (e.g. a hand-merged state): the column
        # metadata still says 'exact' so the plan-time fast path
        # passes — the row-level guard must fire at execution
        exact = kn_bigram_stats(train, "text")
        mixed = exact.select(
            "w1", "w2", "c12",
            F.when(F.col("c12") > 1, F.lit("hash"))
             .otherwise(F.col("_kn_keys")).alias(
                 "_kn_keys", metadata={"kn_keys": "exact"}))
        with pytest.raises(PySparkException,
                           match="stamp other than 'exact'"):
            kn_score_documents(train, mixed, "text",
                               "doc_id").collect()
        # metadata-less state (e.g. persisted by an older build) whose
        # rows carry the wrong family: the plan-time fast path is
        # silent (no metadata to check), the guard still refuses
        nometa = exact.select(
            "w1", "w2", "c12",
            F.concat(F.lit("hash"), F.lit("")).alias("_kn_keys"))
        assert not (nometa.schema["_kn_keys"].metadata or {})
        with pytest.raises(PySparkException,
                           match="stamp other than 'exact'"):
            kn_score_documents(train, nometa, "text", "doc_id",
                               keys="exact").collect()

    def test_empty_stats_refuses(self, spark, train):
        """Empty stats => nt=0 => OOV floor 1/(nt+1)=1 => every bigram
        scores 0 surprisal and every document looks maximally fluent;
        the operator must refuse, not silently mis-score (round-11
        ADVICE fix)."""
        from pyspark.errors.exceptions.base import PySparkException
        from pyspark.sql import functions as F

        from db2pq_spark.operators.textstats import (
            kn_bigram_stats, kn_score_documents)

        empty = kn_bigram_stats(train, "text").where(F.lit(False))
        with pytest.raises(PySparkException, match="EMPTY"):
            kn_score_documents(train, empty, "text",
                               "doc_id").collect()

    def test_broadcast_stats_flag_same_answer(self, spark, train):
        """broadcast_stats=True (the bounded-increment deployment
        config) must be a pure plan hint — identical values to the
        default AQE-sized path."""
        from db2pq_spark.operators.textstats import (
            kn_bigram_stats, kn_score_documents)

        stats = kn_bigram_stats(train, "text")
        a = {r["id"]: r["sum_surprisal"] for r in kn_score_documents(
            train, stats, "text", "doc_id").collect()}
        b = {r["id"]: r["sum_surprisal"] for r in kn_score_documents(
            train, stats, "text", "doc_id",
            broadcast_stats=True).collect()}
        assert a == b


class TestHardNegatives:
    def test_same_label_excluded_and_ranked(self, spark):
        from db2pq_spark.operators.similarity import hard_negatives

        rows = [
            (1, [1.0, 0.0, 0.0], 7),
            (2, [1.0, 0.001, 0.0], 7),   # near-identical but SAME label
            (3, [1.0, 0.1, 0.0], 8),     # closest different-label
            (4, [0.0, 1.0, 0.0], 8),     # orthogonal, different label
            (5, [-1.0, 0.0, 0.0], 9),    # opposite, different label
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        out = hard_negatives(df, df.filter("vec_id = 1"), k=3)
        got = [(r["neighbor_id"], r["neg_label"], r["rank"])
               for r in out.orderBy("rank").collect()]
        # 2 shares label 7 with the query -> excluded despite cos ~ 1
        assert [g[0] for g in got] == [3, 4, 5]
        assert [g[1] for g in got] == [8, 8, 9]

    def test_null_label_never_matches_itself(self, spark):
        from db2pq_spark.operators.similarity import hard_negatives

        rows = [(1, [1.0, 0.0], None), (2, [1.0, 0.01], None),
                (3, [0.9, 0.1], 5)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        out = hard_negatives(df, df.filter("vec_id = 1"), k=5)
        # NULL label vs NULL label is "same" under null-safe equality:
        # vec 2 is a positive (unknown-but-matching), only 3 survives
        assert [r["neighbor_id"] for r in out.collect()] == [3]

    def test_include_unlabeled_false_drops_null_corpus(self, spark):
        from db2pq_spark.operators.similarity import hard_negatives

        rows = [(1, [1.0, 0.0], 5), (2, [1.0, 0.01], None),
                (3, [0.9, 0.1], 6)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        q = df.filter("vec_id = 1")
        # default: the unjudged vec 2 is a candidate negative
        assert {r["neighbor_id"]
                for r in hard_negatives(df, q, k=5).collect()} == {2, 3}
        # opt-out: unknown-label corpus rows may be unjudged positives
        got = hard_negatives(df, q, k=5,
                             include_unlabeled=False).collect()
        assert [r["neighbor_id"] for r in got] == [3]


class TestPrototypePrune:
    def _emb(self, spark):
        # two tight clusters around (0,0) and (10,10); point 1 and 5
        # ARE the k=2 lowest-id seeds
        rows = [
            (1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [0.2, 0.1]),
            (4, [0.3, 0.3]),
            (5, [10.0, 10.0]), (6, [10.1, 10.0]), (7, [10.2, 10.1]),
            (8, [10.4, 10.3]),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")

    def test_drops_closest_quarter_per_cluster(self, spark):
        from db2pq_spark.operators.clustering import prototype_prune

        out = prototype_prune(self._emb(spark), k=2, iterations=1,
                              drop=(1, 4)).collect()
        kept = {r["id"] for r in out}
        # 4 points per cluster, drop (4*1) div 4 = 1 each: the point
        # nearest its centroid goes; the far edges survive
        assert len(kept) == 6
        assert 4 in kept and 8 in kept
        for r in out:
            assert r["proto_rank"] > 1  # rank-1 prototypes were cut

    def test_drop_zero_keeps_everything(self, spark):
        from db2pq_spark.operators.clustering import prototype_prune

        out = prototype_prune(self._emb(spark), k=2, iterations=1,
                              drop=(0, 1))
        assert out.count() == 8

    def test_bad_fraction_raises(self, spark):
        from db2pq_spark.operators.clustering import prototype_prune

        import pytest as _pytest
        with _pytest.raises(ValueError, match="drop"):
            prototype_prune(self._emb(spark), k=2, drop=(4, 4))


class TestGopherArrowKernel:
    def test_arrow_matches_exact_on_fixture(self, spark, sf_dir):
        from db2pq_spark.operators.repetition import gopher_repetition

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = sorted(tuple(r) for r in
                   gopher_repetition(docs, "text", "doc_id",
                                     keys="exact").collect())
        b = sorted(tuple(r) for r in
                   gopher_repetition(docs, "text", "doc_id",
                                     keys="arrow").collect())
        assert a == b

    def test_arrow_handcrafted_coverage(self, spark):
        from db2pq_spark.operators.repetition import gopher_repetition

        # "x y x y x y" : top 2-gram "x y" count 2 (occurrences at
        # tokens 1-2, 3-4; the 2-4 "y x" also count 2 -> tie resolved
        # by char length, all equal 3 -> chars 2*3=6 either way
        df = spark.createDataFrame([(1, "x y x y x y")],
                                   "doc_id long, text string")
        r = gopher_repetition(df, "text", "doc_id",
                              keys="arrow").collect()[0]
        e = gopher_repetition(df, "text", "doc_id",
                              keys="exact").collect()[0]
        assert tuple(r) == tuple(e)
        assert r["n_chars"] == 11 and r["top2_chars"] == 9

    def test_arrow_overlapping_n_yields_both_columns(self, spark):
        """An n-gram size present in BOTH top_max_pct and dup_max_pct
        must produce BOTH top{n}_chars and dup{n}_chars (the kernel
        used to fill only one list, breaking the DataFrame build)."""
        from db2pq_spark.operators.repetition import gopher_repetition

        df = spark.createDataFrame(
            [(1, "x y x y x y"), (2, "a b c d e"), (3, "q q q")],
            "doc_id long, text string")
        cfg = dict(top_max_pct={2: 20, 3: 18}, dup_max_pct={2: 15})
        a = {r["id"]: r.asDict() for r in
             gopher_repetition(df, "text", "doc_id", keys="arrow",
                               **cfg).collect()}
        e = {r["id"]: r.asDict() for r in
             gopher_repetition(df, "text", "doc_id", keys="exact",
                               **cfg).collect()}
        assert set(a) == {1, 2, 3}
        for d in a:
            assert a[d] == e[d]
        assert {"top2_chars", "dup2_chars", "top3_chars"} <= set(a[1])
        assert a[1]["top2_chars"] == 9 and a[1]["dup2_chars"] > 0


class TestGopherBatchKernel:
    """r13: _gopher_arrow's per-batch body was rewritten from per-doc
    np.unique(axis=0) slice grouping to ONE batch-wide rank-doubling
    chain. Pin the new `_gopher_batch` bit-identical to the old
    per-document algorithm, pure pandas — no Spark session needed."""

    @staticmethod
    def _old_batch(pdf, top_max_pct, dup_max_pct):
        import numpy as np
        import pandas as pd

        top_ns, dup_ns = sorted(top_max_pct), sorted(dup_max_pct)
        all_ns = sorted(set(top_ns) | set(dup_ns))
        cols = (["n_chars"] + [f"top{n}_chars" for n in top_ns]
                + [f"dup{n}_chars" for n in dup_ns])
        out = {c: [] for c in ["id"] + cols}
        for id_, lens, th in zip(pdf["id"], pdf["_lens"], pdf["_th"]):
            lens = np.asarray(lens, dtype=np.int64)
            th = np.asarray(th, dtype=np.int64)
            m = len(th)
            offs = np.concatenate(([0], np.cumsum(lens + 1)))
            out["id"].append(id_)
            out["n_chars"].append(int(offs[m]) - 1)
            for n in all_ns:
                if m < n:
                    if n in top_max_pct:
                        out[f"top{n}_chars"].append(0)
                    if n in dup_max_pct:
                        out[f"dup{n}_chars"].append(0)
                    continue
                k = m - n + 1
                sl = np.lib.stride_tricks.sliding_window_view(th, n)
                _, inv, cnts = np.unique(
                    sl, axis=0, return_inverse=True, return_counts=True)
                s, e = offs[:k], offs[n:n + k] - 1
                if n in top_max_pct:
                    glen = np.full(len(cnts), np.iinfo(np.int64).max)
                    np.minimum.at(glen, inv, e - s)
                    cand = cnts >= 2
                    if not cand.any():
                        out[f"top{n}_chars"].append(0)
                    else:
                        order = np.lexsort((glen[cand], cnts[cand]))
                        best = order[-1]
                        out[f"top{n}_chars"].append(
                            int(cnts[cand][best]) * int(glen[cand][best]))
                if n in dup_max_pct:
                    dup = cnts[inv] >= 2
                    if not dup.any():
                        out[f"dup{n}_chars"].append(0)
                    else:
                        ds, de = s[dup], e[dup]
                        pmax = np.concatenate(
                            ([ds[0]], np.maximum.accumulate(de)[:-1]))
                        out[f"dup{n}_chars"].append(int(np.maximum(
                            de - np.maximum(ds, pmax), 0).sum()))
        return pd.DataFrame(out)

    def _mkbatch(self, seed, ndocs, vocab, minm, maxm):
        import random

        import numpy as np
        import pandas as pd

        rng = random.Random(seed)
        hash_of = {w: rng.getrandbits(63) - rng.getrandbits(62)
                   for w in range(vocab)}
        ids, lens, ths = [], [], []
        for i in range(ndocs):
            m = rng.randint(minm, maxm)
            toks = [rng.randint(0, vocab - 1) for _ in range(m)]
            if rng.random() < 0.6 and m >= 12:
                ph = toks[:rng.randint(2, 11)]
                toks = (ph * rng.randint(2, 5) + toks)[:m]
            ids.append(i)
            lens.append(np.array([1 + abs(hash_of[t]) % 7
                                  for t in toks], dtype=np.int64))
            ths.append(np.array([hash_of[t] for t in toks],
                                dtype=np.int64))
        return pd.DataFrame({"id": ids, "_lens": lens, "_th": ths})

    @pytest.mark.parametrize("case", [
        (1, 80, 6, 1, 40),      # tiny vocab: heavy repetition
        (2, 120, 500, 1, 120),  # realistic mix
        (3, 30, 3, 1, 9),       # short docs, many below n
        (4, 1, 4, 1, 1),        # single 1-token doc
    ])
    def test_batch_matches_per_doc_reference(self, case):
        from db2pq_spark.operators.repetition import (
            GOPHER_DUP_NGRAM_MAX_PCT, GOPHER_TOP_NGRAM_MAX_PCT,
            _gopher_batch)

        pdf = self._mkbatch(*case)
        for top, dup in [(GOPHER_TOP_NGRAM_MAX_PCT,
                          GOPHER_DUP_NGRAM_MAX_PCT),
                         ({2: 20, 5: 15}, {2: 10, 5: 9})]:
            a = self._old_batch(pdf, top, dup).reset_index(drop=True)
            b = _gopher_batch(pdf, top, dup).reset_index(drop=True)
            b = b[a.columns]
            a = a.astype({c: "int64" for c in a.columns if c != "id"})
            b = b.astype({c: "int64" for c in b.columns if c != "id"})
            assert a.equals(b), f"kernel mismatch for config {top}/{dup}"

    def test_empty_batch(self):
        import pandas as pd

        from db2pq_spark.operators.repetition import (
            GOPHER_DUP_NGRAM_MAX_PCT, GOPHER_TOP_NGRAM_MAX_PCT,
            _gopher_batch)

        pdf = pd.DataFrame({"id": pd.Series([], dtype="int64"),
                            "_lens": [], "_th": []})
        out = _gopher_batch(pdf, GOPHER_TOP_NGRAM_MAX_PCT,
                            GOPHER_DUP_NGRAM_MAX_PCT)
        assert len(out) == 0
        assert "n_chars" in out.columns and "dup10_chars" in out.columns
