"""Suffix-array-style longest exact duplicated substring.

[extension — not in the reference] The exact-substring half of Lee et
al., *Deduplicating Training Data Makes Language Models Better*
(arXiv:2107.06499 §4.1), beyond the fixed-n span counts of
``dedup.duplicate_spans`` (q102/q116): for every document, the EXACT
token length of its longest substring that occurs 2+ times anywhere in
the corpus (any document, including itself, overlaps allowed) — the
signal the paper's suffix array exists to produce — plus the removal
pass that cuts every maximal duplicated run of at least ``min_len``
tokens. Re-expressed as a distributed relational plan:

1. **Prefix doubling** (Karp–Miller–Rosenberg): level-k keys identify
   2^k-token spans; level k+1 composes each key from its two level-k
   halves in one (id, pos)-keyed self-join over the geometrically
   shrinking survivor minority (level 1 keys are composed in-row from
   the per-doc key arrays instead — the level-0 relation is
   corpus-sized, and a duplicated bigram's halves are duplicated by
   necessity, so the join's filter is a no-op there) — a span can
   only be duplicated if both halves are, so each level is one
   map-side-combined count over 8-byte composed keys.
   ``log2(longest duplicated span)`` levels total, never a suffix
   sort, never all-pairs.
2. **Bucketed neighbor-LCP extension**: a position whose top
   surviving level is k has its exact match length in
   ``[2^k, 2^{k+1})``; its best partner shares the level-k bucket, so
   sorting each bucket by the NEXT ``2^k`` tokens and taking the
   longest common prefix with the two sort neighbors yields the exact
   extension (the suffix-array LCP property: a suffix's best match is
   lexicographically adjacent — any consistent alphabet relabeling,
   including per-token hashes, preserves it). ONE (level, key)-
   partitioned window over the union of all levels' survivors; LCP is
   an in-row ``zip_with`` fold, and the per-position answer is the
   max over levels (lower levels never overshoot — each value is a
   real duplicated-substring length; the top level is exact).

``keys="hash"`` (production) composes xxhash64 keys — spans never
materialize as strings (the q102/q147 stance; 64-bit collisions are
the documented approximation). ``keys="exact"`` composes the actual
token grams — collision-free, pinned by the gate whose DuckDB oracle
computes ground truth INDEPENDENTLY (full substring enumeration), not
by replay.

The duplication threshold is fixed at 2 occurrences (the paper's
setting): the neighbor-LCP argument bounds the extension by the
*pairwise* match, which coincides with the duplication threshold only
at 2 — higher thresholds would need k-wide neighbor windows.

Known skew path: a boilerplate span repeated millions of times keeps
its positions in one extension bucket at every level; the per-bucket
sort is that bucket's O(b log b). ``max_bucket`` caps the sorted
members per bucket (deterministic smallest-(id,pos) sample) — capped
buckets report a LOWER BOUND on the extension (never on 2^k itself);
``None`` (gate) is exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from db2pq_spark.staging import stage

__all__ = ["longest_dup_span", "position_match_lengths",
           "remove_long_dup_spans"]

#: hard cap on doubling levels (2^20-token spans) — a runaway guard,
#: not a tuning knob; real corpora stop far earlier
MAX_LEVELS = 20

#: doubling levels computed in-row per document (one explode + one
#: aggregate for all of them); documents longer than 2^(k0+_INROW_LEVELS)
#: tokens continue on the classic join-loop — a runaway guard
_INROW_LEVELS = 12


def _lcp(a: Column, b: Column) -> Column:
    """Length of the longest common prefix of two arrays (0 when
    either is NULL — a missing sort neighbor)."""
    z = F.zip_with(a, b, lambda x, y: x.eqNullSafe(y))
    mismatch = F.array_position(z, False)
    return (F.when(a.isNull() | b.isNull(), F.lit(0))
            .when(mismatch > 0, mismatch - 1)
            .otherwise(F.least(F.size(a), F.size(b))))


def _prepare(df: DataFrame, text_col: str, id_col: str,
             keys: str) -> DataFrame:
    """(id, _tk, _kk): normalized tokens plus the key alphabet the
    doubling runs on (the tokens themselves, or xxhash64 relabels —
    equality-equivalent, which is all the LCP argument needs)."""
    if keys not in ("exact", "hash"):
        raise ValueError(f"unknown keys {keys!r} — 'exact' or 'hash'")
    from db2pq_spark.operators.dedup import doc_tokens, token_hashes_sql
    from db2pq_spark.operators.skew import ensure_parallelism

    # NOTE (r13, measured): pre-hash-partitioning this relation buys
    # nothing — staging under AQE erases outputPartitioning, so
    # downstream id-joins re-exchange regardless; an A/B at sf0.1
    # showed no win for repartition("id") (+checkpoint or +persist)
    # over the plain parallelism spread. Keep the original shape.
    base = doc_tokens(ensure_parallelism(df), text_col, id_col)
    kk = token_hashes_sql() if keys == "hash" else "_toks"
    return stage(base.selectExpr("id", "_toks AS _tk", f"{kk} AS _kk"))


def _position_mlens_raw(
    base_or_df: DataFrame, text_col: str | None = None,
    id_col: str | None = None, keys: str = "hash",
    max_bucket: int | None = None, min_len: int = 1,
) -> DataFrame:
    """(id, pos, mlen) with UP TO ONE ROW PER SURVIVING LEVEL per
    position — each row a valid lower bound on the position's exact
    longest duplicated-substring length, whose per-position MAX is
    exact (see :func:`position_match_lengths`, the deduplicating
    public wrapper). The doubling + neighbor-LCP core;
    :func:`longest_dup_span` aggregates it per document and
    :func:`remove_long_dup_spans` cuts from it — both are
    max/merge-insensitive to the duplicate rows, so they consume this
    raw relation and skip the per-position aggregate's corpus-sized
    exchange. Accepts either a raw (df, text_col, id_col) triple or a
    pre-``_prepare``-d relation.

    ``min_len`` > 1 starts the doubling at level
    ``k0 = floor(log2(min_len))`` — the 2^k0-gram keys are computed
    in ONE in-row pass (a slice hash per position, the q147 gram-key
    shape), skipping the low levels entirely. Those are the expensive
    ones: level 0 aggregates every corpus token, level k0 only the
    positions of duplicated 2^k0-grams. Any position with
    ``mlen >= min_len >= 2^k0`` survives level k0, so nothing the
    threshold asks for is lost."""
    base = (base_or_df if text_col is None
            else _prepare(base_or_df, text_col, id_col, keys))

    def compose(k1: Column, k2: Column) -> Column:
        if keys == "hash":
            return F.xxhash64(k1, k2)
        return F.concat_ws(" ", k1, k2)

    k0 = max(int(min_len).bit_length() - 1, 0)
    step0 = 1 << k0

    # r13: the serial doubling LOOP is gone for every realistic
    # corpus. All level-k key arrays are computable IN-ROW by per-doc
    # array doubling — a_k[j] = compose(a_{k-1}[j], a_{k-1}[j+2^{k-1}])
    # is the identical recurrence the join-based loop evaluated, so
    # key values (including hash-collision behavior) are bit-identical
    # — and counting UNFILTERED keys per level changes no dup-key set:
    # a 2^k-gram occurring 2+ times necessarily has both halves
    # occurring 2+ times, so every key reaching the threshold has the
    # same count filtered or not, and keys the old candidate filter
    # dropped had count 1. One explode emits (level, pos, key) for all
    # levels at once; ONE (level, key) map-side-combined aggregate and
    # ONE semi-join replace L serial checkpoint barriers, their
    # executor-storage materializations and 2L driver-sequential jobs
    # (guide §2.4/§5 — at 100 TB this trades a bounded L× widening of
    # one shuffle's input for the removal of L corpus-scale barriers;
    # the widening is capped because levels shrink geometrically past
    # the boilerplate scale and empty levels emit nothing).
    # The driver-side span bound (longest document ⇒ top level) is a
    # 1-row bounded collect that also materializes the lazy base
    # stage. Documents beyond 2^(_INROW_LEVELS+k0) tokens fall
    # back to the classic join-loop continuation below — a runaway
    # guard, not a tuning knob.
    mrow = base.agg(F.max(F.size("_kk")).alias("m")).first()
    maxlen = int(mrow["m"] or 0)
    if maxlen < step0:
        # no document long enough to seed level k0 — typed empty
        return base.select(
            "id", F.lit(1).alias("pos"),
            F.lit(1).cast("bigint").alias("mlen")).where(F.lit(False))
    top = max(maxlen.bit_length() - 1, k0)  # floor(log2(maxlen))
    l_inrow = min(top, k0 + _INROW_LEVELS - 1)

    if step0 == 1:
        seed = F.col("_kk")
    elif keys == "hash":
        seed = F.transform(
            F.sequence(F.lit(1), F.size("_kk") - step0 + 1),
            lambda j: F.xxhash64(F.slice("_kk", j, step0)))
    else:
        seed = F.transform(
            F.sequence(F.lit(1), F.size("_kk") - step0 + 1),
            lambda j: F.concat_ws(" ", F.slice("_kk", j, step0)))
    cur = base.where(F.size("_kk") >= step0) \
        .withColumn(f"_a{k0}", seed)
    for k in range(k0 + 1, l_inrow + 1):
        width, half, prev = 1 << k, 1 << (k - 1), f"_a{k - 1}"

        def _dbl(j, _p=prev, _h=half):
            return compose(F.element_at(F.col(_p), j),
                           F.element_at(F.col(_p), j + _h))

        # shorter docs get a typed empty array (slice(x, 1, 0)) so the
        # flatten below never sees a NULL level
        cur = cur.withColumn(f"_a{k}", F.when(
            F.size("_kk") >= width,
            F.transform(F.sequence(F.lit(1),
                                   F.size("_kk") - width + 1),
                        lambda j: _dbl(j)))
            .otherwise(F.slice(F.col(prev), 1, 0)))

    def _tagged(k: int) -> Column:
        return F.transform(
            F.col(f"_a{k}"),
            lambda el, i: F.struct(
                F.lit(k).cast("int").alias("level"),
                (i + 1).alias("pos"), el.alias("key")))

    pairs = F.flatten(F.array(*[
        _tagged(k) for k in range(k0, l_inrow + 1)]))
    # r14 (guide §2.4 + the verify-recipe gotcha): the tagged-level
    # flatten sits under lambdas, and Spark gives up exchange-reuse
    # canonicalization for Generate inputs containing lambdas — every
    # consumer of the exploded relation RE-RAN the whole doubling
    # chain (L × n xxhash64 compositions) over the corpus: the
    # dup-key aggregate and the semi-join probe each computed it, and
    # q149's flat0 branch doubled that again (4 Generate subtrees in
    # the r13 plan). Staging the PACKED per-doc (level, pos, key)
    # arrays (lazily — it materializes inside the first job that
    # needs it) makes the chains compute ONCE, and the downstream
    # explode is a plain column Generate — lambda-free, so the
    # dup-key aggregate + BroadcastExchange canonicalize and REUSE
    # across branches instead of re-aggregating per consumer.
    # executor storage: the staged arrays hold ~L × corpus key width
    # until the result is garbage-collected (SCALE.md, staging)
    packed = stage(cur.select("id", pairs.alias("_p")))
    lvl_all = (packed.select("id", F.explode("_p").alias("_s"))
               .select("id", F.col("_s.level").alias("level"),
                       F.col("_s.pos").alias("pos"),
                       F.col("_s.key").alias("key")))
    dupk = (lvl_all.groupBy("level", "key")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") >= 2).select("level", "key"))
    if k0 == 0:
        # r14: two branches (flat0 + the extension window) consume the
        # survivor relation, and AQE does NOT reuse the dup-key
        # aggregate's stages across them at runtime (measured: the
        # executed q149 plan carried the aggregate twice). Pin the
        # DUP-KEY relation — key-cardinality-bounded, tiny next to the
        # corpus — so the aggregate runs once and each branch's probe
        # is just an explode over the packed stage plus a
        # broadcast semi-join. (Pinning the survivor ROWS instead was
        # measured a wash at the 100× replica: level-0 survivors are
        # nearly every token position, so that stage wrote a
        # corpus-sized relation to save a corpus-sized recompute.)
        # Single-branch callers (min_len > 1) skip the barrier.
        dupk = stage(dupk, eager=True)
    all_surv = lvl_all.join(dupk, ["level", "key"], "left_semi")

    # r13: level 0 never enters the extension window. Its buckets are
    # single-token groups — Zipf-skewed (the "the" bucket sorts every
    # occurrence of the most frequent token) — and its value is
    # provably redundant: a level-0 survivor also in level 1 gets its
    # exact answer from the level-≥1 window rows (level-k values are
    # bounded by 2^{k+1} ≤ the level-(k+1) value, and the top level is
    # exact — in particular an mlen of exactly 2 is produced by level
    # 1 itself), while one NOT in level 1 has no duplicated bigram at
    # its position, hence mlen exactly 1. The flat (id, pos, 1) rows
    # are therefore bit-identical under the per-position MAX — with
    # ~40% of the window input and its worst sort skew gone (§2.3).
    flat0 = None
    if k0 == 0:
        flat0 = all_surv.where(F.col("level") == 0).select(
            "id", "pos", F.lit(1).cast("bigint").alias("mlen"))
        all_surv = all_surv.where(F.col("level") >= 1)

    # classic join-loop continuation for documents longer than the
    # in-row level budget (runaway guard; never taken on real corpora
    # under the default _INROW_LEVELS)
    if top > l_inrow:
        surv = stage(all_surv.where(F.col("level") == l_inrow)
                     .select("id", "pos", "key"), eager=True)
        step = 1 << l_inrow
        for level in range(l_inrow + 1, MAX_LEVELS):
            right = surv.select(
                "id", (F.col("pos") - F.lit(step)).alias("pos"),
                F.col("key").alias("key2"))
            lvl = (surv.join(right, ["id", "pos"])
                   .select("id", "pos",
                           compose(F.col("key"), F.col("key2"))
                           .alias("key")))
            dup_keys = (lvl.groupBy("key")
                        .agg(F.count("*").alias("c"))
                        .where(F.col("c") >= 2).select("key"))
            surv = stage(lvl.join(dup_keys, "key", "left_semi"),
                         eager=True)
            if surv.isEmpty():
                break
            all_surv = all_surv.unionByName(surv.select(
                F.lit(level).cast("int").alias("level"),
                "id", "pos", "key"))
            step *= 2

    # r13: extension for ALL levels in ONE pass — one id-keyed join
    # against the (id-partitioned) base, one (level, key)-partitioned
    # window — instead of one join + one window PER level (guide
    # §2.4: 2L exchanges → 2). Levels never mix: the window partitions
    # on (level, key), the same isolation the per-level windows had.
    # Each level-k bucket sorts by the NEXT 2^k tokens; exact match
    # length = 2^k + max neighbor LCP (the suffix-array adjacency
    # argument in the module docstring).
    stepc = F.expr("shiftleft(1, level)")
    sl = (all_surv.join(base.select("id", "_kk"), "id")
          .select("level", "id", "pos", "key",
                  F.expr("slice(_kk, pos + shiftleft(1, level),"
                         " shiftleft(1, level))").alias("_sl")))
    capped_floor = None
    if max_bucket is not None:
        cap = W.partitionBy("level", "key").orderBy("id", "pos")
        sl = sl.withColumn("_bn", F.row_number().over(cap))
        # beyond-cap members keep the 2^k floor instead of vanishing —
        # the cap bounds only the EXTENSION work, so a capped answer
        # is a lower bound never below 2^k
        capped_floor = (sl.where(F.col("_bn") > int(max_bucket))
                        .select("id", "pos",
                                stepc.cast("bigint").alias("mlen")))
        sl = sl.where(F.col("_bn") <= int(max_bucket)).drop("_bn")
    w = W.partitionBy("level", "key").orderBy("_sl", "id", "pos")
    ext = F.greatest(
        _lcp(F.col("_sl"), F.lag("_sl").over(w)),
        _lcp(F.col("_sl"), F.lead("_sl").over(w)))
    mlens = sl.select("id", "pos",
                      (stepc + ext).cast("bigint").alias("mlen"))
    if capped_floor is not None:
        mlens = mlens.unionByName(capped_floor)
    if flat0 is not None:
        mlens = mlens.unionByName(flat0)
    return mlens


def position_match_lengths(
    base_or_df: DataFrame, text_col: str | None = None,
    id_col: str | None = None, keys: str = "hash",
    max_bucket: int | None = None, min_len: int = 1,
) -> DataFrame:
    """(id, pos, mlen): for every token position starting a duplicated
    substring of at least ``min_len`` tokens, the EXACT length of the
    longest substring starting there that occurs 2+ times (positions
    below the threshold are absent). See :func:`_position_mlens_raw`
    for the doubling + neighbor-LCP core; this public wrapper
    finalizes each position's answer as the MAX over its surviving
    levels. Identical to the former top-level aggregate + 3-key join:
    a level-j value 2^j + lcp is the length of an ACTUAL duplicated
    substring starting at pos, so it never exceeds the true mlen; the
    TOP level's value equals mlen (the adjacency argument); capped
    floors 2^j <= 2^top likewise reproduce the old top-level floor
    exactly. r13: the in-package consumers (per-doc argmax, interval
    islands) are max/merge-insensitive to the duplicate per-level
    rows, so they consume the raw relation and skip this corpus-sized
    exchange entirely (guide §2.1)."""
    raw = _position_mlens_raw(base_or_df, text_col, id_col, keys,
                              max_bucket, min_len)
    return raw.groupBy("id", "pos").agg(F.max("mlen").alias("mlen"))


def longest_dup_span(
    df: DataFrame, text_col: str, id_col: str,
    keys: str = "hash", max_bucket: int | None = None,
) -> DataFrame:
    """Per document: ``(id, n_tokens, max_dup_len, max_dup_pos)`` —
    the exact token length of the longest substring occurring 2+
    times corpus-wide, and the leftmost 1-based token position where
    it starts (0/0 when the document shares no token at all).

    See the module docstring for the plan; every per-level step is
    one self-join + one count aggregate + one semi-join, and the
    extension is one window per level over the surviving minority."""
    base = _prepare(df, text_col, id_col, keys)
    docs = base.select("id", F.size("_tk").alias("n_tokens"))
    # r13: per-doc argmax over the RAW per-level rows — identical to
    # aggregating the per-position maxima first (the doc max is the
    # max over all rows either way, and a (mlen_max, pos) pair exists
    # among the raw rows iff it exists among the per-position maxima),
    # minus one corpus-sized exchange (guide §2.1).
    pm = _position_mlens_raw(base, keys=keys, max_bucket=max_bucket)
    per_doc = (pm.groupBy("id")
               .agg(F.max(F.struct(F.col("mlen"),
                                   (-F.col("pos")).alias("_np")))
                    .alias("_t"))
               .select("id", F.col("_t.mlen").alias("max_dup_len"),
                       (-F.col("_t._np")).alias("max_dup_pos")))
    return (docs.join(per_doc, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.coalesce("max_dup_len", F.lit(0)).cast("bigint")
                    .alias("max_dup_len"),
                    F.coalesce("max_dup_pos", F.lit(0)).cast("bigint")
                    .alias("max_dup_pos")))


def remove_long_dup_spans(
    df: DataFrame, text_col: str, id_col: str, min_len: int = 8,
    keys: str = "hash", max_bucket: int | None = None,
    keep: str = "none",
) -> DataFrame:
    """Cut every token covered by a maximal duplicated span of at
    least ``min_len`` tokens — the removal pass completing the Lee et
    al. exact-substring pipeline at LONGEST-MATCH granularity (the
    fixed-n twin is ``dedup.remove_duplicate_spans``; this variant
    never cuts a merely-n-gram-sized repeat, only runs whose exact
    duplicated length reaches ``min_len``).

    ``keep="one"`` selects, per distinct MERGED-ISLAND content (the
    xxhash64 of the island's exact token run), the exemplar island —
    minimum ``(id, start)`` — and spares it; every verbatim replica
    island is still cut. This is the paper's keep-one-occurrence
    semantics at the granularity this remover operates on: maximal
    merged blocks. A duplicated run that never recurs as an
    identical BLOCK (its copies merged into islands of different
    extent) keeps each of those distinct-content islands — a
    documented deviation from suffix-array keep-one, which resolves
    at substring granularity. The fixed-n twin with ``keep="one"``
    gives the per-key behavior when that matters.

    Returns ``(id, n_tokens, n_removed, cleaned)`` with ``cleaned``
    the space-joined kept tokens in order (empty string when the
    whole document is duplicated boilerplate).

    Scale: intervals ``[pos, pos+mlen)`` for qualifying positions are
    union-merged per document with the q116/q147 gaps-and-islands
    window (overlapping maximal runs collapse to islands — a
    duplicated BLOCK contributes its length once, not length²); the
    merged islands collect to ONE per-doc interval array (island
    minority, clustered by the window's own id partitioning — no new
    exchange) and the rebuild is IN-ROW: covered positions expand via
    ``sequence`` (Σ island lengths ≤ n_tokens — linear),
    ``array_except`` keeps the survivors in order (native hash set),
    and untouched documents — the corpus majority — take a
    ``WHEN _iv IS NULL`` fast path that re-emits the normalized
    tokens with one ``concat_ws``. No all-token explode, no
    (id, pos)-keyed anti-join of the token relation, no
    ``collect_list`` reassembly of the corpus (the shape
    ``dedup.remove_duplicate_spans`` documents as the suite's worst
    100× ratio — this remover briefly shipped it; r13 aligns both
    removers on the in-row rebuild)."""
    if keep not in ("none", "one"):
        raise ValueError(f"keep={keep!r} — 'none' or 'one'")
    base = _prepare(df, text_col, id_col, keys)
    # r13: intervals from the RAW per-level rows — a position's
    # sub-maximal rows yield intervals [pos, pos+m') with m' < mlen
    # that the gaps-and-islands union merges into the identical
    # islands the per-position maxima produce (same start, contained
    # extent), and rows below min_len are filtered here exactly as
    # the aggregated maxima would be; one corpus-sized exchange saved.
    pm = _position_mlens_raw(base, keys=keys, max_bucket=max_bucket,
                             min_len=int(min_len))
    ivs = (pm.where(F.col("mlen") >= int(min_len))
           .select("id", F.col("pos").alias("s"),
                   (F.col("pos") + F.col("mlen")).alias("e")))
    w = W.partitionBy("id").orderBy("s", "e") \
        .rowsBetween(W.unboundedPreceding, -1)
    isl = (ivs.withColumn("_pmax", F.max("e").over(w))
           .withColumn("_new", F.when(
               F.col("_pmax").isNull()
               | (F.col("s") > F.col("_pmax")), 1).otherwise(0))
           .withColumn("_isl", F.sum("_new").over(
               W.partitionBy("id").orderBy("s", "e")
               .rowsBetween(W.unboundedPreceding, 0)))
           .groupBy("id", "_isl")
           .agg(F.min("s").alias("s"), F.max("e").alias("e")))
    if keep == "one":
        # key each island by its exact content (the _kk slice, 1-based
        # start s, length e-s); exemplar = min (id, s) per key via the
        # argmin-by-struct pattern — one aggregate over the island
        # minority, then an in-row filter. Unique-content islands are
        # their own exemplar and survive (see docstring).
        islk = (isl.join(base.select("id", "_kk"), "id")
                .select("id", "s", "e",
                        F.xxhash64(F.slice(
                            "_kk", F.col("s"),
                            F.col("e") - F.col("s"))).alias("_ck")))
        ex = (islk.groupBy("_ck")
              .agg(F.min(F.struct("id", "s")).alias("_ex")))
        isl = (islk.join(ex, "_ck")
               .filter(~((F.col("id") == F.col("_ex.id"))
                         & (F.col("s") == F.col("_ex.s"))))
               .select("id", "s", "e"))
    # r13: in-row rebuild (the remove_duplicate_spans shape). Islands
    # are disjoint per doc by construction (gaps-and-islands merge;
    # keep="one" only removes members), so the covered expansion has
    # no duplicates and Σ lengths ≤ n_tokens. The island relation is
    # already clustered by id (the gaps-and-islands window partitioned
    # on it), so this collect adds no exchange; the former shape
    # exploded every token into rows, anti-joined them on (id, pos)
    # and re-collected the corpus — three token-level exchanges for
    # work the row itself can do (guide §2.3/§2.4).
    per_doc = isl.groupBy("id").agg(
        F.collect_list(F.struct("s", "e")).alias("_iv"))
    covered = F.flatten(F.transform(
        "_iv", lambda iv: F.sequence(iv["s"], iv["e"] - 1)))
    kept_pos = F.array_except(
        F.sequence(F.lit(1), F.size("_tk")), F.col("_cov"))
    # stepwise selects: each expensive alias referenced once per step,
    # so CollapseProject keeps one planned copy inside the affected-
    # rows branch (the remove_duplicate_spans discipline)
    return (base.join(per_doc, "id", "left")
            .select("id", "_tk",
                    F.when(F.col("_iv").isNotNull(), covered)
                    .alias("_cov"))
            .select("id", "_tk",
                    F.when(F.col("_cov").isNotNull(), kept_pos)
                    .alias("_kp"))
            .select(F.col("id").alias(id_col),
                    F.size("_tk").cast("bigint").alias("n_tokens"),
                    # size(NULL) is -1 under non-ANSI defaults —
                    # branch on the array itself
                    F.when(F.col("_kp").isNull(), F.lit(0))
                    .otherwise(F.size("_tk") - F.size("_kp"))
                    .cast("bigint").alias("n_removed"),
                    F.when(F.col("_kp").isNull(),
                           F.concat_ws(" ", "_tk"))
                    .otherwise(F.concat_ws(" ", F.transform(
                        "_kp", lambda p: F.element_at(
                            "_tk", p.cast("int")))))
                    .alias("cleaned")))
