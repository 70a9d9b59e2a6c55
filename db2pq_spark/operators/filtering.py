"""Corpus-filtering operators for LLM training-data pipelines.

[extension — not in the reference] The quality-filtering stages a
production corpus build runs between dedup and mixing, each with the
exactness discipline the oracle gate needs (integer cross-multiplied
thresholds instead of float ratios, decimal-accumulated entropy terms):

- :func:`gopher_rules` — the Gopher paper's per-document rule battery
  (Rae et al., arXiv:2112.11446 §A1.1) as explicit per-rule flags, not
  a blended score (``textstats.quality_score`` is the blended form).
- :func:`line_filter` — C4-style line-level boilerplate removal
  (Raffel et al., arXiv:1910.10683 §2.2): per-line keep rules, document
  reassembly, retention stats.
- :func:`remove_repeated_lines` — CCNet/RefinedWeb-style CORPUS-level
  repeated-line removal (arXiv:1911.00359 §3): drop lines whose
  normalized form recurs across the whole corpus, reassemble.
- :func:`repeated_line_counts` / :func:`remove_repeated_lines_incremental`
  — the persisted-state + new-batch shape of the same operator (the
  incremental-dedup stamp discipline; the corpus state never
  shuffles).
- :func:`char_entropy` — character-distribution Shannon entropy, the
  classic gibberish / binary-noise / key-mash detector.
- :func:`edit_confirm` — the exact verification stage of two-phase
  fuzzy dedup: candidate pairs (MinHash-LSH, winnowing, or blocked
  self-join) → Levenshtein similarity ≥ threshold. Spark's
  ``levenshtein`` is a codegen'd JVM expression; the similarity
  threshold is evaluated by integer cross-multiplication so the
  DuckDB oracle replays it bit-for-bit.
- :func:`cap_per_group` — RefinedWeb-style per-source/domain quota
  (Penedo et al., arXiv:2306.01116): keep the N best documents per
  group under a deterministic (score desc, id asc) total order.

Scale shapes are documented per function; nothing here is quadratic in
the corpus and nothing visits the driver.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from db2pq_spark.operators.dedup import (
    _q, normalize_expr, normalize_sql, normalize_text, tokens_sql,
)
from db2pq_spark.operators.textstats import stopword_count_sql
from db2pq_spark.staging import stage


def _pct(x: float, what: str) -> int:
    """A ratio threshold as an exact integer percentage (so rule
    comparisons are integer cross-multiplications, not float math)."""
    p = round(float(x) * 100)
    if not (0 <= p <= 100) or abs(p - float(x) * 100) > 1e-9:
        raise ValueError(
            f"{what}={x!r} must be a multiple of 0.01 in [0, 1] — "
            "thresholds are evaluated as exact integer percentages so "
            "engines agree bit-for-bit")
    return int(p)


def gopher_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_ratio: float = 0.10,
    min_alpha_frac: float = 0.80,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher quality-rule battery (arXiv:2112.11446 §A1.1) with one
    boolean column per rule plus the conjunction — pipelines keep the
    flags, not just the verdict, so a rejected document says WHY.

    Returns ``(id, n_words, word_chars, n_alpha_words, n_symbols,
    stop_hits, r_word_count, r_mean_word_len, r_symbol_ratio,
    r_alpha_frac, r_stopwords, passes)``.

    Exactness: every ratio rule is an integer cross-multiplication
    (``n_alpha * 100 >= pct * n_words``), and mean word length uses
    the identity ``word_chars = len(normalized) - (n_words - 1)``
    (single-spaced normalized text), so no float ever decides a flag
    and the DuckDB oracle replays the identical decisions.

    Scale: one narrow projection over the corpus — codegen'd
    expressions plus two per-token higher-order filters (interpreted
    but linear, no shuffle, no UDF)."""
    sym_pct = _pct(max_symbol_ratio, "max_symbol_ratio")
    alpha_pct = _pct(min_alpha_frac, "min_alpha_frac")
    bounds = (min_words, max_words, min_mean_word_len, max_mean_word_len,
              min_stopwords)
    if any(b != int(b) for b in bounds):  # truncating would move flags
        raise ValueError("word-count, word-length and stopword bounds "
                         f"must be whole numbers, got {bounds}")
    lo_words, hi_words, lo_len, hi_len, min_stop = map(int, bounds)
    norm = normalize_sql(text_col)
    toks = tokens_sql(text_col)
    n_words = f"CAST(size({toks}) AS BIGINT)"
    word_chars = f"CAST(length({norm}) - ({n_words} - 1) AS BIGINT)"
    n_alpha = f"CAST(size(filter({toks}, x -> x RLIKE '[a-z]')) AS BIGINT)"
    # Gopher's symbol rule counts '#' and ellipsis occurrences; a
    # non-overlapping regex scan is identical in Java regex and RE2.
    n_symbols = rf"CAST(regexp_count({_q(text_col)}, '#|\\.\\.\\.') AS BIGINT)"
    stop_hits = f"CAST({stopword_count_sql(text_col)} AS BIGINT)"
    cols = {
        "n_words": n_words, "word_chars": word_chars, "n_alpha_words": n_alpha,
        "n_symbols": n_symbols, "stop_hits": stop_hits,
        "r_word_count": f"({n_words} >= {lo_words}) AND "
                        f"({n_words} <= {hi_words})",
        "r_mean_word_len": f"({word_chars} >= {lo_len} * {n_words}) AND "
                           f"({word_chars} <= {hi_len} * {n_words})",
        "r_symbol_ratio": f"({n_symbols} * 100) <= ({sym_pct} * {n_words})",
        "r_alpha_frac": f"({n_alpha} * 100) >= ({alpha_pct} * {n_words})",
        "r_stopwords": f"{stop_hits} >= {min_stop}",
    }
    # nested, not a flat "a AND b AND ...": the parser balances a flat
    # chain, and the flags conjoin left to right
    passes = reduce(lambda acc, e: f"({acc}) AND ({e})",
                    [e for k, e in cols.items() if k.startswith("r_")])
    return df.selectExpr(f"{_q(id_col)} AS id",
                         *(f"{e} AS {k}" for k, e in cols.items()),
                         f"{passes} AS passes")


def line_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 3,
    blocklist: Sequence[str] = (),
    require_terminal_punct: bool = False,
    keep_min_lines: int = 1,
) -> DataFrame:
    """C4-style line-level boilerplate removal (arXiv:1910.10683
    §2.2): keep a line iff it has ≥ ``min_words`` words, contains no
    blocklist term, and (optionally) ends in terminal punctuation;
    reassemble the surviving lines and report retention stats.

    Returns ``(id, n_lines, n_kept, text_kept, kept_doc)`` —
    ``kept_doc`` is false when fewer than ``keep_min_lines`` lines
    survive (C4 drops such documents entirely).

    Blocklist matching is case-insensitive substring containment of
    each literal term (terms are regex-escaped), the C4 rule for
    "javascript" / policy-boilerplate lines.

    Scale: a purely narrow per-row transform — split, one
    higher-order ``filter`` (interpreted but linear in total line
    count), ``array_join``. No shuffle, no UDF; safe to fold into any
    scan-side projection."""
    import re as _re

    lines = _lines_sql(_q(text_col))
    norm = normalize_expr("ln")
    keep = [f"size(split({norm}, ' ')) >= {int(min_words)}"]
    if blocklist:
        block_re = "|".join(_re.escape(b.lower()) for b in blocklist)
        keep.append(f"NOT lower(ln) RLIKE {_str_sql(block_re)}")
    if require_terminal_punct:
        keep.append(f"{norm} RLIKE '[.!?]$'")
    kept = f"filter({lines}, ln -> {' AND '.join(keep)})"
    return df.selectExpr(
        f"{_q(id_col)} AS id",
        f"CAST(size({lines}) AS BIGINT) AS n_lines",
        f"CAST(size({kept}) AS BIGINT) AS n_kept",
        f"array_join({kept}, '\\n') AS text_kept",
        f"size({kept}) >= {int(keep_min_lines)} AS kept_doc",
    )


def _str_sql(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _lines_sql(text: str) -> str:
    """SQL text of the ``\\n``-separated lines of expression ``text``."""
    return f"split({text}, '\\n')"


def _line_keys_sql(lines: str, normalize: bool, line_key: str) -> str:
    """SQL text of the corpus-wide equality key of every line in the
    array ``lines``: the line's :func:`normalize_expr` form when
    ``normalize``, then either its xxhash64 (8-byte production key) or
    the string itself (oracle-replayable)."""
    k = normalize_expr("ln") if normalize else "ln"
    if line_key == "xxhash64":
        k = f"xxhash64({k})"
    return f"transform({lines}, ln -> {k})"


def _line_repr(normalize: bool, line_key: str) -> str:
    """The ``_lk_repr`` stamp value persisted line-count state carries
    — key family and normalization are both baked into the key, so a
    mismatch on either means the probe would match zero lines.
    ``norm=2`` is the collapse-then-trim form; state stamped
    ``norm=1`` (trim, then collapse) keys lines with edge tabs or CRs
    differently and must be rebuilt."""
    return f"{line_key}|norm={2 if normalize else 0}"


def _line_stage(df: DataFrame, text_col: str, id_col: str,
                normalize: bool, line_key: str) -> DataFrame:
    """Shared staging relation (id, _lines, _lk): per-doc line array +
    per-line key array, staged once so the count pass and the rebuild
    pass re-read it instead of re-splitting the corpus."""
    if line_key not in ("xxhash64", "text"):
        raise ValueError(f"unknown line_key {line_key!r} — expected "
                         "'xxhash64' or 'text'")
    lines = _lines_sql(f"coalesce({_q(text_col)}, '')")
    staged = df.selectExpr(f"{_q(id_col)} AS id", f"{lines} AS _lines")
    return stage(staged.selectExpr(
        "id", "_lines",
        f"{_line_keys_sql('_lines', normalize, line_key)} AS _lk"))


def remove_repeated_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_occurrences: int = 1,
    normalize: bool = True,
    line_key: str = "xxhash64",
) -> DataFrame:
    """Corpus-level repeated-line (boilerplate) removal, after
    CCNet (Wenzek et al., arXiv:1911.00359 §3, paragraph-hash dedup)
    and RefinedWeb (Penedo et al., arXiv:2306.01116): drop every line
    whose normalized form occurs more than ``max_occurrences`` times
    across the WHOLE corpus (same-document repeats included) —
    navigation bars, cookie banners, license headers. This is the
    cross-document complement of :func:`line_filter`, whose C4 rules
    look at one document at a time.

    Returns ``(id, n_lines, n_kept, text_kept)`` for EVERY input
    document (a doc whose lines are all boilerplate survives with
    ``n_kept = 0, text_kept = ''``). Null text counts as empty.
    Line order is preserved; the ORIGINAL line text is reassembled
    even when matching ran on the normalized form
    (:func:`.dedup.normalize_expr`, ``normalize=True``).

    ``line_key`` picks the corpus-wide equality key: ``"xxhash64"``
    (production default — 8-byte keys through the count shuffle) or
    ``"text"`` (the normalized line itself — engine-replayable for
    oracles, same result modulo 64-bit collisions).

    Scale: the document text NEVER travels through a shuffle. One
    staged per-doc pass (id, lines, keys) — then (1) bare keys explode
    through a map-side-combined count whose ``> max_occurrences``
    survivors are the boilerplate key set (vocabulary-sized: its
    cardinality is ≤ total_lines/max_occurrences and real corpora
    keep it tiny), (2) that set is force-broadcast back onto the
    bare-key explode to collect each affected doc's hit-set (only
    the duplicated minority aggregates, keyed by id), and (3) an
    id-keyed join of hits against the staged relation filters each
    doc's line array IN-ROW (interpreted lambda, linear in total
    line count — the :func:`line_filter` precedent). AQE broadcasts
    the hit relation when boilerplate is sparse, so the common case
    is zero text movement end-to-end; a pathological
    every-doc-affected corpus degrades to one id-keyed hash join,
    never a sort, never a text-bearing groupBy."""
    if int(max_occurrences) < 1:
        raise ValueError(f"max_occurrences={max_occurrences} must be "
                         ">= 1 (1 = keep only corpus-unique lines)")
    staged = _line_stage(df, text_col, id_col, normalize, line_key)
    occ = staged.select("id", F.explode("_lk").alias("_k"))
    boiler = (occ.groupBy("_k").agg(F.count("*").alias("_c"))
              .filter(F.col("_c") > int(max_occurrences))
              .select("_k"))
    # the boilerplate key set is vocabulary-sized; without the forced
    # broadcast the static planner can size the exploded occ side at
    # its pre-explode scan bytes and build from it (the 217cdbd trap)
    return _line_rebuild(staged, occ, boiler)


def _line_rebuild(staged: DataFrame, occ: DataFrame,
                  boiler: DataFrame) -> DataFrame:
    """Filter each staged doc's line array against the (small)
    boilerplate key set: broadcast the set onto the bare-key explode,
    aggregate per-doc hit-sets from the duplicated minority only,
    then drop matching lines IN-ROW — the document text itself never
    enters a shuffle."""
    hits = (occ.join(F.broadcast(boiler), "_k")
            .groupBy("id").agg(F.collect_set("_k").alias("_bad"),
                               F.count("*").alias("_nbad")))

    zipped = F.arrays_zip(
        F.col("_lines").alias("ln"),
        F.col("_lk").alias("k"))
    kept = F.when(
        F.col("_bad").isNull(), F.col("_lines")).otherwise(
        F.transform(
            F.filter(zipped,
                     lambda s: ~F.array_contains(F.col("_bad"), s["k"])),
            lambda s: s["ln"]))
    # n_kept comes from the hit COUNT, not size(kept): referencing the
    # filtered array twice would re-run the interpreted lambda per
    # reference once CollapseProject inlines it
    return (staged.join(hits, "id", "left")
            .select(F.col("id"),
                    F.size("_lines").cast("bigint").alias("n_lines"),
                    (F.size("_lines") - F.coalesce("_nbad", F.lit(0)))
                    .cast("bigint").alias("n_kept"),
                    F.array_join(kept, "\n").alias("text_kept")))


def repeated_line_counts(
    df: DataFrame,
    text_col: str,
    normalize: bool = True,
    line_key: str = "xxhash64",
) -> DataFrame:
    """The persistable corpus line-frequency state for
    :func:`remove_repeated_lines_incremental`: one row per distinct
    line key — ``(line_hash, n_occ, _lk_repr)``. ``_lk_repr`` stamps
    the key family AND the normalization flag (both are baked into
    the key value, so probing under a different combination would
    silently match zero lines — the stamp turns that into a loud
    error, the ``_sig_repr``/``_fp_hash`` discipline from the
    incremental dedup family).

    To roll the state forward after admitting a batch, union this
    over the batch with the prior state and re-aggregate:
    ``state.union(new).groupBy(line_hash, _lk_repr).sum(n_occ)`` —
    an 8-byte-key map-side-combined aggregate, never a text
    shuffle."""
    if line_key not in ("xxhash64", "text"):
        raise ValueError(f"unknown line_key {line_key!r} — expected "
                         "'xxhash64' or 'text'")
    lines = _lines_sql(f"coalesce({_q(text_col)}, '')")
    keys = _line_keys_sql(lines, normalize, line_key)
    return (df.selectExpr(f"explode({keys}) AS line_hash")
            .groupBy("line_hash")
            .agg(F.count("*").alias("n_occ"))
            .select("line_hash", "n_occ",
                    F.lit(_line_repr(normalize, line_key))
                    .alias("_lk_repr")))


def remove_repeated_lines_incremental(
    batch: DataFrame,
    line_counts: DataFrame,
    text_col: str,
    id_col: str,
    max_occurrences: int = 1,
    normalize: bool = True,
    line_key: str = "xxhash64",
) -> DataFrame:
    """Clean a NEW-CRAWL batch against the standing corpus's
    persisted line-frequency state (:func:`repeated_line_counts`)
    PLUS the batch's own internal repeats — the daily-increment shape
    of boilerplate removal at 100 TB, where re-counting the corpus
    per batch is off the table. A batch line is dropped when
    ``prior_count + batch_count > max_occurrences``.

    Returns ``(id, n_lines, n_kept, text_kept)`` for the batch
    documents, exactly :func:`remove_repeated_lines`'s contract.

    ``line_counts`` MUST carry the ``_lk_repr`` stamp — a state
    relation built under a different key family or normalization
    flag shares no key values with the probe and would silently
    drop nothing; mismatch (or a missing/mixed stamp) raises.

    Scale (the batch-key semi-filter discipline of
    ``exact_dedup_incremental``/``winnow_overlap_incremental``): the
    persisted state never shuffles — it is semi-filtered by the
    BROADCAST distinct batch key set (output ≤ batch's distinct line
    count), the surviving (key, n_occ) rows join the batch's own
    map-side-combined counts, and the merged boilerplate set
    broadcasts into the same in-row rebuild as the full-corpus
    operator. Document text moves nowhere."""
    if int(max_occurrences) < 1:
        raise ValueError(f"max_occurrences={max_occurrences} must be "
                         ">= 1 (1 = keep only corpus-unique lines)")
    expected = _line_repr(normalize, line_key)
    if "_lk_repr" not in line_counts.columns:
        raise ValueError(
            "line_counts carries no _lk_repr stamp — the key family "
            "and normalization flag are baked into the key values, "
            "so an unstamped state cannot be safely probed (a "
            "mismatch silently drops nothing). Build the state via "
            "repeated_line_counts()")
    stamps = sorted({r[0] for r in line_counts.select("_lk_repr")
                     .distinct().limit(3).collect()},
                    key=lambda v: (v is None, v))
    if len(stamps) > 1:
        raise ValueError(
            f"line_counts mixes _lk_repr stamps {stamps} — re-build "
            "the state with one (line_key, normalize) combination")
    if stamps and stamps[0] != expected:
        raise ValueError(
            f"line_counts carries _lk_repr={stamps[0]!r} but the "
            f"batch would be keyed with {expected!r} — key values "
            "are incompatible and the probe would silently drop "
            "nothing; pass the matching line_key/normalize")

    staged = _line_stage(batch, text_col, id_col, normalize, line_key)
    occ = staged.select("id", F.explode("_lk").alias("_k"))
    batch_cnt = occ.groupBy("_k").agg(F.count("*").alias("_bc"))
    # state-side discipline: semi-filter the persisted counts by the
    # broadcast batch key set — the state relation never shuffles and
    # only keys the batch actually contains travel back
    prior = (line_counts
             .join(F.broadcast(occ.select(F.col("_k")
                                          .alias("line_hash"))
                               .distinct()),
                   "line_hash", "left_semi")
             .select(F.col("line_hash").alias("_k"),
                     F.col("n_occ").alias("_pc")))
    boiler = (batch_cnt.join(F.broadcast(prior), "_k", "left")
              .filter((F.col("_bc") + F.coalesce("_pc", F.lit(0)))
                      > int(max_occurrences))
              .select("_k"))
    return _line_rebuild(staged, occ, boiler)


def char_entropy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    round_digits: int = 6,
    impl: str = "expr",
) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    classic gibberish / key-mash / binary-noise detector (natural
    English sits ≈ 4 bits/char; random base64 ≈ 6; a single repeated
    character → 0).

    Returns ``(id, n_chars, sum_clog2c, entropy)`` where
    ``sum_clog2c = Σ_ch round(c·log2 c, round_digits)`` accumulated as
    DECIMAL and finally cast to DOUBLE (the ``dsum`` discipline) — the
    order-independent value the oracle hash-compares. ``entropy =
    log2(n) − sum_clog2c / n`` is the double convenience column for
    band filters (same identity the oracle replays; engines agree
    wherever their ``log2`` doubles agree).

    Plan shape (the surprisal/vocab pattern,
    :func:`..textstats.unigram_surprisal`): explode one row per
    character position via ``sequence`` + ``substr`` (no lambda inside
    the Generate — exchange-reuse stays canonical), map-side-combined
    ``(id, ch)`` count aggregate (collapses each document to its
    alphabet before the shuffle), then one id-keyed re-aggregate of
    the rounded decimal terms. Two shuffles, both partial-agg
    absorbed; alphabet size bounds state, never text length.

    ``impl='arrow'`` is the production path: one ``mapInPandas`` pass
    computing each document's codepoint histogram vectorized
    (``np.unique`` over the decoded buffer) and folding the rounded
    terms in exact integer micro-units — fully narrow, no explode, no
    shuffle at all (the expression form pays a row per CHARACTER
    through two exchanges; at corpus scale that is ~300× the row
    volume for the same answer). Terms round once per distinct
    character, and the micro-unit integer sum divided by
    ``10^round_digits`` is the identical correctly-rounded double the
    expression form's DECIMAL cast produces, so both impls agree
    bit-for-bit on ASCII/BMP text (tests pin equality on the fixture
    corpus); ``round_digits`` > 6 would overflow the micro-unit trick
    in pathological cases and raises. The gate pins ``impl='expr'``
    so the DuckDB oracle replays the plan's own arithmetic."""
    if impl == "arrow":
        if round_digits > 6:
            raise ValueError("impl='arrow' supports round_digits <= 6 "
                             "(integer micro-unit accumulation)")
        return _char_entropy_arrow(df, text_col, id_col, round_digits)
    if impl != "expr":
        raise ValueError(
            f"unknown impl {impl!r} (expected 'expr' or 'arrow')")
    base = df.select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("_t"))
    chars = (base
             .select("id", "_t",
                     F.explode(
                         F.sequence(F.lit(1), F.length("_t"))).alias("i"))
             .select("id", F.col("_t").substr(F.col("i"),
                                              F.lit(1)).alias("ch")))
    counts = chars.groupBy("id", "ch").agg(F.count("*").alias("c"))
    term = F.round(F.col("c") * F.log2("c"),
                   round_digits).cast("decimal(28,10)")
    per_doc = counts.groupBy("id").agg(
        F.sum("c").cast("bigint").alias("n_chars"),
        F.sum(term).cast("decimal(38,10)").cast("double")
         .alias("sum_clog2c"))
    return per_doc.select(
        "id", "n_chars", "sum_clog2c",
        (F.log2("n_chars")
         - F.col("sum_clog2c") / F.col("n_chars")).alias("entropy"))


def _char_entropy_arrow(
    df: DataFrame, text_col: str, id_col: str, round_digits: int,
) -> DataFrame:
    """One-pass vectorized histogram kernel (see :func:`char_entropy`).

    Exactness contract with the expression form: Spark's
    ``round(double, d)`` rounds the double's SHORTEST decimal
    representation HALF_UP (``BigDecimal.valueOf``), which
    ``Decimal(repr(x)).quantize(HALF_UP)`` replicates bit-for-bit;
    terms are accumulated as exact integers in 10^-d units (cached
    per distinct count value — the count alphabet is tiny), and the
    final ``int/int`` division is correctly rounded exactly like the
    plan's DECIMAL→DOUBLE cast. Empty/NULL documents emit no row,
    matching the explode form."""
    id_type = dict(df.dtypes)[id_col]
    schema = (f"id {id_type}, n_chars bigint, "
              "sum_clog2c double, entropy double")

    def kernel(batches):
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pandas as pd

        quantum = Decimal(1).scaleb(-round_digits)
        denom = 10 ** round_digits
        cache: dict[int, int] = {1: 0}

        def term_units(c: int) -> int:
            v = cache.get(c)
            if v is None:
                v = int(Decimal(repr(c * math.log2(c)))
                        .quantize(quantum, ROUND_HALF_UP)
                        .scaleb(round_digits))
                cache[c] = v
            return v

        for pdf in batches:
            ids, ns, sums, ents = [], [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None or len(txt) == 0:
                    continue
                cps = np.frombuffer(txt.encode("utf-32-le"),
                                    dtype=np.uint32)
                _, counts = np.unique(cps, return_counts=True)
                units = sum(term_units(int(c)) for c in counts)
                n = int(len(cps))
                s = units / denom
                ids.append(i)
                ns.append(n)
                sums.append(s)
                ents.append(math.log2(n) - s / n)
            yield pd.DataFrame({"id": ids, "n_chars": ns,
                                "sum_clog2c": sums, "entropy": ents})

    return df.select(F.col(id_col), F.col(text_col)) \
        .mapInPandas(kernel, schema)


def blocked_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
) -> DataFrame:
    """Candidate ``(id1, id2)`` pairs by blocked self-join: all pairs
    (``id1 < id2``) sharing every ``block_cols`` value. The cheap
    candidate generator for :func:`edit_confirm` when no MinHash/LSH
    stage ran — quadratic WITHIN a block only, so block keys must
    bound group size (source × length-bucket is the usual choice);
    for corpus-scale near-dup candidates use
    ``dedup.minhash_lsh_pairs`` instead."""
    left = df.select(F.col(id_col).alias("id1"),
                     *[F.col(c) for c in block_cols])
    right = df.select(F.col(id_col).alias("id2"),
                      *[F.col(c) for c in block_cols])
    return (left.join(right, list(block_cols))
            .where(F.col("id1") < F.col("id2"))
            .select("id1", "id2"))


def edit_confirm(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    min_sim: float = 0.8,
    max_len: int | None = None,
    confirmed_only: bool = False,
) -> DataFrame:
    """Exact verification stage of two-phase fuzzy dedup: for each
    candidate pair, Levenshtein distance over normalized text and a
    ``1 − dist / max(len)`` similarity verdict — the confirm step that
    keeps MinHash/winnowing candidate generators honest (approximate
    recall stages over-generate; the pipeline deletes only what an
    exact metric confirms).

    Returns ``(id1, id2, dist, len1, len2, sim, confirmed)``.
    ``confirmed`` is decided by integer cross-multiplication
    (``(maxlen − dist)·100 ≥ pct·maxlen``) and ``sim`` is a division
    of identical integer operands — both engine-exact.

    ``max_len`` truncates each text first (documented approximation:
    at corpus scale Levenshtein's O(len²) per pair is only affordable
    on a bounded prefix; pairs whose difference lives past the prefix
    read as more similar than they are).

    ``confirmed_only=True`` is the production scale path: it returns
    ONLY the confirmed rows — provably identical to the full output
    filtered on ``confirmed`` (pinned by test) — which licenses two
    prunes the audit-everything default cannot take:

    - **length-gap prune**: ``levenshtein(a,b) >= |len(a)-len(b)|``,
      so a pair whose length gap alone breaks the edit budget
      (``(maxlen-gap)·100 < pct·maxlen``) is dropped by one integer
      predicate BEFORE any Levenshtein runs — at corpus scale most
      recall-stage false positives die here for free;
    - **banded Levenshtein** (when ``max_len`` bounds the prefix):
      Spark's threshold form ``levenshtein(l, r, k)`` runs the
      O(len·k) band and returns −1 past the budget
      ``k = ⌊(100−pct)·max_len/100⌋`` instead of filling the O(len²)
      matrix; every KEPT row's distance is exact because confirmation
      itself requires ``dist ≤ (100−pct)·maxlen/100 ≤ k``.

    Scale: two id-keyed hash joins attach texts to the (already
    candidate-bounded) pair relation, then a narrow codegen'd
    ``levenshtein`` per pair — cost is pairs × prefix·budget with
    ``confirmed_only`` (pairs × prefix² without), never corpus²."""
    pct = _pct(min_sim, "min_sim")
    txt = normalize_text(text_col)
    if max_len is not None:
        txt = txt.substr(1, int(max_len))
    texts = df.select(F.col(id_col).alias("_id"), txt.alias("_txt"))
    joined = (pairs
              .join(texts.select(F.col("_id").alias("id1"),
                                 F.col("_txt").alias("_t1")), "id1")
              .join(texts.select(F.col("_id").alias("id2"),
                                 F.col("_txt").alias("_t2")), "id2"))
    len1 = F.length("_t1").cast("bigint")
    len2 = F.length("_t2").cast("bigint")
    maxlen = F.greatest(len1, len2)
    if confirmed_only:
        gap = F.abs(len1 - len2)
        joined = joined.where(
            (maxlen - gap) * 100 >= F.lit(pct) * maxlen)
        if max_len is not None:
            budget = (int(max_len) * (100 - pct)) // 100
            dist = F.levenshtein("_t1", "_t2", budget).cast("bigint")
        else:
            dist = F.levenshtein("_t1", "_t2").cast("bigint")
    else:
        dist = F.levenshtein("_t1", "_t2").cast("bigint")
    # r14 (guide §1.2 — don't compute what a cheaper check answers):
    # a near-dup CANDIDATE set is rich in exact duplicates, and
    # levenshtein(a, a) pays the full O(len·len) (or banded O(len·k))
    # DP to discover 0. One byte-equality guard short-circuits those
    # pairs — bit-identical output (dist 0, confirmed) on both the
    # audit and the confirmed_only paths.
    dist = F.when(F.col("_t1") == F.col("_t2"),
                  F.lit(0).cast("bigint")).otherwise(dist)
    out = joined.select(
        "id1", "id2", dist.alias("dist"),
        len1.alias("len1"), len2.alias("len2"),
        maxlen.alias("_ml"))
    out = out.select(
        "id1", "id2", "dist", "len1", "len2",
        F.when(F.col("_ml") > 0,
               (F.col("_ml") - F.col("dist")) / F.col("_ml"))
         .otherwise(F.lit(1.0)).alias("sim"),
        # dist = −1 flags the banded form's budget overrun, never a
        # real distance — it must read as unconfirmed, not as a
        # negative (better-than-zero) edit count
        ((F.col("dist") >= 0)
         & (((F.col("_ml") - F.col("dist")) * 100)
            >= F.lit(pct) * F.col("_ml"))).alias("confirmed"),
    )
    if confirmed_only:
        out = out.where(F.col("confirmed"))
    return out


def cap_per_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    n: int,
) -> DataFrame:
    """Per-group quota: keep the ``n`` best rows per ``group_col``
    under the deterministic total order (``score_col`` desc,
    ``id_col`` asc) — RefinedWeb's per-domain cap (arXiv:2306.01116):
    a handful of giant domains otherwise dominate the corpus, and
    "best" (quality score, freshness) beats "first n crawled".

    Returns the input columns plus ``cap_rank`` (1-based) for the
    kept rows only.

    Scale: one hash-partitioned window, and Spark plans a
    ``WindowGroupLimit Partial`` BEFORE the exchange — every map task
    forwards at most ``n`` rows per group it sees, so the shuffle
    carries ≤ n·tasks rows per group instead of the group itself and
    a mega-domain cannot flood one reducer. (That partial limit is
    exactly the salted two-phase cap one would otherwise hand-write —
    exact for ``row_number`` because a group's global top-n is
    contained in the union of its per-task top-n sets — so nothing
    manual is needed.)"""
    if int(n) < 1:
        raise ValueError(f"n={n} must be >= 1")
    w = (W.partitionBy(group_col)
         .orderBy(F.col(score_col).desc(), F.col(id_col).asc()))
    return (df.withColumn("cap_rank",
                          F.row_number().over(w).cast("bigint"))
            .where(F.col("cap_rank") <= int(n)))
