"""Deduplication operators for large-scale document pipelines.

[extension — not in the reference] Five strategies, all expressed as
declarative DataFrame plans. No row-at-a-time Python UDFs anywhere;
the one Python surface is the Arrow-batched MinHash signature kernel
(see :func:`minhash_signatures` — Spark evaluates higher-order lambdas
interpreted, so the |shingles|×num_hashes fold is the documented
Pandas-UDF exception):

- :func:`exact_dedup` — hash-groupBy on normalized content
- :func:`minhash_signatures` / :func:`minhash_dedup` — shingle →
  MinHash → LSH banding → bucket join → exact-Jaccard verify
- :func:`simhash` / :func:`simhash_dedup` — 64-bit SimHash +
  chunk-blocked Hamming verification
- :func:`ngram_jaccard_pairs` — exact word-n-gram Jaccard with
  lang/length blocking
- embedding cosine near-dup lives in
  :mod:`db2pq_spark.operators.similarity`

Scale design (100 TB mindset): every strategy is
shuffle-on-a-blocking-key (band hash, simhash chunk, lang) so candidate
generation never goes quadratic on the corpus; pathologically hot
buckets are capped (``max_bucket``) before the pair join — the standard
guard against skew blowing up a single reducer.

Construction rule (here and in :mod:`.filtering`): projections are SQL
text, one ``selectExpr``/``where``/``F.expr`` call each. Every ``F.*``
builder, Column operator and Python lambda is a py4j round trip
(~0.25 ms), and building ``minhash_dedup`` from them (~1000 trips) took
as long as running it on a corpus shard. The text parses to the same
expressions, so plans do not change; to keep it so, identifiers go
through :func:`_q`, integers through ``int()``, structs are written
``struct(e AS name)`` and range checks as two comparisons (Spark 4.1
turns SQL ``BETWEEN`` into a common expression with its own Project).

Tokenization rule (here and in every tokenizing operator): a text is
lowercased, its whitespace runs collapsed to one space, then trimmed
(:func:`normalize_sql`); its tokens are that form split on the space
(:func:`tokens_sql`); and a document has tokens iff its raw text holds
a non-whitespace character (:func:`doc_tokens`). Collapsing before
trimming matters: Spark's ``trim`` strips only spaces, so the other
order leaves an edge tab/CR/LF behind as an empty token. Under this
rule no document's tokens contain ``''``, so no site needs an
empty-token guard, and :func:`doc_tokens` filters on the raw text so
the tokenization runs once per row (a filter on the token array is
pushed below the tokenizing projection with the expression
substituted, which evaluates it a second time). A blank text's
:func:`tokens_sql` is ``[]``.

N-gram key rule (MinHash shingle hashes, SimHash, winnowing, span
dedup): one window builder (:func:`_windows_sql`) keys every ``n``-long
slice of an array and yields ``array()`` for an array shorter than
``n``, so no site pre-filters short documents (a test on ``_toks`` is
the pushed-filter trap above; where rows must go, the filter runs on
the array built behind a Generate barrier). One table
(:data:`_HASH_FAMILIES`) maps a family name to its SQL key template:
``xxhash64`` keys a slice of the per-token hash array
(:func:`token_hashes_sql`), ``md5`` and ``md5_60`` the n-gram's text.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from db2pq_spark.staging import stage


def _q(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def normalize_expr(e: str) -> str:
    """SQL text of the canonical text form of SQL expression ``e``:
    lowercase, whitespace runs collapsed to one space, trimmed."""
    return rf"trim(regexp_replace(lower({e}), '\\s+', ' '))"


def normalize_sql(col: str) -> str:
    """:func:`normalize_expr` of column ``col``."""
    return normalize_expr(_q(col))


def normalize_text(col: str) -> Column:
    """:func:`normalize_sql` as a Column."""
    return F.expr(normalize_sql(col))


def _split_sql(col: str) -> str:
    """SQL text of :func:`normalize_sql` split on the space: the tokens
    of a text that holds a non-whitespace character."""
    return f"split({normalize_sql(col)}, ' ')"


def tokens_sql(col: str) -> str:
    """SQL text of the whitespace tokens of :func:`normalize_sql`;
    ``[]`` for a blank text (Spark splits ``''`` into ``['']``)."""
    return f"array_remove({_split_sql(col)}, '')"


#: SQL key template of each hash family, ``{}`` standing for the keyed
#: value. ``md5`` (32 hex chars) and ``md5_60`` (its first 15 as a
#: 60-bit long; the 4 missing high bits are 0 on every side, so Hamming
#: distances are unaffected) are computed identically by every engine,
#: so the gate oracles replay them in DuckDB; ``xxhash64`` is the fast
#: JVM-side production key.
_HASH_FAMILIES = {
    "xxhash64": "xxhash64({})",
    "md5": "md5(encode({}, 'UTF-8'))",
    "md5_60": "CAST(conv(substring(md5(encode({}, 'UTF-8')), 1, 15), 16, 10)"
              " AS BIGINT)",
}


def _family(name: str, allowed: tuple[str, ...], what: str) -> str:
    """Key template of hash family ``name``, which must be one of
    ``allowed`` (``what`` names the option in the error)."""
    if name not in allowed:
        raise ValueError(f"unknown {what} {name!r} — one of {allowed}")
    return _HASH_FAMILIES[name]


def token_hashes_sql(family: str = "xxhash64") -> str:
    """SQL text of the per-token hash array of a ``_toks`` column."""
    return f"transform(_toks, t -> {_HASH_FAMILIES[family].format('t')})"


def _windows_sql(arr: str, n: int, key: str = "{}",
                 short: str = "array()") -> str:
    """SQL text of ``key`` (a template, ``{}`` the slice) over every
    ``n``-long slice of array ``arr``, in order; ``short`` when ``arr``
    is shorter than ``n`` (``sequence(1, s)`` with s ≤ 0 would count
    downward and fabricate slices)."""
    n = int(n)
    keys = (f"transform(sequence(1, size({arr}) - {n} + 1), "
            f"i -> {key.format(f'slice({arr}, i, {n})')})")
    return f"CASE WHEN size({arr}) >= {n} THEN {keys} ELSE {short} END"


def _ngram_keys_sql(n: int, family: str) -> str:
    """SQL text of the ``family`` key of every ``n``-token window:
    ``xxhash64`` over a slice of the per-token hashes ``_th`` (no
    n-gram strings), the text families over the n-gram text of
    ``_toks``."""
    if family == "xxhash64":
        # a bare array() would narrow the keys to non-null longs and
        # drop the key joins' isnotnull filters: keep the plans as are
        return _windows_sql("_th", n, _HASH_FAMILIES[family],
                            "CAST(array() AS ARRAY<BIGINT>)")
    return _windows_sql(
        "_toks", n, _HASH_FAMILIES[family].format("concat_ws(' ', {})"))


def _content_hash_sql(text_col: str) -> str:
    return f"md5(encode({normalize_sql(text_col)}, 'UTF-8')) AS content_hash"


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns one row per distinct normalized text: (content_hash,
    keep_id = min id, n_dups). One shuffle on the hash; partial
    aggregation happens map-side so only one row per (partition, hash)
    crosses the wire."""
    return (
        df.selectExpr(_content_hash_sql(text_col), _q(id_col))
        .groupBy("content_hash")
        .agg(F.expr(f"min({_q(id_col)}) AS keep_id"),
             F.expr("count(*) AS n_dups"))
    )


def exact_dedup_incremental(
    batch: DataFrame, corpus: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """New-batch rows whose normalized content already exists in the
    corpus — the exact-hash twin of :func:`minhash_dedup_incremental`.

    Returns (id, content_hash, is_duplicate). One semi-join on the
    128-bit content hash: both sides reduce to (hash) projections
    before the join, the corpus side to *distinct* hashes (map-side
    combined), so the shuffle carries one row per distinct corpus
    document regardless of corpus bloat. At 100 TB you persist the
    corpus hash set once and pass it as ``corpus`` (any relation with
    a ``content_hash`` column is accepted verbatim)."""
    if "content_hash" in corpus.columns:
        chashes = corpus.select("content_hash")
    else:
        chashes = corpus.selectExpr(_content_hash_sql(text_col))
    b = batch.selectExpr(f"{_q(id_col)} AS id", _content_hash_sql(text_col))
    # corpus-side discipline: semi-filter the corpus scan by the
    # BROADCAST batch hash set (output <= matched corpus rows), then
    # broadcast the matched hashes back over the batch — the corpus
    # relation itself never shuffles, and no corpus-wide distinct runs
    matched = (
        chashes.join(F.broadcast(b.select("content_hash").distinct()),
                     "content_hash", "left_semi")
        .distinct()
        .selectExpr("content_hash", "true AS _dup")
    )
    return (
        b.join(F.broadcast(matched), "content_hash", "left")
        .selectExpr("id", "content_hash",
                    "coalesce(_dup, false) AS is_duplicate")
    )


def word_shingles(col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text of column
    ``col`` (pure Catalyst higher-order functions — no UDF).

    PERF: higher-order lambdas evaluate interpreted with no
    common-subexpression elimination, so the embedded
    ``split(regexp_replace(...))`` re-runs once per shingle.
    :func:`with_shingles` is the fast path."""
    var = "j" if col.lower() == "i" else "i"
    return F.expr(_shingles_sql(tokens_sql(col), n, var))


def _shingles_sql(toks: str, n: int, var: str = "i") -> str:
    """SQL text of the distinct word ``n``-gram shingles of the token
    array ``toks``; a document shorter than ``n`` tokens is one shingle,
    its whole text. ``var``, the lambda variable, must not name a
    column ``toks`` mentions (it would shadow it)."""
    n = int(n)
    grams = (f"transform(sequence(0, size({toks}) - {n}), "
             f"{var} -> concat_ws(' ', slice({toks}, {var} + 1, {n})))")
    return (f"array_distinct(CASE WHEN size({toks}) >= {n} THEN {grams} "
            f"ELSE array(concat_ws(' ', {toks})) END)")


def doc_tokens(df: DataFrame, text_col: str, id_col: str | None,
               *extra: str) -> DataFrame:
    """(id, *extra, _toks): the tokens (:func:`tokens_sql`) of every
    document that has any, with any ``extra`` SQL projections carried
    along (``id_col=None`` projects no id). NULL and whitespace-only
    texts have none and are dropped: they would all collapse to one
    degenerate token set and pair with each other as "perfect
    duplicates" (exact_dedup still groups them, which IS meaningful).
    The test runs on the raw text, so the tokenization runs once per
    row; no returned token is ``''``."""
    ident = [f"{_q(id_col)} AS id"] if id_col is not None else []
    return (df.where(rf"{_q(text_col)} RLIKE '\\S'")
            .selectExpr(*ident, *extra, f"{_split_sql(text_col)} AS _toks"))


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3,
) -> DataFrame:
    """(id, shingles) of every document :func:`doc_tokens` keeps, the
    shingle lambda reading the projected token array."""
    return doc_tokens(df, text_col, id_col).selectExpr(
        "id", f"{_shingles_sql('_toks', n)} AS shingles")


def with_shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, n: int = 3,
) -> DataFrame:
    """(id, shingles) with the shingle set represented as xxhash64
    LONGS, built without ever constructing shingle strings: tokens are
    hashed once, each n-gram key is xxhash64 over the n-long slice
    (the q102/q116 span-key construction). Same row filters and
    short-document fallback (whole-token-array hash) as
    :func:`with_shingles`; a distinct hash stands in for a distinct
    shingle everywhere set semantics are needed (64-bit collisions
    are negligible for dedup — the gate-exactness configurations pin
    the text representation instead)."""
    grams = _windows_sql("_th", n, _HASH_FAMILIES["xxhash64"],
                         "array(xxhash64(_th))")
    return (
        doc_tokens(df, text_col, id_col)
        .selectExpr("id", f"{token_hashes_sql()} AS _th")
        .selectExpr("id", f"array_distinct({grams}) AS shingles")
    )


def _minhash_from_hashes_udf(num_hashes: int):
    """Arrow-vectorized MinHash: array<bigint> base hashes → the
    num_hashes-slot signature, all numpy (see
    :func:`minhash_signatures` for why this beats the pure-expression
    fold). Slot j's ordering is ``splitmix64(h ^ seed_j)`` — a full
    avalanche mix per slot, so each slot induces an independent
    permutation (the same requirement the xxhash64(h, j) family
    satisfies; affine tricks don't). Seeds are a fixed splitmix64
    stream of the slot index: deterministic, no driver randomness."""
    import numpy as np
    import pandas as pd

    from db2pq_spark.functions.arrow import series_pandas_udf

    def _mix(z):  # splitmix64 finalizer
        z = (z + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    seeds = _mix(np.arange(1, num_hashes + 1, dtype=np.uint64))
    sentinel = np.uint64((1 << 63) - 1)  # empty input → max long

    def minhash_from_hashes(hs: pd.Series) -> pd.Series:
        n_rows = len(hs)
        if n_rows == 0:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(a, dtype=np.int64) for a in hs]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                           count=n_rows)
        out = np.empty((n_rows, num_hashes), dtype=np.uint64)
        total = int(lens.sum())
        if total == 0:
            out[:] = sentinel
            return pd.Series(list(out.view(np.int64)))
        flat = np.concatenate(arrs).view(np.uint64)
        # reduceat misreads zero-length segments (it returns — or for a
        # trailing empty row, STEALS from — the neighboring segment),
        # so empty rows are excluded from the reduce entirely and get
        # the sentinel; non-empty rows reduce over exact offsets
        empty = lens == 0
        ne_lens = lens[~empty]
        offsets = np.zeros(len(ne_lens), dtype=np.int64)
        np.cumsum(ne_lens[:-1], out=offsets[1:])
        ne_out = np.empty((len(ne_lens), num_hashes), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for j in range(num_hashes):
                ne_out[:, j] = np.minimum.reduceat(
                    _mix(flat ^ seeds[j]), offsets)
        out[~empty] = ne_out
        out[empty] = sentinel
        return pd.Series(list(out.view(np.int64)))

    return series_pandas_udf(minhash_from_hashes, "array<bigint>")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    impl: str = "arrow",
    shingle_repr: str = "hash",
) -> DataFrame:
    """(id, shingles, sig[num_hashes]) — MinHash signatures.

    ``shingle_repr`` picks the shingle-set representation carried in
    the ``shingles`` column (and fed to the signature slots):
    ``"hash"`` (production default) stores xxhash64 LONGS built
    without ever constructing shingle strings
    (:func:`with_shingle_hashes`) — it skips both the interpreted
    concat_ws string build (the single largest cost of the signature
    pass at the 100× replica) and the separate per-shingle hashing
    lambda, and shrinks the staged relation and the exact-Jaccard
    verify to long arrays; ``"text"`` stores the shingle strings —
    the exactness representation the q36/q107/q118 gate entries pin so
    their DuckDB oracles replay Jaccard on the literal shingle sets.
    The two representations produce different signature values and
    band keys, so they must never be mixed across a precomputed corpus
    and an increment — the output carries a ``_sig_repr`` stamp that
    the incremental entry points enforce.

    Each slot j must induce an **independent ordering** of the shingle
    set (affine tricks like Kirsch-Mitzenmacher double hashing fail —
    the base-hash term dominates the ordering, making one shingle win
    every slot), so the shingle is hashed once and its 64-bit value
    re-mixed per slot: an Arrow-batched pandas UDF computes all
    ``num_hashes`` slot minima in numpy (``splitmix64(h ^ seed_j)`` +
    segmented min). Spark evaluates higher-order lambdas INTERPRETED,
    so a pure-expression fold would cost |shingles| × num_hashes
    lambda evaluations per document (~64 M for sf0.1) and dominate the
    whole dedup pipeline; the vectorized kernel does the same
    arithmetic at C speed (~3× faster signature materialization at
    sf0.1). ``impl`` accepts only ``"arrow"``.

    An exchange-free input planning fewer partitions than cores is
    spread first (:func:`..skew.ensure_parallelism`); one behind a
    shuffle or a broadcast join is not — each Python task's fixed
    start-up cost (SCALE.md) outweighs spreading a small shard."""
    from db2pq_spark.operators.skew import ensure_parallelism

    if impl != "arrow":
        raise ValueError(f"unknown minhash impl {impl!r} — 'arrow'")
    if shingle_repr == "hash":
        base = with_shingle_hashes(ensure_parallelism(df), text_col,
                                   id_col, shingle_n)
        hs = "shingles"  # already 64-bit hashes
    elif shingle_repr == "text":
        base = with_shingles(ensure_parallelism(df), text_col, id_col,
                             shingle_n)
        hs = F.expr("transform(shingles, s -> xxhash64(s))")
    else:
        raise ValueError(f"unknown shingle_repr {shingle_repr!r} — "
                         "'hash' or 'text'")
    sig = _minhash_from_hashes_udf(num_hashes)(hs).alias("sig")
    return base.select("id", "shingles", sig,
                       F.expr(f"'{shingle_repr}' AS _sig_repr"))


def _bucket_pairs(
    buckets: DataFrame, bucket_cols: list[str], max_bucket: int | None
) -> DataFrame:
    """Distinct candidate id pairs (id1 < id2) from bucket membership.

    One aggregation instead of a bucket self-join: collect each bucket's
    member ids, drop oversized buckets (skew guard; ``max_bucket=None``
    disables the cap — used by gate configurations whose exactness
    claim must be unconditional), then enumerate the in-bucket
    combinations JVM-side with nested array transforms. The only
    shuffles are the groupBy and the final distinct — the two-sided
    exploded join this replaces shuffled the membership table twice and
    joined it."""
    size_ok = "size(ids) >= 2"
    if max_bucket is not None:
        size_ok += f" AND size(ids) <= {int(max_bucket)}"
    pairs = ("flatten(transform(sequence(1, size(ids) - 1), i -> "
             "transform(slice(ids, i + 1, size(ids) - i), "
             "y -> struct(element_at(ids, i) AS id1, y AS id2))))")
    return (
        buckets.groupBy(*bucket_cols).agg(F.expr("collect_set(id) AS ids"))
        .where(size_ok)
        .selectExpr("array_sort(ids) AS ids")
        .selectExpr(f"explode({pairs}) AS p")
        .selectExpr("p.id1", "p.id2")
        .distinct()
    )


def _band_key_entries(bands: int, rows_per_band: int) -> Column:
    """Exploded (band, key) LSH band entries derived from a ``sig``
    column: key = xxhash64 of the band's signature slice.

    The band index is a lambda variable, not an unrolled per-band
    expression list — the analyzed/generated tree is constant-size in
    ``bands`` (32 unrolled xxhash64(slice) branches cost real one-time
    janino compilation; the per-row slice work is identical either
    way, verified key-for-key)."""
    r = int(rows_per_band)
    return F.expr(
        f"explode(transform(sequence(0, {int(bands) - 1}), b -> struct("
        f"b AS band, xxhash64(slice(sig, b * {r} + 1, {r})) AS key))) AS bk")


#: exact Jaccard similarity of two array columns, as SQL text
_JACCARD = "size(array_intersect({0}, {1})) / size(array_union({0}, {1})) AS jaccard"


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_bucket: int | None = 1000,
    impl: str = "arrow",
    shingle_repr: str = "hash",
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact-Jaccard verify.

    Pipeline: signatures → band keys (bands × rows/band) → explode →
    shuffle on (band, key) → intra-bucket pairs (id1 < id2) → distinct →
    verify exact Jaccard on the shingle sets (string sets or hashed
    long sets per ``shingle_repr`` — see :func:`minhash_signatures`).
    Buckets larger than ``max_bucket`` are dropped (skew guard — a
    degenerate band key would otherwise create a quadratic reducer)."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n,
                              impl=impl, shingle_repr=shingle_repr)
    # three consumers: the bucket self-join and both verify sides
    sigs = stage(sigs)
    buckets = (sigs.select("id", _band_key_entries(bands, num_hashes // bands))
               .selectExpr("id", "bk.band", "bk.key"))
    cand = _bucket_pairs(buckets, ["band", "key"], max_bucket)
    return (
        cand.join(sigs.selectExpr("id AS id1", "shingles AS sh1"), "id1")
        .join(sigs.selectExpr("id AS id2", "shingles AS sh2"), "id2")
        .selectExpr("id1", "id2", _JACCARD.format("sh1", "sh2"))
        .where(f"jaccard >= {float(threshold)!r}D")
    )


def minhash_dedup_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_bucket: int | None = 1000,
    impl: str = "arrow",
    shingle_repr: str = "hash",
) -> DataFrame:
    """Which NEW documents near-duplicate an EXISTING corpus —
    (batch_id, corpus_id, jaccard) pairs at ``jaccard >= threshold``.

    The daily-increment shape of dedup at 100 TB: you don't re-run
    all-pairs dedup over corpus ∪ batch, you probe the (small) crawl
    batch against the standing corpus. Plan shape is built around the
    corpus NEVER shuffling:

    - corpus band keys are a narrow projection of the corpus scan,
      semi-filtered by the batch's broadcast DISTINCT (band, key)
      pairs before anything else — a corpus bucket with no batch
      member can neither produce a candidate nor change the hot-ness
      of a bucket the batch can see, so everything downstream
      (including the skew guard) runs on the batch-matched minority
      and the corpus band relation never shuffles,
    - the skew guard counts ``(band, key)`` over that matched relation
      and anti-broadcasts the hot keys, so degenerate buckets cost one
      matched-relation-sized shuffle, not a corpus-wide one
      (``max_bucket=None`` disables the guard — exactness gates),
    - exact-Jaccard verification broadcasts the candidate×batch-shingle
      relation back into a second corpus scan — candidates are
      threshold-bounded, so this stays small by construction.

    The batch side must be broadcastable (same contract as the query
    side of cosine_topk). ``corpus`` may be raw documents or a
    precomputed ``minhash_signatures`` relation (id, shingles, sig) —
    at scale you persist the signatures as parquet once and pass them
    here each increment, making the marginal cost per batch one scan
    of the signature table instead of re-shingling the corpus. A
    precomputed relation's signature width is validated against
    ``num_hashes`` (one limit-1 read) — a mismatched width would
    silently derail every band key."""
    out, _ = _minhash_dedup_incremental_cached(
        batch, corpus, text_col, id_col, num_hashes, bands,
        shingle_n, threshold, max_bucket, impl=impl,
        shingle_repr=shingle_repr)
    return out


def _minhash_dedup_incremental_cached(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_bucket: int | None = 1000,
    impl: str = "arrow",
    shingle_repr: str = "hash",
) -> tuple[DataFrame, list[DataFrame]]:
    """:func:`minhash_dedup_incremental` plus the intermediate persisted
    DataFrames, so repeated callers (the streaming wrapper runs this
    every micro-batch) can ``unpersist()`` after materializing the
    result — otherwise the session's cache grows by two entries per
    call."""
    from pyspark import StorageLevel

    rows_per_band = num_hashes // bands
    bsig = (
        minhash_signatures(batch, text_col, id_col, num_hashes, shingle_n,
                           impl=impl, shingle_repr=shingle_repr)
        .withColumnRenamed("id", "batch_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if {"id", "shingles", "sig"}.issubset(set(corpus.columns)):
        csig = corpus  # precomputed signature relation
        head = csig.select(F.size("sig").alias("n")).head(1)
        if head and head[0]["n"] != num_hashes:
            raise ValueError(
                f"precomputed corpus signatures carry {head[0]['n']} "
                f"minhashes but num_hashes={num_hashes} was requested — "
                "band keys would be derived from mismatched slices")
        # corpora signed by the former pure-JVM kernel carry a
        # _sig_impl stamp other than "arrow"; their signature values
        # share no band keys with an arrow-signed batch, so probing
        # them would silently match zero duplicates
        if "_sig_impl" in csig.columns and csig.where(
                F.col("_sig_impl") != "arrow").head(1):
            raise ValueError(
                "precomputed corpus signatures carry a _sig_impl "
                "stamp other than 'arrow' — they were built by a "
                "removed signature kernel and share no band keys with "
                "the batch; re-sign the corpus via minhash_signatures()")
        # the shingle REPRESENTATION is enforced: hash- and text-repr
        # signatures derive band keys from different base hashes and
        # share none, and the exact-Jaccard verify would compare long
        # arrays against string arrays
        if head and "_sig_repr" in csig.columns:
            rraw = [r[0] for r in csig.select("_sig_repr").distinct()
                    .limit(3).collect()]
            reprs = sorted(v for v in rraw if v is not None)
            if None in rraw:
                # a corpus unioned with allowMissingColumns=True
                # carries NULL stamps on the unstamped half — surface
                # it instead of silently dropping the NULLs before the
                # mix/mismatch checks.
                import warnings

                warnings.warn(
                    "some precomputed corpus signatures carry a NULL "
                    "_sig_repr stamp (union with an unstamped "
                    f"relation?) — assuming shingle_repr="
                    f"{shingle_repr!r} for those rows; re-persist via "
                    "minhash_signatures() to make the representation "
                    "mismatch check effective",
                    stacklevel=3)
            if len(reprs) > 1:
                raise ValueError(
                    f"precomputed corpus signatures mix shingle "
                    f"representations {reprs} — re-sign the corpus "
                    "with one shingle_repr via minhash_signatures()")
            if reprs and reprs[0] != shingle_repr:
                raise ValueError(
                    f"precomputed corpus signatures carry "
                    f"shingle_repr={reprs[0]!r} but the batch would "
                    f"be signed with shingle_repr={shingle_repr!r} — "
                    "band keys and shingle sets are incompatible; "
                    f"pass shingle_repr={reprs[0]!r}")
        elif head and "_sig_repr" not in csig.columns:
            # Pre-round-8 relations stored shingle STRINGS, so probing
            # them under shingle_repr='hash' is the guaranteed-wrong
            # combination: band keys derive from different base hashes
            # and long shingle sets never equal string sets — the
            # incremental dedup would silently return zero pairs. A
            # warning is easy to miss in production logs; fail loudly.
            if shingle_repr != "text":
                raise ValueError(
                    "precomputed corpus signatures carry no _sig_repr "
                    "stamp (pre-round-8 relation — those stored "
                    "shingle STRINGS), but the batch would be signed "
                    f"with shingle_repr={shingle_repr!r}: band keys "
                    "and shingle sets are guaranteed incompatible and "
                    "the probe would silently match zero duplicates. "
                    "Pass shingle_repr='text' for pre-round-8 corpora "
                    "or re-persist via minhash_signatures()")
            import warnings

            warnings.warn(
                "precomputed corpus signatures carry no _sig_repr "
                "stamp (pre-round-8 relation — those stored shingle "
                "STRINGS); assuming shingle_repr='text'. Re-persist "
                "via minhash_signatures() to make the representation "
                "mismatch check effective",
                stacklevel=3)
    else:
        csig = minhash_signatures(corpus, text_col, id_col,
                                  num_hashes, shingle_n, impl=impl,
                                  shingle_repr=shingle_repr)

    entries = _band_key_entries(bands, rows_per_band)
    cbuckets = (csig.select(F.expr("id AS corpus_id"), entries)
                .selectExpr("corpus_id", "bk.band", "bk.key"))
    bbuckets = (bsig.select("batch_id", entries)
                .selectExpr("batch_id", "bk.band", "bk.key"))

    # broadcast the batch's DISTINCT (band, key) pairs as a semi filter
    # FIRST: a corpus bucket with no batch member can neither produce a
    # candidate nor change the hot-ness of a bucket the batch can see
    # (bucket counts are per-corpus-row, independent of the batch), so
    # both the hot-cap count and the candidate join run on the
    # batch-matched minority — the corpus band relation never shuffles,
    # and the corpus signature pass runs ONCE (the matched relation is
    # the thing materialized for the two consumers, not anything
    # corpus-sized)
    bkeys = bbuckets.select("band", "key").distinct()
    hits = cbuckets.join(F.broadcast(bkeys), ["band", "key"])
    if max_bucket is not None:
        hits = stage(hits)
        hot = (hits.groupBy("band", "key").count()
               .where(f"`count` > {int(max_bucket)}")
               .select("band", "key"))
        hits = hits.join(F.broadcast(hot), ["band", "key"],
                         "left_anti")

    cand = (
        hits.join(F.broadcast(bbuckets), ["band", "key"])
        .where("corpus_id != batch_id")
        .select("batch_id", "corpus_id")
        .distinct()
        # cand feeds two verify branches (shingle-prune + pair join);
        # persisting the small candidate set keeps the corpus band
        # scan single-execution
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # verify: candidates carry the batch shingles (broadcast); corpus
    # shingles come from a second corpus scan that is semi-filtered by
    # the broadcast candidate ids BEFORE shingling — only the
    # threshold-bounded candidate minority is ever re-shingled, the
    # corpus-wide relation is never shingled twice and never shuffles
    cand_ids = cand.selectExpr("corpus_id AS id").distinct()
    if csig is corpus:  # precomputed signatures: shingles already stored
        pruned = csig.join(F.broadcast(cand_ids), "id", "left_semi")
        csh_rel = pruned.select("id", "shingles")
    else:
        pruned_docs = corpus.join(
            F.broadcast(cand_ids.selectExpr(f"id AS {_q(id_col)}")),
            id_col, "left_semi")
        mk_sh = (with_shingle_hashes if shingle_repr == "hash"
                 else with_shingles)
        csh_rel = mk_sh(pruned_docs, text_col, id_col, shingle_n)
    cand_b = cand.join(
        bsig.selectExpr("batch_id", "shingles AS bsh"), "batch_id")
    csh = csh_rel.selectExpr("id AS corpus_id", "shingles AS csh")
    out = (
        csh.join(F.broadcast(cand_b), "corpus_id")
        .selectExpr("batch_id", "corpus_id", _JACCARD.format("bsh", "csh"))
        .where(f"jaccard >= {float(threshold)!r}D")
    )
    return out, [bsig, cand]


#: literal 2^i bit masks (i=63 is the sign bit — stored as its two's-
#: complement long so F.lit stays in range)
_BIT_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def _simhash_from_hashes_udf():
    """Arrow kernel: token-hash array (long) → packed 64-bit SimHash.

    Per document: unpack each 64-bit token hash into its bit matrix,
    sum ±1 votes per bit position, pack the sign vector — all int64
    NumPy, so the result is BIT-IDENTICAL to the expression form (the
    two paths share the JVM-side token hashes; only the vote fold
    moves). The expression fold was the suite's worst GC citizen: an
    interpreted ``zip_with`` allocating a boxed 64-long array per
    TOKEN per document (~13k lambda evals for a 200-token doc), which
    both cost ~3× and made q37's 100× timings swing 16.8–36.8 s on
    collection pauses."""
    import numpy as np
    import pandas as pd

    from db2pq_spark.functions.arrow import series_pandas_udf

    shifts = np.arange(64, dtype=np.uint64)

    def kern(th: pd.Series) -> pd.Series:
        out = np.empty(len(th), dtype=np.int64)
        for i, hs in enumerate(th):
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            bits = ((h[:, None] >> shifts) & np.uint64(1)) \
                .astype(np.int64)
            votes = 2 * bits.sum(axis=0) - len(h)
            packed = ((votes > 0).astype(np.uint64) << shifts).sum(
                dtype=np.uint64)
            out[i] = packed.astype(np.int64)
        return pd.Series(out)

    return series_pandas_udf(kern, "long")


def simhash(df: DataFrame, text_col: str, id_col: str,
            token_hash: str = "xxhash64", impl: str = "arrow") -> DataFrame:
    """64-bit SimHash per document (id, simhash).

    Token hashes vote per bit position (+1/-1); the vote fold + sign
    packing run in ONE Arrow kernel over the JVM-computed token-hash
    array (``impl="arrow"``, default) or as a pure expression fold
    (``impl="expr"`` — the worker-free fallback; bit-identical output,
    see :func:`_simhash_from_hashes_udf` for why it lost the default).
    Fully **narrow** either way — no explode, no shuffle: each
    document's signature is computed where the document lives, which
    is exactly what you want scanning 100 TB of text. ``token_hash``
    picks the per-token hash family (:data:`_HASH_FAMILIES`:
    ``xxhash64``, or ``md5_60``, which the q37 gate oracle replays in
    DuckDB); both impls consume the same hashes, so the choice is
    orthogonal.
    Under-partitioned small scans are pre-spread so the fold uses
    every core (no-op at scale — see :func:`..skew.ensure_parallelism`)."""
    from db2pq_spark.operators.skew import ensure_parallelism

    if impl not in ("arrow", "expr"):
        raise ValueError(f"unknown impl {impl!r} — 'arrow' or 'expr'")
    _family(token_hash, ("xxhash64", "md5_60"), "token_hash")
    base = doc_tokens(ensure_parallelism(df), text_col, id_col)
    hashes = F.expr(token_hashes_sql(token_hash))
    if impl == "arrow":
        kern = _simhash_from_hashes_udf()
        return base.select("id", kern(hashes).alias("simhash"))
    masks = F.array(*[F.lit(m) for m in _BIT_MASKS])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks,
                        lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1))
                                   .otherwise(F.lit(-1)).cast("long")),
            lambda a, b: a + b,
        ),
    )
    packed = reduce(
        lambda acc, i: acc.bitwiseOR(
            F.when(F.element_at("_votes", i + 1) > 0, F.lit(_BIT_MASKS[i]))
             .otherwise(F.lit(0).cast("long"))
        ),
        range(64),
        F.lit(0).cast("long"),
    )
    return (
        base.select("id", votes.alias("_votes"))
        .select("id", packed.alias("simhash"))
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    num_chunks: int = 4,
    max_bucket: int | None = 1000,
    token_hash: str = "xxhash64",
    impl: str = "arrow",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ k via chunk blocking.

    Pigeonhole: splitting 64 bits into ``num_chunks`` equal chunks, any
    pair within Hamming < num_chunks shares at least one exact chunk —
    candidates come from equality joins on chunks (shuffle-friendly),
    then ``bit_count(xor)`` verifies. Recall is guaranteed only for
    ``max_hamming < num_chunks``; raising ``num_chunks`` widens the
    guarantee but shrinks chunk width (more candidates — the classic
    recall/cost dial). ``impl`` picks the signature kernel (see
    :func:`simhash` — both produce bit-identical signatures, so pair
    output is independent of the choice)."""
    from pyspark import StorageLevel

    chunk_bits = 64 // num_chunks
    mask = (1 << chunk_bits) - 1
    sh = (simhash(df, text_col, id_col, token_hash=token_hash,
                  impl=impl)
          .persist(StorageLevel.MEMORY_AND_DISK))
    chunks = ", ".join(
        f"struct({c} AS chunk, (shiftrightunsigned(simhash, "
        f"{c * chunk_bits}) & {mask}) AS key)" for c in range(num_chunks))
    cand = _bucket_pairs(
        sh.selectExpr("id", f"explode(array({chunks})) AS ck")
        .selectExpr("id", "ck.chunk", "ck.key"),
        ["chunk", "key"], max_bucket)
    return (
        cand.join(sh.selectExpr("id AS id1", "simhash AS sh1"), "id1")
        .join(sh.selectExpr("id AS id2", "simhash AS sh2"), "id2")
        .selectExpr("id1", "id2", "bit_count(sh1 ^ sh2) AS hamming")
        .where(f"hamming <= {int(max_hamming)}")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs within blocks.

    Quadratic **within a block** only — the block key (e.g. language)
    bounds the join; suitable as a verifier behind LSH or on moderate
    block sizes. Fully SQL-expressible (the DuckDB oracle replays it
    exactly with list_intersect/list_distinct)."""
    block = f"{_q(block_col) if block_col else 1} AS block"
    sh = (doc_tokens(df, text_col, id_col, block)
          .selectExpr("id", "block", f"{_shingles_sql('_toks', n)} AS grams"))
    inter = "size(array_intersect(a.grams, b.grams))"
    return (
        sh.alias("a").join(sh.alias("b"),
                           F.expr("a.block = b.block AND a.id < b.id"))
        .selectExpr("a.id AS id1", "b.id AS id2", f"{inter} / "
                    f"(size(a.grams) + size(b.grams) - {inter}) AS jaccard")
        .where(f"jaccard >= {float(threshold)!r}D")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------

def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str,
    k: int = 5, w: int = 4, token_hash: str = "arrow64",
) -> DataFrame:
    """Winnowed document fingerprints after Schleimer, Wilkerson &
    Aiken, *Winnowing: Local Algorithms for Document Fingerprinting*
    (SIGMOD 2003, the MOSS algorithm): hash every word k-gram, slide a
    window of ``w`` consecutive hashes, keep the MINIMUM hash of each
    window — the selected hash set is the fingerprint. Guarantee: any
    shared token run of length ≥ w+k−1 contributes at least one shared
    fingerprint (the property MinHash only gives probabilistically).

    Returns the exploded (id, fp) relation — distinct selected hashes
    per document (MOSS matches on the set; positions are an
    implementation detail the set-matching consumer never needs).
    Documents with ≥ k tokens but fewer than w windows keep the min of
    the hashes they do have (the standard short-document variant, so
    every hashable document carries ≥ 1 fingerprint); shorter/empty
    documents contribute nothing.

    Scale: fully NARROW — k-gram hashing, window minima, and the
    distinct all happen in-row on each document; the output explode is
    the only fan-out, bounded by ~2·tokens/(w+1) selected hashes per
    document. ``token_hash`` picks the hash family AND the execution
    path:

    - ``arrow64`` (production default): per-token xxhash64 JVM-side,
      then one Arrow-vectorized numpy kernel for k-gram mixing +
      window minima + distinct (:func:`_winnow_from_hashes_udf`) —
      the two interpreted lambda stages it replaces were ~10 s of an
      ~18 s corpus pass at the 100× replica (~2× end-to-end);
    - ``xxhash64``: all-JVM expression form; never builds k-gram
      STRINGS (each token hashed once, the k-gram key is xxhash64
      over the k-long slice — the q102/q116 span-key trick);
    - ``md5_60``: the exactness configuration the q119/q123 gate
      entries pin so DuckDB recomputes identical fingerprints from
      the k-gram text.

    Families are mutually incompatible (disjoint fingerprint values) —
    which is what the ``_fp_hash`` stamp below enforces.

    COMPATIBILITY NOTE: the default flipped ``xxhash64`` → ``arrow64``
    in round 9, so fingerprints computed under default arguments
    changed value across versions. A persisted corpus built under the
    old default must either be probed with an explicit
    ``token_hash='xxhash64'`` or re-fingerprinted — the ``_fp_hash``
    stamp turns the mismatch into a hard error instead of silent
    zero-overlap, and
    ``tests/test_review_fixes.py::TestWinnowCrossFamilyParity`` pins
    that both families produce the same overlap PAIR SET on
    guaranteed-run corpora.

    The output carries a ``_fp_hash`` stamp column naming the
    ``token_hash`` that built it — fingerprints from different hash
    families share NO values, so a persisted fingerprint corpus probed
    by a batch built with the other family would silently match
    nothing; :func:`winnow_overlap_incremental` enforces the stamp
    (same discipline as the MinHash ``_sig_repr`` stamp)."""
    return _winnow_arrays(df, text_col, id_col, k, w, token_hash) \
        .selectExpr("id", "explode(_fps) AS fp", f"'{token_hash}' AS _fp_hash")


def _stage_col(df: DataFrame, keep: list[str], expr: str,
               name: str) -> DataFrame:
    """Materialize ``expr`` as a real per-row column behind a Generate
    barrier: ``explode(array(expr))`` emits exactly one row per input
    row and — unlike a plain aliased projection — cannot be merged
    away by CollapseProject. Why that matters: chained projections
    that alias expensive array expressions are NOT a safe staging
    mechanism; the optimizer can inline an alias into every reference
    site, so an array referenced inside a per-window lambda re-computes
    per WINDOW (the un-barriered winnowing build measured ~50× slower —
    the k-gram hash array was rebuilt for every sliding window).
    ``expr`` is SQL text."""
    return df.selectExpr(*map(_q, keep),
                         f"explode(array({expr})) AS {_q(name)}")


def _winnow_from_hashes_udf(k: int, w: int):
    """Arrow-vectorized winnowing: per-token xxhash64 longs in →
    distinct window-minimum fingerprints out, all numpy. The
    expression form computes the k-gram hashes and the w-window minima
    with higher-order lambdas, which evaluate INTERPRETED — at the
    100× replica those two stages are ~10 s of an ~18 s corpus pass.
    Here the whole Arrow batch flattens into one array: the k-gram key
    is a polynomial combine of k shifted views finished with a
    splitmix64 avalanche (a different — and incompatible — hash family
    from the JVM ``xxhash64``-over-slices config, which is why this
    ships as its own ``token_hash='arrow64'`` stamp), window minima
    are w shifted ``np.minimum`` passes, doc boundaries are masked by
    comparing the repeated doc index across each span, and the
    per-doc DISTINCT is a lexsort + adjacent-unique. Docs with at
    least one k-gram but fewer than w windows keep the min of what
    they have (the standard short-document variant, same as the
    expression form); docs shorter than k tokens yield an empty array
    (:func:`_winnow_arrays` drops those rows after the kernel, as it
    drops them for the expression families)."""
    import numpy as np
    import pandas as pd

    from db2pq_spark.functions.arrow import series_pandas_udf

    P = np.uint64(0x100000001B3)

    def _mix(z):  # splitmix64 finalizer
        z = (z + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    def winnow_from_hashes(hs: pd.Series) -> pd.Series:
        n_rows = len(hs)
        if n_rows == 0:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(a, dtype=np.int64) for a in hs]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                           count=n_rows)
        total = int(lens.sum())
        empty = pd.Series([np.empty(0, dtype=np.int64)] * n_rows)
        if total < k:
            return empty
        flat = np.concatenate(arrs).view(np.uint64)
        doc = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
        with np.errstate(over="ignore"):
            # k-gram polynomial mix over k shifted views + avalanche;
            # positions whose k-span straddles a doc boundary are
            # masked out by comparing the doc index k−1 apart
            L1 = total - k + 1
            acc = np.zeros(L1, dtype=np.uint64)
            for j in range(k):
                acc = acc * P + flat[j:j + L1]
            in_doc = doc[:L1] == doc[k - 1:k - 1 + L1]
            kg = _mix(acc[in_doc])
            kg_doc = doc[:L1][in_doc]
            if len(kg) == 0:
                return empty
            n_kg = np.bincount(kg_doc, minlength=n_rows)
            # sliding w-minimum via shifted in-place minima, doc
            # boundaries masked the same way
            L2 = len(kg) - w + 1
            if L2 > 0:
                wm = kg[:L2].copy()
                for j in range(1, w):
                    np.minimum(wm, kg[j:j + L2], out=wm)
                ok = kg_doc[:L2] == kg_doc[w - 1:w - 1 + L2]
                wm, wm_doc = wm[ok], kg_doc[:L2][ok]
            else:
                wm = np.empty(0, dtype=np.uint64)
                wm_doc = np.empty(0, dtype=np.int64)
            # short-doc variant: ≥1 k-gram but <w windows → min of all
            # k-grams. reduceat over the contiguous non-empty segments
            # gives every doc's whole-segment min; take the short ones.
            short = (n_kg >= 1) & (n_kg < w)
            if short.any():
                kg_off = np.zeros(n_rows, dtype=np.int64)
                np.cumsum(n_kg[:-1], out=kg_off[1:])
                ne = n_kg > 0
                seg_min = np.minimum.reduceat(kg, kg_off[ne])
                s_val = seg_min[short[ne]]
                s_doc = np.flatnonzero(short)
                wm = np.concatenate([wm, s_val])
                wm_doc = np.concatenate([wm_doc, s_doc])
        # per-doc DISTINCT: group by (doc, value), keep one per run
        order = np.lexsort((wm, wm_doc))
        d_s, v_s = wm_doc[order], wm[order]
        keep = np.ones(len(d_s), dtype=bool)
        keep[1:] = (d_s[1:] != d_s[:-1]) | (v_s[1:] != v_s[:-1])
        d_u, v_u = d_s[keep], v_s[keep].view(np.int64)
        counts = np.bincount(d_u, minlength=n_rows)
        return pd.Series(np.split(v_u, np.cumsum(counts)[:-1]))

    return series_pandas_udf(winnow_from_hashes, "array<bigint>")


def _winnow_arrays(df: DataFrame, text_col: str, id_col: str,
                   k: int, w: int, token_hash: str) -> DataFrame:
    """Per-doc (id, _fps) winnowed-fingerprint arrays, built fully
    in-row with each intermediate array behind a Generate barrier
    (:func:`_stage_col` — evaluated once per row). Unstaged: the
    lambdas here defeat exchange-reuse canonicalization, so a
    multi-consumer caller stages the result itself."""
    from db2pq_spark.operators.skew import ensure_parallelism

    if token_hash != "arrow64":
        _family(token_hash, ("xxhash64", "md5_60"), "token_hash")
    base = doc_tokens(ensure_parallelism(df), text_col, id_col)
    if token_hash == "md5_60":
        staged = base
    else:
        staged = _stage_col(base, ["id"], token_hashes_sql(), "_th")
    if token_hash == "arrow64":
        # production default: per-token xxhash64 stays JVM-side (one
        # hash per token), then ONE Arrow kernel replaces the two
        # interpreted lambda stages (k-gram hash + window minima +
        # distinct) — see _winnow_from_hashes_udf. The kernel is a SQL
        # function of the session, registered on its first use there:
        # a pandas UDF called as a Column costs ~20 py4j commands per
        # call site, called by name in SQL text none.
        kern = f"winnow_from_hashes_k{int(k)}_w{int(w)}"
        spark = staged.sparkSession
        if not spark.catalog.functionExists(kern):
            spark.udf.register(kern, _winnow_from_hashes_udf(k, w))
        # a document shorter than k tokens gets []: its row goes behind
        # the barrier (a filter on the kernel's output alone is pushed
        # below it and runs the kernel twice)
        return (_stage_col(staged, ["id"], f"{kern}(_th)", "_fps")
                .where("size(_fps) > 0"))
    # a document shorter than k tokens has no k-grams: its row goes
    # here, behind the barrier, so the tokenization runs once
    staged = (_stage_col(staged, ["id"], _ngram_keys_sql(k, token_hash),
                         "_kh")
              .where("size(_kh) > 0"))
    return staged.selectExpr(
        "id", f"array_distinct(transform(sequence(1, greatest(1, "
        f"size(_kh) - {int(w)} + 1)), i -> array_min(slice(_kh, i, "
        f"{int(w)})))) AS _fps")


def winnow_overlap_pairs(
    df: DataFrame, text_col: str, id_col: str,
    k: int = 5, w: int = 4, min_shared: int = 2,
    max_bucket: int | None = 1000, token_hash: str = "arrow64",
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints —
    MOSS-style overlap candidates with a deterministic guarantee (every
    pair sharing a ≥ w+k−1-token run WILL appear, modulo the
    ``max_bucket`` skew cap).

    Scale shape mirrors the MinHash band join: fingerprints are the
    bucket keys; corpus-hot fingerprints above ``max_bucket`` docs
    (boilerplate shared by everything — pair count grows quadratically
    in bucket size, and such spans say nothing about pairwise overlap)
    are dropped before the self-join; surviving buckets self-join and
    collapse to per-pair shared counts in one aggregate. Never sorts,
    never goes corpus-quadratic. The per-doc fingerprint arrays are
    staged ONCE (:func:`..staging.stage`): the hot-cap count and both
    self-join sides all explode bare longs off the materialized
    relation instead of re-running the fingerprint pass — the
    un-staged shape really fingerprints the corpus three times (it
    measured ~3× slower at the 100× replica)."""
    staged = stage(_winnow_arrays(df, text_col, id_col, k, w,
                                  token_hash))
    fps = staged.selectExpr("id", "explode(_fps) AS fp")
    if max_bucket is not None:
        hot = (fps.groupBy("fp").count()
               .where(f"`count` > {int(max_bucket)}").select("fp"))
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = fps.withColumnRenamed("id", "id1")
    # the self-join's build side is fingerprint-relation-sized (~
    # tokens/2.5 rows) — a shuffled hash join builds multi-million-
    # entry per-partition maps (GC-bound); long fingerprints
    # radix-sort, so sort-merge measures ~20% faster and steadier at
    # the 100× replica despite the session's global hash preference
    b = fps.withColumnRenamed("id", "id2").hint("merge")
    return _shared_counts(a.join(b, "fp").where("id1 < id2"),
                          "id1", "id2", min_shared)


def _shared_counts(occ: DataFrame, left: str, right: str,
                   min_shared: int) -> DataFrame:
    """(left, right, shared_fps) of the pairs ``occ`` joins on at least
    ``min_shared`` fingerprints."""
    return (occ.groupBy(left, right)
            .agg(F.expr("CAST(count(*) AS BIGINT) AS shared_fps"))
            .where(f"shared_fps >= {int(min_shared)}"))


def winnow_overlap_incremental(
    batch: DataFrame, corpus: DataFrame, text_col: str, id_col: str,
    k: int = 5, w: int = 4, min_shared: int = 2,
    max_bucket: int | None = 1000, token_hash: str = "arrow64",
    precomputed: bool | None = None,
) -> DataFrame:
    """Which NEW documents share ≥ ``min_shared`` winnowed fingerprints
    with an EXISTING corpus — (batch_id, corpus_id, shared_fps). The
    MOSS-guarantee twin of :func:`minhash_dedup_incremental` /
    :func:`exact_dedup_incremental`, completing the incremental trio:
    every batch/corpus pair sharing a ≥ w+k−1-token run WILL surface
    (modulo the ``max_bucket`` cap), deterministically.

    Scale shape — the corpus never shuffles, and is never staged:

    - the batch (the small side by contract, a daily crawl increment)
      fingerprints ONCE (staged) and its distinct
      fingerprint keys BROADCAST as a semi filter over the corpus
      before anything else — a corpus fingerprint absent from the
      batch can neither produce an overlap row nor change the hot-ness
      of a surviving key, so everything downstream operates on the
      batch-matched relation only;
    - ``corpus`` may be raw documents or a precomputed
      :func:`winnow_fingerprints` relation (id, fp) — at 100 TB you
      persist the fingerprint table once and pass it here, making the
      marginal cost per increment one fingerprint-table scan. A
      precomputed relation is recognized by its ``_fp_hash`` stamp
      column (id+fp WITHOUT the stamp is ambiguous and raises unless
      the caller passes ``precomputed=True/False``), and the stamp is
      ENFORCED against ``token_hash`` (mismatched hash families share
      no fingerprints and would silently report zero overlaps); raw
      documents are fingerprinted in one narrow pass (the broadcast
      semi filter is the single consumer, so no corpus-sized
      checkpoint is ever written);
    - the hot-fingerprint cap counts (fp → corpus doc-frequency) on
      the matched relation — winnow fingerprints are distinct per
      doc, so the counts equal the corpus-wide ones for every key the
      batch can see — and anti-broadcasts the hot keys; boilerplate
      buckets cost one matched-relation-sized shuffle, never a
      corpus-sized one.

    Small-scale trade (do not "fix" back): the broadcast semi filter
    adds a fixed batch-fingerprint collect+broadcast stage — ~0.7 s
    constant at sf0.1 — and wins ~8× at the 100× replica because the
    corpus-side shuffle it removes grows with the corpus while the
    broadcast does not (round-9 measured 100× ratio 17.8×→2.2×)."""
    bfp = (winnow_fingerprints(batch, text_col, id_col, k, w,
                               token_hash)
           .selectExpr("id AS batch_id", "fp"))
    # two consumers below: the distinct-key semi filter and the final
    # pair join
    bfp = stage(bfp)
    # Deciding "is this a fingerprint relation?" from the column-name
    # SHAPE alone is fragile: a raw-document DataFrame that happens to
    # carry id/fp columns would silently skip tokenization. The stamp
    # column written by winnow_fingerprints() is the reliable marker;
    # id+fp WITHOUT it is ambiguous and raises unless the caller
    # disambiguates with precomputed=True/False.
    if precomputed is None:
        if {"id", "fp", "_fp_hash"}.issubset(set(corpus.columns)):
            precomputed = True
        elif {"id", "fp"}.issubset(set(corpus.columns)):
            raise ValueError(
                "corpus carries id+fp columns but no _fp_hash stamp — "
                "ambiguous between a pre-stamp fingerprint relation "
                "and raw documents that happen to have those columns. "
                "Pass precomputed=True (treat as fingerprints; the "
                "hash-family check degrades to a warning) or "
                "precomputed=False (fingerprint it as raw documents)")
        else:
            precomputed = False
    if precomputed:
        if not {"id", "fp"}.issubset(set(corpus.columns)):
            raise ValueError(
                "precomputed=True but corpus lacks id/fp columns — "
                "build it via winnow_fingerprints()")
        if "_fp_hash" in corpus.columns:
            raw = [r[0] for r in corpus.select("_fp_hash").distinct()
                   .limit(3).collect()]
            families = sorted(v for v in raw if v is not None)
            if len(families) > 1:
                raise ValueError(
                    f"precomputed corpus fingerprints mix hash "
                    f"families {families} — re-fingerprint the corpus "
                    "with one token_hash via winnow_fingerprints()")
            if families and families[0] != token_hash:
                raise ValueError(
                    f"precomputed corpus fingerprints were built with "
                    f"token_hash={families[0]!r} but the batch would "
                    f"use token_hash={token_hash!r} — different hash "
                    "families share no fingerprints and would "
                    "silently report zero overlaps; pass "
                    f"token_hash={families[0]!r}")
        else:
            import warnings

            warnings.warn(
                "precomputed corpus fingerprints carry no _fp_hash "
                f"stamp — assuming token_hash={token_hash!r}; "
                "re-persist via winnow_fingerprints() to make the "
                "hash-family mismatch check effective", stacklevel=2)
        cfp = corpus.selectExpr("id AS corpus_id", "fp")
    else:
        # single downstream consumer (the broadcast semi filter), so
        # the raw path needs no staged materialization of the full
        # corpus fingerprint relation — one narrow pass, no checkpoint
        # write of anything corpus-sized
        cfp = (_winnow_arrays(corpus, text_col, id_col, k, w,
                              token_hash)
               .selectExpr("id AS corpus_id", "explode(_fps) AS fp"))
    # broadcast the batch's DISTINCT fingerprint keys as a semi filter
    # FIRST: a corpus fingerprint absent from the batch can neither
    # produce an overlap row nor change the hot-ness of any surviving
    # key (winnow fingerprints are distinct per doc, so per-fp row
    # counts equal corpus doc-frequency with or without the filter).
    # This moves the hot-cap count from a corpus-wide fp→count shuffle
    # onto the batch-matched relation — the corpus now NEVER shuffles,
    # its only wide op is reading the broadcast.
    bkeys = bfp.select("fp").distinct()
    hits = cfp.join(F.broadcast(bkeys), "fp")
    if max_bucket is not None:
        # two consumers of the matched relation (the hot count and the
        # pair join) — stage the small matched relation, not the
        # corpus fingerprints
        hits = stage(hits)
        hot = (hits.groupBy("fp").count()
               .where(f"`count` > {int(max_bucket)}").select("fp"))
        hits = hits.join(F.broadcast(hot), "fp", "left_anti")
    return _shared_counts(
        hits.join(F.broadcast(bfp), "fp").where("corpus_id != batch_id"),
        "batch_id", "corpus_id", min_shared)


# ---------------------------------------------------------------------------
# Exact-substring (repeated-span) detection
# ---------------------------------------------------------------------------

_SPAN_FAMILIES = ("xxhash64", "md5")


def _span_hashes(df: DataFrame, text_col: str, id_col: str, n: int,
                 span_hash: str = "xxhash64") -> DataFrame:
    """(id, pos, h): every positioned n-token span of every document,
    keyed per :func:`_ngram_keys_sql` (xxhash64: token-hash slices, no
    span strings) or — for the md5 exactness config — by the codegen'd
    post-explode md5 of the span text. A document shorter than ``n``
    tokens has no spans; ``pos`` is the 0-based start token."""
    from db2pq_spark.operators.skew import ensure_parallelism

    key = _family(span_hash, _SPAN_FAMILIES, "span_hash")
    base = doc_tokens(ensure_parallelism(df), text_col, id_col)
    if span_hash == "xxhash64":
        keys = _ngram_keys_sql(n, span_hash)
        return (base.selectExpr("id", f"{token_hashes_sql()} AS _th")
                .selectExpr("id", f"posexplode({keys}) AS (pos, h)"))
    spans = _windows_sql("_toks", n, "concat_ws(' ', {})")
    return (base.selectExpr("id", f"posexplode({spans}) AS (pos, _span)")
            .selectExpr("id", "pos", f"{key.format('_span')} AS h"))


def _span_stage(df: DataFrame, text_col: str, id_col: str, n: int,
                span_hash: str, keep_tokens: bool) -> DataFrame:
    """The shared span-family staging relation: per-doc
    (id[, _toks], _sh) where ``_sh`` is the in-row span-key array
    (:func:`_ngram_keys_sql`) — one tokenize+hash pass over the
    corpus, staged once so every consumer (key counting, occurrence
    extraction, rebuilds) re-reads it instead of re-running the pass
    (the un-staged shape really re-executes per consumer — it was ~2/3
    of the span family's runtime at the 100× replica). The span key,
    ``span_hash``: ``xxhash64`` (production default) shuffles 8-byte
    longs — ~4× fewer key bytes than md5's 32-char hex strings — and
    its corpus-scale collisions are negligible for a dedup signal (a
    colliding pair merely over-counts one span); ``md5`` is the
    exactness configuration the q102/q104/q116 gate oracles replay."""
    _family(span_hash, _SPAN_FAMILIES, "span_hash")
    staged = doc_tokens(df, text_col, id_col)
    if span_hash == "xxhash64":
        staged = staged.selectExpr("id", "_toks",
                                   f"{token_hashes_sql()} AS _th")
    cols = ["id", "_toks"] if keep_tokens else ["id"]
    return stage(staged.selectExpr(
        *cols, f"{_ngram_keys_sql(n, span_hash)} AS _sh"))


def duplicate_spans(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 20, min_count: int = 2, span_hash: str = "xxhash64",
) -> DataFrame:
    """Exact-substring duplicate detection, after Lee et al.,
    *Deduplicating Training Data Makes Language Models Better*
    (arXiv:2107.06499) — re-expressed relationally: instead of a
    monolithic suffix array, every positioned n-token span is keyed by
    its hash and counted corpus-wide; spans whose key occurs
    ``min_count``+ times (in any document, including the same one) are
    duplicated content.

    Returns per-document stats: ``n_spans``, ``dup_spans``,
    ``dup_span_ratio`` — the standard "fraction of the document that is
    boilerplate shared with the rest of the corpus" filter signal.

    Scale: aggregate, don't sort — and keep the wide work on the
    minority. From the staged per-doc relation (:func:`_span_stage`):
    ``n_spans`` is just ``size(_sh)``, computed NARROWLY (the round-7
    shape shuffled the full per-(doc, key) relation twice — by key and
    again by doc — just to recover a count that was sitting in-row);
    corpus-wide key totals explode bare 8-byte keys through ONE
    map-side-combined aggregate; the duplicated-key side is filtered
    to ``>= min_count`` before joining back, so only the duplicated
    minority of occurrences travels through the per-doc count
    (broadcast when AQE sees the key set small, shuffled-hash
    otherwise — never a sort). A count(*) window partitioned by the
    near-unique key would instead sort the entire span relation —
    measured super-linear at an all-duplicate replica vs ~linear for
    this shape. Never materializes pairs, never goes quadratic.

    ``span_hash`` picks the span equality key — see :func:`_span_stage`
    (``xxhash64`` production default; ``md5`` for engine-replayable
    oracles)."""
    from db2pq_spark.operators.skew import ensure_parallelism

    staged = _span_stage(ensure_parallelism(df), text_col, id_col, n,
                         span_hash, keep_tokens=False)
    per_doc = (staged.where("size(_sh) > 0")
               .selectExpr("id", "size(_sh) AS n_spans"))
    g = staged.selectExpr("id", "explode(_sh) AS h")
    dup = (g.groupBy("h").agg(F.expr("count(*) AS tot"))
           .where(f"tot >= {int(min_count)}").select("h"))
    dup_per_doc = (g.join(dup, "h").groupBy("id")
                   .agg(F.expr("count(*) AS _dup_c")))
    return (
        per_doc.join(dup_per_doc, "id", "left")
        .selectExpr(f"id AS {_q(id_col)}",
                    "CAST(n_spans AS BIGINT) AS n_spans",
                    "CAST(coalesce(_dup_c, 0) AS BIGINT) AS dup_spans")
        .selectExpr(_q(id_col), "n_spans", "dup_spans",
                    "round(dup_spans / n_spans, 6) AS dup_span_ratio")
    )


def duplicate_span_positions(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 20, min_count: int = 2, span_hash: str = "xxhash64",
) -> DataFrame:
    """Positions of duplicated n-token spans: (id, pos, span_count) for
    every span whose corpus-wide count reaches ``min_count`` — the
    input a downstream substring-removal/cut pass consumes. Same
    staged sort-free aggregate-then-rejoin plan as
    :func:`duplicate_spans`."""
    from db2pq_spark.operators.skew import ensure_parallelism

    staged = _span_stage(ensure_parallelism(df), text_col, id_col, n,
                         span_hash, keep_tokens=False)
    g = staged.selectExpr("id", "posexplode(_sh) AS (pos, h)")
    dup_counts = (
        g.groupBy("h").agg(F.expr("count(*) AS span_count"))
        .where(f"span_count >= {int(min_count)}")
    )
    return (
        g.join(dup_counts, "h")  # broadcast-or-hash, never sorted
        .selectExpr(f"id AS {_q(id_col)}", "pos", "span_count")
    )


def remove_duplicate_spans(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 20, min_count: int = 2, span_hash: str = "xxhash64",
    keep: str = "none",
) -> DataFrame:
    """Cut duplicated n-token spans OUT of each document — the removal
    pass that completes the Lee et al. (arXiv:2107.06499)
    exact-substring pipeline: :func:`duplicate_spans` scores,
    :func:`duplicate_span_positions` locates, this rewrites.

    ``keep="none"`` (default): every token covered by ANY occurrence
    of a corpus-duplicated span is dropped — the common
    boilerplate-stripping variant, order-free hence trivially
    deterministic. ``keep="one"``: the paper's canonical-occurrence
    semantics — per duplicated span key, the EXEMPLAR occurrence
    (minimum ``(id, pos)``, a deterministic total order standing in
    for the paper's suffix-array first occurrence) is NOT cut; every
    other occurrence is. The exemplar's tokens can still fall to a
    different key's non-exemplar occurrence covering them — coverage
    composes by position, exactly as in the drop-all variant.
    NULL/whitespace-only documents are excluded (no tokens to cut).

    Returns (id, clean_text, n_kept, n_removed). Scale shape — ONE
    tokenize+hash pass over the corpus, then everything narrow or
    minority-sized:

    - the corpus collapses to a per-doc staging relation
      (id, tokens, span-key array) — built in-row and materialized
      ONCE (:func:`_span_stage`). Every later pass (key counting, start
      extraction, the rebuild join) re-reads this relation instead of
      re-tokenizing and re-hashing the corpus: a lambda inside
      ``Generate`` defeats exchange-reuse canonicalization, so the
      un-materialized shape really executes the span-hash pass once
      per consumer — it alone was ~2/3 of the round-7 runtime at the
      100× replica;
    - detection explodes only (pos, key) longs off the staged arrays;
      the duplicated-key relation is filtered to ``count >=
      min_count`` before anything moves, so only duplicated span
      START positions (ints, the corpus minority) travel through the
      one doc-keyed ``collect_set`` aggregate, which joins back to
      the staging relation (broadcast when AQE sees it small);
    - AFFECTED rows expand their starts to a covered-index set, drop
      those indices from their own token array (``array_except`` —
      native hash set, linear) and re-join the survivors; UNTOUCHED
      rows — the corpus majority — take a ``WHEN _starts IS NULL``
      fast path that re-emits the normalized tokens with a single
      native ``concat_ws`` and never evaluates the interpreted
      per-token rebuild (conditional branches evaluate lazily).

    No all-token explode of strings, no ``collect_list`` reassembly of
    the corpus (the round-6 shape — it shuffled every token and was
    the suite's worst 100× ratio). Like the detection pass: aggregate,
    don't sort; never pairs, never quadratic.

    ``span_hash``: see :func:`_span_stage`."""
    from db2pq_spark.operators.skew import ensure_parallelism

    if keep not in ("none", "one"):
        raise ValueError(f"keep={keep!r} — 'none' or 'one'")
    staged = _span_stage(ensure_parallelism(df), text_col, id_col, n,
                         span_hash, keep_tokens=True)
    base = staged.select("id", "_toks")
    g = staged.selectExpr("id", "posexplode(_sh) AS (pos, h)")
    # the same count aggregate also picks each key's exemplar when
    # keep="one" — min(struct(id, pos)), the propagate_labels
    # argmin-by-struct pattern; no extra shuffle over the span relation
    dup = (g.groupBy("h")
           .agg(F.expr("count(*) AS c"), F.expr("min(struct(id, pos)) AS _ex"))
           .where(f"c >= {int(min_count)}").select("h", "_ex"))
    cut_occ = g.join(dup, "h")
    if keep == "one":
        cut_occ = cut_occ.where("NOT ((id = _ex.id) AND (pos = _ex.pos))")
    # only duplicated span OCCURRENCES shuffle, and only their start
    # positions — the ×n covered-index expansion happens in-row below
    starts = cut_occ.groupBy("id").agg(F.expr("collect_set(pos) AS _starts"))
    cut = ("array_distinct(flatten(transform(_starts, "
           f"p -> sequence(p, p + {int(n) - 1}))))")
    kept_idx = "array_except(sequence(0, size(_toks) - 1), _cut)"
    rebuilt = ("concat_ws(' ', transform(_ki, "
               "i -> element_at(_toks, i + 1)))")
    # stepwise selects keep each expensive alias referenced ≤ the
    # CollapseProject inlining rules allow, so the interpreted
    # expressions are planned ONCE, inside the affected-rows branch
    return (
        base.join(starts, "id", "left")
        .selectExpr("id", "_toks",
                    f"CASE WHEN _starts IS NOT NULL THEN {cut} END AS _cut")
        .selectExpr("id", "_toks",
                    f"CASE WHEN _cut IS NOT NULL THEN {kept_idx} END AS _ki")
        .selectExpr(
            "id",
            "CASE WHEN _ki IS NULL THEN concat_ws(' ', _toks) "
            f"ELSE {rebuilt} END AS clean_text",
            # size(NULL) is -1 under non-ANSI defaults — branch on the
            # array itself, never coalesce over size()
            "CAST(CASE WHEN _ki IS NULL THEN size(_toks) ELSE size(_ki) END"
            " AS BIGINT) AS n_kept",
            "CAST(CASE WHEN _ki IS NULL THEN 0 "
            "ELSE size(_toks) - size(_ki) END AS BIGINT) AS n_removed")
    )


def contamination_stats(
    train: DataFrame, bench: DataFrame, text_col: str, id_col: str,
    n: int = 13, span_hash: str = "xxhash64",
) -> DataFrame:
    """Benchmark-decontamination signal: per training document, how
    many of its n-token spans also occur in the benchmark corpus
    (the standard n-gram-overlap test-set-leakage check, e.g. GPT-3
    appendix C / PaLM-style 13-gram overlap — hence the default).

    Returns (id, n_spans, contaminated_spans, contaminated). Scale:
    benchmark suites are tiny next to a 100 TB training corpus, so the
    distinct benchmark-span side is broadcast by AQE; training spans
    stream through a semi-join probe without reshuffling the corpus —
    the only wide operation is the per-document count. ``span_hash``:
    see :func:`_span_stage`."""
    tspans = _span_hashes(train, text_col, id_col, n, span_hash)
    bspans = _span_hashes(bench, text_col, id_col, n, span_hash) \
        .select("h").distinct()
    hits = (tspans.join(bspans, "h", "left_semi").groupBy("id")
            .agg(F.expr("count(*) AS contaminated_spans")))
    totals = tspans.groupBy("id").agg(F.expr("count(*) AS n_spans"))
    return (
        totals.join(hits, "id", "left")
        .selectExpr(
            f"id AS {_q(id_col)}", "n_spans",
            "CAST(coalesce(contaminated_spans, 0) AS BIGINT)"
            " AS contaminated_spans",
            "coalesce(contaminated_spans, 0) > 0 AS contaminated")
    )


def decontaminate(
    train: DataFrame, bench: DataFrame, text_col: str, id_col: str,
    n: int = 13, min_overlap: int = 1, span_hash: str = "xxhash64",
) -> DataFrame:
    """Drop training documents sharing ``min_overlap``+ n-token spans
    with the benchmark corpus; docs too short to produce spans are
    kept. Anti-join on the flagged-id set (benchmark-hit-sized,
    broadcast in practice)."""
    flagged = (
        contamination_stats(train, bench, text_col, id_col, n,
                            span_hash)
        .where(f"contaminated_spans >= {int(min_overlap)}")
        .select(id_col)
    )
    return train.join(flagged, id_col, "left_anti")
