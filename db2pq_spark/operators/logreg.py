"""Iteratively-trained quality classifier — hashed-feature logistic
regression by deterministic full-batch gradient descent.

The production web-filter lineage (fastText-style supervised models:
GPT-3 appendix A's "classifier trained to distinguish curated corpora",
FineWeb-Edu's quality scorer) is a LINEAR model over hashed bag-of-words
features, trained by gradient steps. :mod:`.quality` covers the
closed-form member of that family (Naive Bayes — two corpus passes, no
loop); this module is the trained member: the same hashed feature space,
but weights fit by epochs of full-batch logistic-loss gradient descent —
the repo's third iterative trainer after Lloyd's k-means
(:mod:`.clustering`) and the unigram-LM EM (:mod:`.unigram_soft`).

Reference repo has no classifier surface (ETL/sync only,
``/root/reference/README.md:1-17``); [extension] per the driver charter.

Cross-engine determinism (the workload's standard discipline):

- features are integer counts in a ``n_buckets``-bounded hashed space
  (md5 buckets for gate exactness, xxhash64 for production — the DSIR
  stance, :mod:`.importance`);
- weights live in integer MICRO-UNITS; a document's margin is an exact
  ``Σ cnt·w_units`` int64 (order-independent), converted to a double by
  ONE IEEE division;
- the per-document residual ``sigmoid(margin) − y`` is rounded to
  micro-units BEFORE aggregation, so the per-feature gradient is an
  exact int64 sum no float reduction order can perturb (engines agree
  wherever their ``exp`` doubles agree — the accepted log2/exp stance);
- the weight update is pure integer arithmetic: floor-divisions by the
  document count and the micro-unit scale (Python ``//`` driver-side;
  the oracle replays it with DuckDB integer ops).

Scale shape: ONE corpus explode builds the (id, feat, cnt) design
relation (feat-space bounded by ``n_buckets``; persisted across
epochs). Per epoch: margins are one broadcast-weight lookup plus a
doc-keyed aggregate; gradients are one id-keyed join back to the design
relation plus a feature-keyed partial aggregate (B-bounded). The ONLY
driver materialization is the (B+1)-row gradient vector per epoch —
the bounded-fold class k-means already occupies. Int64 headroom: the
gradient sum is ≤ N·10⁶·max_cnt, inside int64 up to ~10¹⁰ documents
with thousand-token repeats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from db2pq_spark.operators.sampling import salted_bucket
from db2pq_spark.operators.textstats import tokens

__all__ = ["logreg_features", "logreg_train", "logreg_score",
           "logreg_sql"]

#: micro-unit scale for weights and residuals
_UNIT = 1_000_000


def logreg_features(
    df: DataFrame, text_col: str, id_col: str, label: Column,
    n_buckets: int = 64, keys: str = "md5",
) -> DataFrame:
    """(id, y, feat, cnt) — hashed bag-of-words counts plus one bias
    row (``feat = n_buckets``, ``cnt = 1``) per document, so the bias
    trains uniformly with the weights. ``y`` is the 0/1 label from the
    boolean ``label`` column. Every document contributes its bias row
    even when it has no tokens."""
    base = df.select(F.col(id_col).alias("id"),
                     label.cast("int").alias("y"),
                     tokens(text_col).alias("_toks"))
    # r13 plan shape: ONE exchange total. The bias feature rides the
    # token array as an in-row sentinel element (feat = n_buckets is
    # reserved — salted_bucket lands in [0, n_buckets), so the sentinel
    # can never collide with a hashed token, and a NULL-text document
    # still contributes exactly its bias row via the coalesce), the
    # compact doc rows repartition by id ONCE, and the (id, y, feat)
    # count aggregate runs exchange-free on top of it (hash(id)
    # satisfies clustering by (id, y, feat)). The former shape paid
    # two exchanges — the exploded-token count aggregate plus the
    # trainer's id-repartition — and the first one carried a row per
    # token instead of a row per document.
    featarr = F.concat(
        F.coalesce(
            F.transform("_toks",
                        lambda t_: salted_bucket(t_, n_buckets, "lr", keys)
                        .cast("bigint")),
            F.array().cast("array<bigint>")),
        F.array(F.lit(n_buckets).cast("bigint")))
    # explode_outer, not explode: the array is never NULL or empty
    # (coalesce + concat'd bias sentinel), so the two are identical —
    # but plain explode makes InferFiltersFromGenerate add a
    # `size(_feats) > 0` filter that pushes below the exchange and
    # re-evaluates the whole tokenize+hash expression a second time
    # per document at the scan (measured: the full expression twice
    # per row in the physical plan). outer generate is exempt.
    return (base.select("id", "y", featarr.alias("_feats"))
            .repartition("id")
            .select("id", "y", F.explode_outer("_feats").alias("feat"))
            .groupBy("id", "y", "feat")
            .agg(F.count("*").alias("cnt")))


def _margins(x: DataFrame, w_units: list[int]) -> DataFrame:
    """(id, y, mu) — exact int64 margins under the weight vector
    (micro-units). Weights ship as ONE ``createDataFrame`` relation
    broadcast into a feat-keyed join — NOT a plan-literal array: a
    production-width vector (4097 elements) as ``F.array(*lits)``
    costs thousands of Py4J round trips PER EPOCH in driver-side plan
    construction (~7 s/epoch measured at B=4096 — the q38
    literal-array postmortem shape). The broadcast join is narrow, so
    the upstream id-partitioning survives for the doc-keyed sum."""
    spark = x.sparkSession
    wdf = spark.createDataFrame(
        [(f, int(wu)) for f, wu in enumerate(w_units)],
        "feat bigint, wu bigint")
    return (x.join(F.broadcast(wdf), "feat")
            .select("id", "y", (F.col("cnt") * F.col("wu")).alias("_t"))
            .groupBy("id", "y").agg(F.sum("_t").alias("mu")))


def _residuals(m: DataFrame) -> DataFrame:
    """(id, ru) — micro-unit residuals ``round((σ(mu/1e6) − y)·1e6)``.
    One IEEE division, one exp, one round — the identical expression
    tree the oracle writes."""
    p = F.lit(1.0) / (F.lit(1.0)
                      + F.exp(-(F.col("mu").cast("double")
                                / F.lit(float(_UNIT)))))
    return m.select("id", F.round((p - F.col("y").cast("double"))
                                  * F.lit(float(_UNIT)), 0)
                    .cast("bigint").alias("ru"))


def logreg_train(
    df: DataFrame, text_col: str, id_col: str, label: Column,
    n_buckets: int = 64, epochs: int = 3, lr_micro: int = 500_000,
    keys: str = "md5",
) -> list[int]:
    """Fit ``epochs`` of full-batch gradient descent; returns the
    (B+1)-element weight vector in micro-units (index ``B`` is the
    bias). Learning rate is ``lr_micro``/10⁶.

    Per epoch (see module docstring for the determinism contract):
    margins → micro-unit residuals → exact int64 per-feature gradient
    (collected: B+1 rows, the k-means-class bounded fold) → integer
    weight update ``w −= (lr_micro · (g // N)) // 10⁶`` driver-side
    (Python ``//`` = floor; the oracle replays both divisions)."""
    # the design relation is id-clustered by construction (r13:
    # logreg_features repartitions the compact doc rows once and
    # aggregates exchange-free on top), so every epoch runs
    # exchange-free except the B-bounded feature aggregate
    x = logreg_features(df, text_col, id_col, label, n_buckets, keys) \
        .persist()
    try:
        if int(epochs) <= 0:
            # no gradient pass to piggyback the doc count on — keep
            # the explicit emptiness check for this corner
            if x.where(F.col("feat") == n_buckets).isEmpty():
                raise ValueError("logreg_train: empty corpus")
            return [0] * (n_buckets + 1)
        w = [0] * (n_buckets + 1)
        n_docs = None
        for _ in range(int(epochs)):
            r = _residuals(_margins(x, w))
            # nb rides the gradient aggregate: the bias feature has
            # exactly one row per document, so its nb IS the document
            # count — the former separate count() job is gone (r13)
            grad = (x.join(r, "id")
                    .groupBy("feat")
                    .agg(F.sum(F.col("ru") * F.col("cnt")).alias("g"),
                         F.count("*").alias("nb"))
                    .collect())
            if n_docs is None:
                n_docs = next((int(row["nb"]) for row in grad
                               if int(row["feat"]) == n_buckets), 0)
                if n_docs == 0:
                    raise ValueError("logreg_train: empty corpus")
            g = {int(row["feat"]): int(row["g"]) for row in grad}
            w = [wi - (int(lr_micro) * (g.get(f, 0) // n_docs)) // _UNIT
                 for f, wi in enumerate(w)]
        return w
    finally:
        x.unpersist()


def logreg_weights_df(spark, w_units: list[int]) -> DataFrame:
    """The weight vector as a persistable (feat, wu, _lr_b) relation —
    ``_lr_b`` stamps the feature-space size so a scoring increment can
    refuse weights trained under a different hash space."""
    b = len(w_units) - 1
    return spark.createDataFrame(
        [(f, int(wu), b) for f, wu in enumerate(w_units)],
        "feat bigint, wu bigint, _lr_b bigint")


def logreg_score(
    batch: DataFrame, weights: DataFrame, text_col: str, id_col: str,
    n_buckets: int = 64, keys: str = "md5",
) -> DataFrame:
    """Score a batch against persisted :func:`logreg_weights_df`
    weights — ``(id, n_feats, margin_units, prob6, predicted)``. One
    batch explode, one forced-broadcast weight join (the relation is
    B+1 rows unconditionally; the explode side's size estimate lies),
    one doc-keyed re-aggregate; hashed features cannot be OOV. The
    ``_lr_b`` stamp is validated in-row inside the join (null-safe —
    a state with a missing stamp is refused, not skipped), costing no
    extra job."""
    wu_checked = F.when(
        ~F.col("_lr_b").eqNullSafe(F.lit(int(n_buckets))),
        F.raise_error(F.concat(
            F.lit("logreg_score: weights trained with n_buckets="),
            F.coalesce(F.col("_lr_b").cast("string"), F.lit("NULL")),
            F.lit(f", scorer configured for {int(n_buckets)}")))
    ).otherwise(F.col("wu"))
    base = batch.select(F.col(id_col).alias("id"),
                        tokens(text_col).alias("_toks"))
    # r13: one exchange total (the same in-row bias sentinel + single
    # id-repartition shape as logreg_features) — the feature count
    # aggregate AND the doc-keyed margin aggregate both run
    # exchange-free on the id clustering, where the former shape paid
    # a (id, feat)-hash exchange of the token relation plus a second
    # exchange back onto id for the margins
    featarr = F.concat(
        F.coalesce(
            F.transform("_toks",
                        lambda t_: salted_bucket(t_, n_buckets, "lr", keys)
                        .cast("bigint")),
            F.array().cast("array<bigint>")),
        F.array(F.lit(n_buckets).cast("bigint")))
    # explode_outer: see logreg_features — blocks the inferred
    # size()>0 filter that would re-run tokenize+hash per row
    x = (base.select("id", featarr.alias("_feats"))
         .repartition("id")
         .select("id", F.explode_outer("_feats").alias("feat"))
         .groupBy("id", "feat").agg(F.count("*").alias("cnt")))
    margins = (x.join(F.broadcast(weights.select(
                   "feat", wu_checked.alias("_wu"))), "feat")
               .groupBy("id")
               .agg(F.count("*").alias("n_feats"),
                    F.sum(F.col("cnt") * F.col("_wu")).alias("mu")))
    p = F.lit(1.0) / (F.lit(1.0)
                      + F.exp(-(F.col("mu").cast("double")
                                / F.lit(float(_UNIT)))))
    return margins.select(
        "id", F.col("n_feats").cast("bigint").alias("n_feats"),
        F.col("mu").cast("bigint").alias("margin_units"),
        F.round(p, 6).alias("prob6"),
        (F.col("mu") > 0).alias("predicted"))


def _fdiv(a: str, b: str) -> str:
    """DuckDB floor-division of possibly-negative exact integers —
    Python ``//`` semantics: subtract the positive mod, then the exact
    integer division cannot round."""
    pm = f"((({a}) % ({b})) + ({b})) % ({b})"
    return f"CAST((({a}) - ({pm})) // ({b}) AS BIGINT)"


def logreg_sql(
    docs: str, text_sql: str, id_sql: str, label_sql: str,
    feat_sql: str, n_buckets: int, epochs: int, lr_micro: int,
    score_docs: str | None = None,
) -> str:
    """DuckDB CTE chain replaying :func:`logreg_train` +
    :func:`logreg_score` over the training corpus: ``x`` the design
    relation, then per epoch margins → residuals → gradient → integer
    weight update, ending in a ``scored`` relation
    ``(id, n_feats, margin_units, prob6, predicted)``. ``feat_sql``
    must replay the Spark-side bucket hash over the column ``tok``
    (:func:`..sampling.hash_bucket_sql` for the md5 gate config);
    ``text_sql`` tokenizes to a VARCHAR[] named by the caller."""
    b = int(n_buckets)
    u = float(_UNIT)
    ctes = [f"""
    lrbase AS (
      SELECT {id_sql} AS id, CAST({label_sql} AS INT) AS y,
             {text_sql} AS toks
      FROM {docs}
    ),
    lrx AS (
      SELECT id, y, CAST({feat_sql} AS BIGINT) AS feat,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT id, y, unnest(toks) AS tok FROM lrbase)
      GROUP BY 1, 2, 3
      UNION ALL
      SELECT id, y, {b}, 1 FROM lrbase
    ),
    lrn AS (SELECT COUNT(*) AS n FROM lrbase),
    w0 AS (
      SELECT unnest(generate_series(0, {b})) AS feat,
             CAST(0 AS BIGINT) AS wu
    )"""]
    for e in range(1, int(epochs) + 1):
        m1 = _fdiv("g.g", "lrn.n")
        delta = _fdiv(f"{int(lr_micro)} * {m1}", str(int(u)))
        ctes.append(f"""
    m{e} AS (
      SELECT x.id, x.y, SUM(x.cnt * w.wu) AS mu
      FROM lrx x JOIN w{e - 1} w USING (feat)
      GROUP BY x.id, x.y
    ),
    r{e} AS (
      SELECT id,
             CAST(round((1.0e0 / (1.0e0
                    + exp(-(CAST(mu AS DOUBLE) / {u:.1f}e0)))
                  - CAST(y AS DOUBLE)) * {u:.1f}e0, 0) AS BIGINT)
             AS ru
      FROM m{e}
    ),
    g{e} AS (
      SELECT x.feat, CAST(SUM(r.ru * x.cnt) AS BIGINT) AS g
      FROM lrx x JOIN r{e} r USING (id)
      GROUP BY x.feat
    ),
    w{e} AS (
      SELECT w.feat, w.wu - COALESCE({delta}, 0) AS wu
      FROM w{e - 1} w LEFT JOIN g{e} g USING (feat), lrn
    )""")
    score_rel = "lrx"
    if score_docs is not None:
        score_rel = "lrsx"
        ctes.append(f"""
    lrsbase AS (
      SELECT {id_sql} AS id, {text_sql} AS toks FROM {score_docs}
    ),
    lrsx AS (
      SELECT id, CAST({feat_sql} AS BIGINT) AS feat,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT id, unnest(toks) AS tok FROM lrsbase)
      GROUP BY 1, 2
      UNION ALL
      SELECT id, {b}, 1 FROM lrsbase
    )""")
    ctes.append(f"""
    scored AS (
      SELECT x.id,
             CAST(COUNT(*) AS BIGINT) AS n_feats,
             CAST(SUM(x.cnt * w.wu) AS BIGINT) AS margin_units,
             round(1.0e0 / (1.0e0
               + exp(-(CAST(SUM(x.cnt * w.wu) AS DOUBLE) / {u:.1f}e0))),
               6) AS prob6,
             SUM(x.cnt * w.wu) > 0 AS predicted
      FROM {score_rel} x JOIN w{int(epochs)} w USING (feat)
      GROUP BY x.id
    )""")
    return ",".join(ctes)
