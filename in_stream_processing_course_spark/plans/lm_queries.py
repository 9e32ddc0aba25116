"""Corpus n-gram language-model family over ``documents``: train a
bigram model on the corpus itself and score every document against it
— the CCNet / Gopher "perplexity-style quality filter" step of an LLM
data pipeline (beyond the reference surface; the reference has no text
stack — SURVEY §2.8 extension family).

Design notes (all Column algebra, no UDF):

- Bigrams are formed with ``zip_with(slice(toks,1,n-1), slice(toks,2,
  n-1))`` — one generate-explode per document, no self-join on
  position. Model training is two hash aggregations (bigram counts,
  context counts); both results are far smaller than the input, and
  the scoring join is an equi-join on ``bigram`` — shuffle-safe at any
  scale, broadcast when the model fits. (It does NOT always fit: the
  distinct-bigram table of a 100 TB web corpus is billions of rows;
  the ``c_bigram >= k`` thresholded variant is the documented
  broadcastable path.)
- Add-α smoothing with α=1/2 is expressed IN INTEGERS:
  ``p = (c_bigram + 1/2) / (c_ctx + V/2) = (2·c_bigram + 1) /
  (2·c_ctx + V)`` — one correctly-rounded IEEE division of two exact
  integers, bit-identical across engines. The same reasoning as the
  linear-idf variant in ``pipeline_queries.text_tfidf``: ``ln()`` can
  differ by an ulp between libm implementations, an integer ratio
  cannot.
- The per-document score is the MEAN smoothed bigram probability (not
  mean log-prob) for the same reason — no transcendental functions in
  a hash-matched output. Rank order is what the downstream filter
  consumes, and for a quality gate the mean-probability ordering
  surfaces the same out-of-distribution tail. The sum over a
  document's bigrams is a sorted fold (``aggregate(array_sort(...))``
  == DuckDB ``list_reduce(list_prepend(0.0, list_sort(...)))``) so
  partitioning order cannot flip a double rounding.
- Scoring the training corpus itself means every context word has
  c_ctx ≥ 1 — there is no out-of-model branch to smooth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as tx
from ..sources.batch import load_table
from .text_queries import _sql_tokens

_MODEL_MIN_COUNT = 2  # lm_bigram_model output bound (scoring uses all)
_OUTLIER_K = 20
_VOCAB_MIN = 5  # a token is in-vocabulary if it occurs >= 5 times

def bigrams_of(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, bigram) — one row per adjacent token pair
    (functions/text.ngrams_col: tokens are whitespace-split, so the
    single-space joiner is unambiguous and split_part() recovers the
    context word exactly); docs with fewer than two tokens vanish in
    the explode of the empty array (no filter branch needed).

    Frame-level (pure projection) so the streaming scorer
    (streaming/lm_gate.py) stages bigrams through the SAME expressions
    — the stream==batch equivalence contract depends on the two sides
    never diverging."""
    staged = docs.select(
        "doc_id", tx.tokens_col(F.lower(F.col("text"))).alias("_toks")
    )
    return staged.select(
        "doc_id", F.explode(tx.ngrams_col(F.col("_toks"), 2)).alias("bigram")
    ).withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))


def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigrams_of(load_table(spark, sf_dir, "documents"))


def _vocab_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row (v) frame: corpus-wide distinct token count — joined in
    as a broadcast scalar wherever the smoothing denominator needs V."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(tx.tokens_col(F.lower(F.col("text")))).alias("tok")
        )
        .agg(F.countDistinct("tok").alias("v"))
    )


def _smoothed_p(c_bigram, c_ctx) -> F.Column:
    """(2c+1)/(2c_ctx+V) as a single integer-ratio IEEE division."""
    return (2 * c_bigram + 1) / (2 * c_ctx + F.col("v")).cast("double")


def _model_with_ctx(bi: DataFrame) -> DataFrame:
    """(w1, bigram, c_bigram, c_ctx): one corpus aggregation. The
    context count is DERIVED from the model — c_ctx(w1) = Σ c_bigram
    over bigrams starting with w1 — a vocabulary-sized re-aggregation,
    so the corpus is scanned once for the whole model, not once per
    count table."""
    model = bi.groupBy("w1", "bigram").agg(
        F.count(F.lit(1)).alias("c_bigram")
    )
    ctx = model.groupBy("w1").agg(F.sum("c_bigram").alias("c_ctx"))
    return model.join(ctx, "w1")


def lm_bigram_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained model table: bigram, raw count, context count, and
    the add-½ smoothed conditional probability P(w2|w1). Output bounded
    to bigrams seen >= 2 times (the singleton tail is vocabulary² -
    sized; scoring queries rebuild the full model internally, this
    query is the inspectable artifact)."""
    bi = _doc_bigrams(spark, sf_dir)
    return (
        _model_with_ctx(bi)
        .where(F.col("c_bigram") >= _MODEL_MIN_COUNT)
        .join(F.broadcast(_vocab_size(spark, sf_dir)))
        .select(
            "bigram",
            "c_bigram",
            "c_ctx",
            F.round(_smoothed_p(F.col("c_bigram"), F.col("c_ctx")), 6).alias(
                "p_smooth"
            ),
        )
        .orderBy("bigram")
    )


ORACLE_LM_MODEL = rf"""
WITH toks AS (SELECT doc_id, {_sql_tokens('text')} AS t FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
           AS bigram
  FROM toks
),
ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, count(*) AS c_ctx
        FROM bi GROUP BY 1),
vocab AS (SELECT count(DISTINCT tok) AS v
          FROM (SELECT unnest(t) AS tok FROM toks)),
model AS (SELECT bigram, count(*) AS c_bigram FROM bi GROUP BY 1)
SELECT m.bigram, m.c_bigram, c.c_ctx,
       round((2*m.c_bigram + 1) / CAST(2*c.c_ctx + v.v AS DOUBLE), 6)
         AS p_smooth
FROM model m
JOIN ctx c ON c.w1 = split_part(m.bigram, ' ', 1)
CROSS JOIN vocab v
WHERE m.c_bigram >= {_MODEL_MIN_COUNT}
ORDER BY m.bigram
"""


# Head size of the hybrid scoring join (r14, VERDICT r13 #4 / guide
# §3.3 skew-split): the K most frequent bigrams are broadcast — K rows
# bound the broadcast at ANY corpus size (unlike a count threshold,
# whose surviving-row count grows with the corpus) and the head of the
# Zipf curve is exactly the set of hot keys that would skew the
# shuffle join's reducers.
_HOT_BIGRAMS = 50_000


def _doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, mean_p): every document scored against the
    full (unthresholded) model.

    r14 HYBRID scoring join (VERDICT r13 #4, guide §3.2/§3.3): the
    full model is NOT broadcastable at 100 TB (distinct-bigram count
    grows with the corpus, unlike the unigram vocabulary), but the
    HEAD of its Zipf distribution is tiny and carries most instance
    mass. Split the equi-join on ``bigram`` into two paths:

    - head: the ``_HOT_BIGRAMS`` most frequent model rows BROADCAST —
      the bulk of bigram instances score map-side with no shuffle, and
      precisely the hot keys that would skew the shuffle join's
      reducers (§2.5) never reach an exchange;
    - tail: the remaining instances (a broadcast ANTI join drops head
      instances BEFORE the exchange, §3.2's semi-join shape) shuffle
      against the full model as before — scale-safe at any size.

    Union order is irrelevant: the per-doc fold sorts the collected
    p values before summing, so the two-path union is bit-identical
    to the single-join form (hash-checked against ORACLE_LM_DOC_SCORES
    in PARITY_SWEEP_r15_sf0.01.txt). The model is lazily checkpointed
    once (head, anti filter and tail join all read it; AQE never
    reuses the exchange across them).
    """
    bi = _doc_bigrams(spark, sf_dir)
    # model grouped directly by bigram (w1 is a function of bigram) so
    # the checkpointed table is partitioned the way the tail join needs
    model = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_bigram"))
    model = model.withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))
    ctx = model.groupBy("w1").agg(F.sum("c_bigram").alias("c_ctx"))
    m = model.join(F.broadcast(ctx), "w1").drop("w1").localCheckpoint(
        eager=False
    )
    hot = m.orderBy(F.col("c_bigram").desc(), "bigram").limit(_HOT_BIGRAMS)
    scored_hot = bi.join(F.broadcast(hot), "bigram")
    bi_tail = bi.join(
        F.broadcast(hot.select("bigram")), "bigram", "left_anti"
    )
    scored_tail = bi_tail.join(m, "bigram")
    scored = (
        scored_hot.unionByName(scored_tail)
        .join(F.broadcast(_vocab_size(spark, sf_dir)))
        .select(
            "doc_id",
            _smoothed_p(F.col("c_bigram"), F.col("c_ctx")).alias("p"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("p")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.count(F.lit(1)),
            6,
        ).alias("mean_p"),
    )


def lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean in-model probability — the quality-filter
    signal (low = out-of-distribution / garbage)."""
    return _doc_scores(spark, sf_dir).orderBy("doc_id")


_SQL_SCORED_CTE = rf"""
WITH toks AS (SELECT doc_id, {_sql_tokens('text')} AS t FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
           AS bigram
  FROM toks
),
ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, count(*) AS c_ctx
        FROM bi GROUP BY 1),
vocab AS (SELECT count(DISTINCT tok) AS v
          FROM (SELECT unnest(t) AS tok FROM toks)),
model AS (SELECT bigram, count(*) AS c_bigram FROM bi GROUP BY 1),
scored AS (
  SELECT b.doc_id,
         (2*m.c_bigram + 1) / CAST(2*c.c_ctx + v.v AS DOUBLE) AS p
  FROM bi b
  JOIN model m USING (bigram)
  JOIN ctx c ON c.w1 = split_part(b.bigram, ' ', 1)
  CROSS JOIN vocab v
),
doc_scores AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(list_reduce(list_prepend(0.0, list_sort(list(p))),
                           (a, b) -> a + b) / count(*), 6) AS mean_p
  FROM scored GROUP BY doc_id
)
"""

ORACLE_LM_DOC_SCORES = _SQL_SCORED_CTE + """
SELECT doc_id, n_bigrams, mean_p FROM doc_scores ORDER BY doc_id
"""


def lm_doc_scores_thresholded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BROADCASTABLE scoring path (VERDICT r5 item 6): the same
    per-document mean in-model probability, scored against the
    frequency-thresholded model (``c_bigram >= _MODEL_MIN_COUNT``).
    The full bigram table of a 100 TB web corpus is billions of rows —
    never broadcast range — but thresholding keeps only the head of
    the Zipf curve, which is what makes shipping the model to every
    executor (and the stream-static join of streaming/lm_gate.py)
    map-side work; this query pins that path explicitly with
    ``F.broadcast``. Bigrams outside the thresholded model are
    skipped, and documents with no surviving bigram drop out (their
    full-model score still comes from ``lm_doc_scores``). ``c_ctx``
    and V stay FULL-corpus statistics, so thresholding changes
    coverage, never the probability of a surviving bigram."""
    bi = _doc_bigrams(spark, sf_dir)
    model = _model_with_ctx(bi).where(
        F.col("c_bigram") >= _MODEL_MIN_COUNT
    )
    scored = (
        bi.join(F.broadcast(model.drop("w1")), "bigram")
        .join(F.broadcast(_vocab_size(spark, sf_dir)))
        .select(
            "doc_id",
            _smoothed_p(F.col("c_bigram"), F.col("c_ctx")).alias("p"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_model_bigrams"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("p")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean_p"),
        )
        .orderBy("doc_id")
    )


ORACLE_LM_DOC_SCORES_THRESHOLDED = rf"""
WITH toks AS (SELECT doc_id, {_sql_tokens('text')} AS t FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
           AS bigram
  FROM toks
),
ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, count(*) AS c_ctx
        FROM bi GROUP BY 1),
vocab AS (SELECT count(DISTINCT tok) AS v
          FROM (SELECT unnest(t) AS tok FROM toks)),
model AS (SELECT bigram, count(*) AS c_bigram FROM bi GROUP BY 1),
scored AS (
  SELECT b.doc_id,
         (2*m.c_bigram + 1) / CAST(2*c.c_ctx + v.v AS DOUBLE) AS p
  FROM bi b
  JOIN model m USING (bigram)
  JOIN ctx c ON c.w1 = split_part(b.bigram, ' ', 1)
  CROSS JOIN vocab v
  WHERE m.c_bigram >= {_MODEL_MIN_COUNT}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_model_bigrams,
       round(list_reduce(list_prepend(0.0, list_sort(list(p))),
                         (a, b) -> a + b) / count(*), 6) AS mean_p
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def lm_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k most out-of-distribution documents (lowest mean in-model
    probability), with lang/source context — what a curation run sends
    to review before dropping. The bottom-k limit runs on the 2-column
    score stream FIRST (TakeOrderedAndProject: per-partition top-k then
    a k-row merge — no full sort, no single-partition window; the sort
    keys all come from the scores, so limiting before the join is
    exact), and only the k survivors broadcast-join back to documents
    for lang/source — Spark never pushes a limit below a join on its
    own, and carrying every document's context through the top-k heap
    is corpus-sized work for k rows of output."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    worst = (
        _doc_scores(spark, sf_dir)
        .orderBy(F.col("mean_p").asc(), F.col("doc_id").asc())
        .limit(_OUTLIER_K)
    )
    return (
        F.broadcast(worst)
        .join(docs, "doc_id")
        .select("doc_id", "lang", "source", "n_bigrams", "mean_p")
        .orderBy(F.col("mean_p").asc(), F.col("doc_id").asc())
    )


ORACLE_LM_OUTLIERS = _SQL_SCORED_CTE + f"""
SELECT s.doc_id, d.lang, d.source, s.n_bigrams, s.mean_p
FROM doc_scores s JOIN documents d USING (doc_id)
ORDER BY s.mean_p ASC, s.doc_id ASC
LIMIT {_OUTLIER_K}
"""


def lm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus
    vocabulary (tokens occurring >= 5 times) — the classic tokenizer-
    coverage / gibberish signal. Exact integer ratio (no libm). The
    vocabulary is corpus-derived and frequency-thresholded, so it is
    small; at scale it broadcasts and the per-token membership check
    never shuffles the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tx.tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= _VOCAB_MIN)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov") / F.col("n_tokens").cast("double"), 6
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


ORACLE_LM_OOV = rf"""
WITH toks AS (
  SELECT doc_id, unnest({_sql_tokens('text')}) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM toks GROUP BY tok HAVING count(*) >= {_VOCAB_MIN}
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
       round(count(*) FILTER (WHERE v.tok IS NULL)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


# CCNet-style quality terciles: fixed mean_p cut points (chosen once
# from the corpus profile — on this synthetic corpus mean_p spans
# ~0.029-0.051 at every SF, so these cuts give non-degenerate buckets
# everywhere). Production derives them per-language from
# approx_percentile over a profiling run; the BUCKETING pass itself —
# the corpus-sized stage — is what this query pins, and it is pure
# threshold Column algebra either way.
_BUCKET_HEAD = 0.0345
_BUCKET_MIDDLE = 0.0335


def lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split, per language: every document
    bucketed by its in-model mean probability, rolled up to (lang,
    bucket) with doc and bigram totals — the mixing table a curation
    run samples from (head = in-distribution, tail = candidate drop).

    Scale: the scoring pass is _doc_scores (model broadcasts, corpus
    never shuffles for the join); the bucket label is one CASE over
    the per-doc aggregate; the rollup shuffles only doc-count rows.
    All output columns are exact longs — no double leaves the query,
    so the hash check is arithmetic-free."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    bucket = (
        F.when(F.col("mean_p") >= _BUCKET_HEAD, "head")
        .when(F.col("mean_p") >= _BUCKET_MIDDLE, "middle")
        .otherwise("tail")
    )
    return (
        _doc_scores(spark, sf_dir)
        .join(docs, "doc_id")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams"),
        )
        .orderBy("lang", "bucket")
    )


ORACLE_LM_QUALITY_BUCKETS = _SQL_SCORED_CTE + f"""
SELECT d.lang,
       CASE WHEN s.mean_p >= CAST({_BUCKET_HEAD} AS DOUBLE) THEN 'head'
            WHEN s.mean_p >= CAST({_BUCKET_MIDDLE} AS DOUBLE) THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.n_bigrams) AS BIGINT) AS n_bigrams
FROM doc_scores s JOIN documents d USING (doc_id)
GROUP BY 1, 2 ORDER BY lang, bucket
"""


# DSIR target domain: English — the canonical "select documents that
# look like the seed set" use (the seed here is the corpus's own
# English slice, so the query is self-contained and oracle-able)
_DSIR_TARGET_LANG = "en"


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights for data selection, DSIR-style (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): train one n-gram LM on the TARGET domain and one on
    the RAW corpus, score every document under both, and weight it by
    how much more target-like than corpus-average it reads. DSIR
    proper uses the log-likelihood ratio; this engine's
    no-transcendentals rule (hash-matched outputs must avoid ln() ulp
    drift) substitutes the difference of mean smoothed bigram
    probabilities — the same ordering signal for a selection gate,
    exactly as lm_doc_scores substitutes mean-p for perplexity.

    Spark shape: the TARGET model is broadcast (the seed domain is
    small by definition — that is the DSIR premise) and scoring it is
    the lm_gate LEFT-join form, since raw documents carry bigrams and
    context words the target model never saw (add-1/2 smoothing with
    coalesced zero counts handles both). The RAW model is the
    self-scoring equi-join of lm_doc_scores — NOT broadcastable at
    100 TB (billions of distinct bigrams); it shuffles on ``bigram``.
    Per-document sums are sorted folds; ``weight`` subtracts the two
    6-dp-rounded means (exact double arithmetic on both engines);
    ``selected`` is weight > 0 — a scan-level gate, deliberately not a
    global top-k window (no single-task corpus sort). Documents with
    fewer than two tokens have no bigrams and emit nothing, matching
    lm_doc_scores."""
    docs = load_table(spark, sf_dir, "documents")
    bi_all = _doc_bigrams(spark, sf_dir)

    # target-domain model + vocab (broadcastable seed-set artifacts)
    target = docs.where(F.col("lang") == _DSIR_TARGET_LANG)
    # precondition (ADVICE r8): an empty target slice makes v = 0 and
    # c_ctx = 0, so the smoothed denominator 2*0+0 = 0 would surface as
    # an opaque ANSI divide-by-zero deep in the scoring join — fail
    # loud and early instead. take(1) is a LIMIT-1 scan that
    # short-circuits at the first matching row, not a full count.
    if not target.take(1):
        raise ValueError(
            "DSIR target domain slice is empty (no documents with "
            f"lang={_DSIR_TARGET_LANG!r}); an n-gram model cannot be "
            "trained on an empty seed set"
        )
    bi_t = bigrams_of(target)
    mt = _model_with_ctx(bi_t)
    v_t = (
        target.select(
            F.explode(tx.tokens_col(F.lower(F.col("text")))).alias("tok")
        )
        .agg(F.countDistinct("tok").alias("v"))
    )
    p_target = (
        bi_all.join(F.broadcast(mt.select("bigram", "c_bigram")), "bigram", "left")
        .join(
            F.broadcast(mt.select("w1", "c_ctx").distinct()), "w1", "left"
        )
        .join(F.broadcast(v_t))
        .select(
            "doc_id",
            _smoothed_p(
                F.coalesce(F.col("c_bigram"), F.lit(0)),
                F.coalesce(F.col("c_ctx"), F.lit(0)),
            ).alias("p"),
        )
    )
    mean_fold = F.round(
        F.aggregate(
            F.array_sort(F.collect_list("p")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.count(F.lit(1)),
        6,
    )
    st = p_target.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        mean_fold.alias("mean_p_target"),
    )

    # raw-corpus model: the self-scoring shuffle join of lm_doc_scores
    p_raw = (
        bi_all.join(_model_with_ctx(bi_all).drop("w1"), "bigram")
        .join(F.broadcast(_vocab_size(spark, sf_dir)))
        .select(
            "doc_id",
            _smoothed_p(F.col("c_bigram"), F.col("c_ctx")).alias("p"),
        )
    )
    sr = p_raw.groupBy("doc_id").agg(mean_fold.alias("mean_p_raw"))

    weight = F.round(
        F.col("mean_p_target") - F.col("mean_p_raw"), 6
    )
    return (
        st.join(sr, "doc_id")
        .select(
            "doc_id",
            "n_bigrams",
            "mean_p_target",
            "mean_p_raw",
            weight.alias("weight"),
            (weight > 0).alias("selected"),
        )
        .orderBy("doc_id")
    )


ORACLE_DSIR = rf"""
WITH toks AS (SELECT doc_id, lang, {_sql_tokens('text')} AS t FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
           AS bigram
  FROM toks
),
tbi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
           AS bigram
  FROM toks WHERE lang = '{_DSIR_TARGET_LANG}'
),
tmodel AS (SELECT bigram, count(*) AS c_bigram FROM tbi GROUP BY 1),
tctx AS (SELECT split_part(bigram, ' ', 1) AS w1, count(*) AS c_ctx
         FROM tbi GROUP BY 1),
tvocab AS (SELECT count(DISTINCT tok) AS v
           FROM (SELECT unnest(t) AS tok FROM toks
                 WHERE lang = '{_DSIR_TARGET_LANG}')),
pt AS (
  SELECT b.doc_id,
         (2*coalesce(m.c_bigram, 0) + 1)
           / CAST(2*coalesce(c.c_ctx, 0) + v.v AS DOUBLE) AS p
  FROM bi b
  LEFT JOIN tmodel m USING (bigram)
  LEFT JOIN tctx c ON c.w1 = split_part(b.bigram, ' ', 1)
  CROSS JOIN tvocab v
),
st AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(list_reduce(list_prepend(0.0, list_sort(list(p))),
                           (a, b) -> a + b) / count(*), 6) AS mean_p_target
  FROM pt GROUP BY doc_id
),
ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, count(*) AS c_ctx
        FROM bi GROUP BY 1),
vocab AS (SELECT count(DISTINCT tok) AS v
          FROM (SELECT unnest(t) AS tok FROM toks)),
model AS (SELECT bigram, count(*) AS c_bigram FROM bi GROUP BY 1),
pr AS (
  SELECT b.doc_id,
         (2*m.c_bigram + 1) / CAST(2*c.c_ctx + v.v AS DOUBLE) AS p
  FROM bi b
  JOIN model m USING (bigram)
  JOIN ctx c ON c.w1 = split_part(b.bigram, ' ', 1)
  CROSS JOIN vocab v
),
sr AS (
  SELECT doc_id,
         round(list_reduce(list_prepend(0.0, list_sort(list(p))),
                           (a, b) -> a + b) / count(*), 6) AS mean_p_raw
  FROM pr GROUP BY doc_id
)
SELECT s.doc_id, s.n_bigrams, s.mean_p_target, r.mean_p_raw,
       round(s.mean_p_target - r.mean_p_raw, 6) AS weight,
       round(s.mean_p_target - r.mean_p_raw, 6) > 0 AS selected
FROM st s JOIN sr r USING (doc_id) ORDER BY s.doc_id
"""


def dsir_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE rollup of the DSIR selection (r8): document count,
    selected count, acceptance share, and mean importance weight by
    source — the report a curation run reads to decide which sources
    to keep crawling for the target domain. Mean weights fold in
    FIXED POINT (weights are already 6-dp rounded, so micro-unit
    integers are LOSSLESS and the per-source sum is order-invariant
    with one long of group state — never a source-sized buffer); the
    shares are single divisions of exact integers."""
    w = dsir_importance_weights(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    fixed = F.sum(
        F.round(F.col("weight") * F.lit(1e6), 0).cast("bigint")
    )
    n_sel = F.sum(F.col("selected").cast("long"))
    n = F.count(F.lit(1))
    return (
        w.join(src, "doc_id")
        .groupBy("source")
        .agg(
            n.alias("n_docs"),
            n_sel.alias("n_selected"),
            F.round((fixed / F.lit(1e6)) / n, 6).alias("mean_weight"),
            F.round(n_sel / n.cast("double"), 6).alias("selected_share"),
        )
        .orderBy("source")
    )


ORACLE_DSIR_SOURCE = f"""
WITH dsirw AS ({ORACLE_DSIR}),
j AS (
  SELECT w.weight, w.selected, d.source
  FROM dsirw w JOIN documents d USING (doc_id)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       round((sum(CAST(round(weight * 1000000.0) AS BIGINT)) / 1000000.0)
             / count(*), 6) AS mean_weight,
       round(sum(CASE WHEN selected THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS selected_share
FROM j GROUP BY source ORDER BY source
"""
