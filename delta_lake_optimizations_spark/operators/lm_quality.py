"""CCNet-style n-gram language-model quality scoring (Wenzek et al. 2020,
"CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
Data"): train a bigram LM on a trusted reference slice of the corpus,
score every document by perplexity under it — low perplexity ≈ looks
like the reference (kept / "head" bucket), high perplexity ≈ noise.
CCNet uses a KenLM 5-gram; the bigram form here is the same filter with
the same plumbing, kept exactly SQL-expressible so the driver oracle
value-checks it end to end.

Higher orders use the stupid-backoff cascade of Brants et al. (2007).
One order-generic scorer (``_backoff_scores``; the rule is in the
stupid-backoff comment below) serves ``backoff_scores`` at order 3 and
``backoff4_scores`` at order 4. Its count tables are one hash aggregate
per order 1..n over the reference slice, and ``min_count`` prunes only
the top order. The registered ``lm_backoff_scores`` and
``lm_backoff4_scores`` oracles restate each cascade in SQL, level by
level.

Relation to ``quality.bigram_lm_scores``: that operator scores the
corpus under an LM trained on the corpus ITSELF (self-perplexity — a
boilerplate/noise signal with no held-out reference, inner joins, add-k
smoothing). This one is the CCNet filter proper: the LM is trained on a
trusted REFERENCE slice, so scored documents contain bigrams the LM has
never seen — which is why it needs the OOV bucket, add-one smoothing
over left joins, and the keep-rule ``perplexity_filter``.

Model (add-one smoothing with an OOV bucket, every choice mirrored in
the oracle SQL):

- tokens: lowercased whitespace split (``dedup.tokenize`` — the corpus
  gram convention shared by MinHash/Jaccard/decontam);
- ``c2(w1,w2)``: reference count of the bigram, ``c1(w1)``: count of
  bigram rows starting with ``w1`` (so conditionals sum to 1 per w1);
- ``V``: distinct reference tokens + 1 (the OOV bucket);
- ``P(w2|w1) = (c2 + 1) / (c1 + V)`` — unseen w1 degrades smoothly to
  ``1/V``, no special-casing;
- doc score: ``H = avg(-ln P)`` over the doc's bigram positions
  (multiset, via the codegen ``_gram_rows`` path), ``ppl = exp(H)``.
  Docs with <2 tokens have no bigrams and drop out of the scoring.

100 TB design: training is two hash aggregates over the reference slice
(bigram counts, first-token counts) — pure shuffle-by-key, no driver
data. Scoring is the doc-bigram stream joined to the LM on the gram
string; Catalyst/AQE broadcasts the LM when it is small and
shuffle-joins otherwise, and ``min_count`` prunes the LM's long tail
(a pruned bigram scores as unseen — smoothing absorbs it), which is
what bounds LM size on a web-scale reference. The scalar V rides a
broadcast 1-row cross join, never a ``.collect``-then-literal (a
re-plan with a baked literal would recompute the reference aggregates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.operators.dedup import _gram_rows, tokenize
from delta_lake_optimizations_spark.registry import query


def train_bigram_lm(
    ref: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bigram LM from the reference slice.

    Returns ``(bigrams, firsts, vocab)``:
    ``bigrams``: (_gram, c2) — bigram counts, pruned to >= min_count;
    ``firsts``: (_w1, c1) — bigram-row counts per first token (UNpruned,
    so pruning never inflates the conditional of surviving siblings);
    ``vocab``: 1-row (v) — distinct reference tokens + 1 (OOV bucket).
    """
    grams = _gram_rows(ref, id_col, text_col, n=2, short_gram=False)
    bigrams = grams.groupBy("_gram").agg(F.count(F.lit(1)).alias("c2"))
    if min_count > 1:
        bigrams = bigrams.filter(F.col("c2") >= min_count)
    firsts = (
        _gram_rows(ref, id_col, text_col, n=2, short_gram=False)
        .select(F.split("_gram", " ").getItem(0).alias("_w1"))
        .groupBy("_w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = (
        ref.select(
            F.explode(tokenize(F.coalesce(F.col(text_col), F.lit("")))).alias("_t")
        )
        .agg((F.countDistinct("_t") + F.lit(1)).alias("v"))
    )
    return bigrams, firsts, vocab


def perplexity_scores(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 1,
) -> DataFrame:
    """Per-document perplexity under the reference bigram LM:
    ``(id_col, n_bigrams, ppl)`` for every document with >= 1 bigram."""
    bigrams, firsts, vocab = train_bigram_lm(ref, id_col, text_col, min_count)
    doc_grams = _gram_rows(docs, id_col, text_col, n=2, short_gram=False).select(
        "_id",
        "_gram",
        F.split("_gram", " ").getItem(0).alias("_w1"),
    )
    scored = (
        doc_grams.join(bigrams, "_gram", "left")
        .join(firsts, "_w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "_id",
            (
                -F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                )
            ).alias("_nll"),
        )
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.exp(F.avg("_nll")).alias("ppl"),
        )
        .select(F.col("_id").alias(id_col), "n_bigrams", "ppl")
    )


def perplexity_filter(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    max_ppl: float,
    min_count: int = 1,
) -> DataFrame:
    """CCNet's keep rule: documents whose perplexity under the reference
    LM is <= ``max_ppl`` (docs too short to score are dropped — no
    evidence either way, and CCNet's length gates remove them anyway)."""
    scores = perplexity_scores(docs, ref, id_col, text_col, min_count)
    return docs.join(
        scores.filter(F.col("ppl") <= max_ppl).select(id_col), id_col, "inner"
    )


@query(
    "lm_perplexity_scores",
    tags=("quality", "lm"),
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   string_split_regex(lower(trim(COALESCE(text, ''))), '\\s+') AS t
            FROM documents
        ),
        ref_bi AS (
            SELECT t[i.i] || ' ' || t[i.i + 1] AS gram, t[i.i] AS w1
            FROM toks,
                 LATERAL (SELECT UNNEST(range(1, len(t))) AS i) i
            WHERE lang = 'en'
        ),
        c2 AS (SELECT gram, COUNT(*) AS c2 FROM ref_bi GROUP BY 1),
        c1 AS (SELECT w1, COUNT(*) AS c1 FROM ref_bi GROUP BY 1),
        v AS (
            SELECT COUNT(DISTINCT tok) + 1 AS v
            FROM (SELECT UNNEST(t) AS tok FROM toks WHERE lang = 'en')
        ),
        doc_bi AS (
            SELECT doc_id, t[i.i] || ' ' || t[i.i + 1] AS gram, t[i.i] AS w1
            FROM toks,
                 LATERAL (SELECT UNNEST(range(1, len(t))) AS i) i
        ),
        nll AS (
            SELECT doc_id,
                   -LN(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
                       / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)) AS nll
            FROM doc_bi
            LEFT JOIN c2 USING (gram)
            LEFT JOIN c1 USING (w1)
            CROSS JOIN v
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(EXP(AVG(nll)), 4) AS ppl
        FROM nll
        GROUP BY doc_id
    """,
)
def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's perplexity under a bigram LM trained on the
    English slice — CCNet's quality signal, fully value-checked."""
    documents = load_table(spark, sf_dir, "documents")
    ref = documents.filter(F.col("lang") == "en")
    return perplexity_scores(documents, ref, "doc_id", "text").select(
        "doc_id", "n_bigrams", F.round("ppl", 4).alias("ppl")
    )


# ---------------------------------------------------------------------------
# Stupid backoff at order n (Brants et al. 2007, "Large Language Models in
# Machine Translation"): at web scale, skip discounting and normalization
# and score the last word of each n-gram by the first level, from the top
# down, whose suffix the reference has seen:
#
#     level j = n..2:  a^(n-j) * c_j(w_{n-j+1}..w_n) / c_{j-1}(w_{n-j+1}..w_{n-1})
#     level 1:         a^(n-1) * (c_1(w_n) + 1) / (N + V)
#
# with a = 0.4 (the paper's constant). Level 1 folds the paper's unigram
# level c1/N together with an add-one OOV floor (V = distinct tokens + 1,
# as in the bigram LM), so unseen words degrade smoothly instead of
# hitting -ln 0. The chosen level's value S is a score, not a normalized
# probability, so exp(avg -ln S) is a perplexity-LIKE signal: comparable
# across documents under the same LM, which is all the CCNet-style filter
# needs.
#
# ``min_count`` prunes only the top order, the dominant LM-size term: a
# pruned n-gram backs off one level, the paper's count-cutoff semantics.
# The lower orders stay unpruned because each is the denominator of the
# level above it; pruning one would inflate its surviving conditionals.
# ---------------------------------------------------------------------------

BACKOFF_ALPHA = 0.4


def _backoff_counts(
    ref: DataFrame, id_col: str, text_col: str, order: int, min_count: int
) -> tuple[dict[int, DataFrame], DataFrame]:
    """Count tables of the order-n stupid-backoff LM: ``counts[k]`` is
    ``(_g{k}, c{k})``, one ``_gram_rows`` aggregate per order k >= 2 and
    the token explode for k = 1; the top order is pruned to >= min_count.
    ``scalars`` is 1 row (n, v): total reference tokens and distinct + 1.
    """
    counts = {
        k: _gram_rows(ref, id_col, text_col, n=k, short_gram=False)
        .groupBy(F.col("_gram").alias(f"_g{k}"))
        .agg(F.count(F.lit(1)).alias(f"c{k}"))
        for k in range(order, 1, -1)
    }
    if min_count > 1:
        counts[order] = counts[order].filter(F.col(f"c{order}") >= min_count)
    toks = ref.select(
        F.explode(tokenize(F.coalesce(F.col(text_col), F.lit("")))).alias("_g1")
    )
    counts[1] = toks.groupBy("_g1").agg(F.count(F.lit(1)).alias("c1"))
    scalars = toks.agg(
        F.count(F.lit(1)).alias("n"), (F.countDistinct("_g1") + F.lit(1)).alias("v")
    )
    return counts, scalars


def _backoff_scores(
    docs: DataFrame, ref: DataFrame, id_col: str, text_col: str,
    order: int, min_count: int, alpha: float,
) -> DataFrame:
    """Per-document order-n stupid-backoff score ``(id_col, _n, ppl)`` for
    every document with >= 1 n-gram position (shorter docs have no
    evidence and drop). The doc n-gram stream is left-joined to the count
    tables on its suffix and context grams (AQE broadcasts small LMs,
    shuffle-joins big ones); N and V ride one broadcast 1-row cross join."""
    counts, scalars = _backoff_counts(ref, id_col, text_col, order, min_count)
    parts = F.split("_gram", " ")

    def span(lo: int, k: int) -> Column:
        if k == 1:
            return parts.getItem(lo)
        return F.concat_ws(" ", *(parts.getItem(i) for i in range(lo, lo + k)))

    # below the top order, order k is looked up twice: as the context of the
    # length-(k+1) suffix (that level's denominator, d{k}) and as the
    # length-k suffix (s{k}); entries are (count column, first token, k)
    lookups = [
        (name, lo, k)
        for k in range(order - 1, 0, -1)
        for name, lo in ((f"d{k}", order - k - 1), (f"s{k}", order - k))
    ]
    joined = (
        _gram_rows(docs, id_col, text_col, n=order, short_gram=False)
        .select(
            "_id",
            F.col("_gram").alias(f"_g{order}"),
            *(span(lo, k).alias(f"_{name}") for name, lo, k in lookups),
        )
        .join(counts[order], f"_g{order}", "left")
    )
    for name, _, k in lookups:
        table = counts[k].select(
            F.col(f"_g{k}").alias(f"_{name}"), F.col(f"c{k}").alias(name)
        )
        joined = joined.join(table, f"_{name}", "left")
    joined = joined.crossJoin(F.broadcast(scalars))

    top, den = F.col(f"c{order}"), F.col(f"d{order - 1}")
    score = F.when(top.isNotNull(), top / den)
    for j in range(order - 1, 1, -1):
        num, den = F.col(f"s{j}"), F.col(f"d{j - 1}")
        score = score.when(num.isNotNull(), F.lit(alpha ** (order - j)) * num / den)
    score = score.otherwise(
        F.lit(alpha ** (order - 1))
        * (F.coalesce(F.col("s1"), F.lit(0)) + F.lit(1))
        / (F.col("n") + F.col("v"))
    )
    return (
        joined.select("_id", (-F.log(score)).alias("_nll"))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_n"), F.exp(F.avg("_nll")).alias("ppl"))
        .select(F.col("_id").alias(id_col), "_n", "ppl")
    )


def backoff_scores(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 1,
    alpha: float = BACKOFF_ALPHA,
) -> DataFrame:
    """Per-document trigram stupid-backoff score: ``(id_col, n_trigrams,
    ppl)`` for every document with >= 1 trigram position (< 3 tokens ->
    no evidence, dropped — same convention as the bigram scorer)."""
    scores = _backoff_scores(docs, ref, id_col, text_col, 3, min_count, alpha)
    return scores.withColumnRenamed("_n", "n_trigrams")


def backoff_filter(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    max_ppl: float,
    min_count: int = 1,
) -> DataFrame:
    """Keep documents whose stupid-backoff score is <= ``max_ppl``
    (too-short docs drop, as in ``perplexity_filter``)."""
    scores = backoff_scores(docs, ref, id_col, text_col, min_count)
    return docs.join(
        scores.filter(F.col("ppl") <= max_ppl).select(id_col), id_col, "inner"
    )


def backoff4_scores(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 1,
    alpha: float = BACKOFF_ALPHA,
) -> DataFrame:
    """Per-document 4-gram stupid-backoff score: ``(id_col, n_fourgrams,
    ppl)`` for every document with >= 1 4-gram position (< 4 tokens ->
    no evidence, dropped)."""
    scores = _backoff_scores(docs, ref, id_col, text_col, 4, min_count, alpha)
    return scores.withColumnRenamed("_n", "n_fourgrams")


@query(
    "lm_backoff4_scores",
    tags=("quality", "lm"),
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   string_split_regex(lower(trim(COALESCE(text, ''))), '\\s+') AS t
            FROM documents
        ),
        ref_four AS (
            SELECT t[i.i] || ' ' || t[i.i + 1] || ' ' || t[i.i + 2]
                   || ' ' || t[i.i + 3] AS gram
            FROM toks,
                 LATERAL (SELECT UNNEST(range(1, len(t) - 2)) AS i) i
            WHERE lang = 'en'
        ),
        ref_tri AS (
            SELECT t[i.i] || ' ' || t[i.i + 1] || ' ' || t[i.i + 2] AS gram
            FROM toks,
                 LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) i
            WHERE lang = 'en'
        ),
        ref_bi AS (
            SELECT t[i.i] || ' ' || t[i.i + 1] AS gram
            FROM toks,
                 LATERAL (SELECT UNNEST(range(1, len(t))) AS i) i
            WHERE lang = 'en'
        ),
        ref_uni AS (
            SELECT UNNEST(t) AS w FROM toks WHERE lang = 'en'
        ),
        c4 AS (SELECT gram, COUNT(*) AS c4 FROM ref_four GROUP BY 1),
        c3 AS (SELECT gram, COUNT(*) AS c3 FROM ref_tri GROUP BY 1),
        c2 AS (SELECT gram, COUNT(*) AS c2 FROM ref_bi GROUP BY 1),
        c1 AS (SELECT w, COUNT(*) AS c1 FROM ref_uni GROUP BY 1),
        nv AS (
            SELECT COUNT(*) AS n, COUNT(DISTINCT w) + 1 AS v FROM ref_uni
        ),
        doc_four AS (
            SELECT doc_id,
                   t[i.i] || ' ' || t[i.i + 1] || ' ' || t[i.i + 2]
                       || ' ' || t[i.i + 3] AS g4,
                   t[i.i] || ' ' || t[i.i + 1] || ' ' || t[i.i + 2] AS p3,
                   t[i.i + 1] || ' ' || t[i.i + 2] || ' ' || t[i.i + 3] AS s3,
                   t[i.i + 1] || ' ' || t[i.i + 2] AS m2,
                   t[i.i + 2] || ' ' || t[i.i + 3] AS s2,
                   t[i.i + 2] AS w3,
                   t[i.i + 3] AS w4
            FROM toks,
                 LATERAL (SELECT UNNEST(range(1, len(t) - 2)) AS i) i
        ),
        nll AS (
            SELECT doc_id,
                   -LN(CASE
                       WHEN c4.c4 IS NOT NULL THEN
                           CAST(c4.c4 AS DOUBLE) / c3p.c3
                       WHEN c3s.c3 IS NOT NULL THEN
                           0.4 * CAST(c3s.c3 AS DOUBLE) / c2m.c2
                       WHEN c2s.c2 IS NOT NULL THEN
                           0.16 * CAST(c2s.c2 AS DOUBLE) / c1w3.c1
                       ELSE
                           0.064 * CAST(COALESCE(c1w4.c1, 0) + 1 AS DOUBLE)
                               / (nv.n + nv.v)
                   END) AS nll
            FROM doc_four
            LEFT JOIN c4 ON doc_four.g4 = c4.gram
            LEFT JOIN c3 c3p ON doc_four.p3 = c3p.gram
            LEFT JOIN c3 c3s ON doc_four.s3 = c3s.gram
            LEFT JOIN c2 c2m ON doc_four.m2 = c2m.gram
            LEFT JOIN c2 c2s ON doc_four.s2 = c2s.gram
            LEFT JOIN c1 c1w3 ON doc_four.w3 = c1w3.w
            LEFT JOIN c1 c1w4 ON doc_four.w4 = c1w4.w
            CROSS JOIN nv
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_fourgrams,
               ROUND(EXP(AVG(nll)), 4) AS ppl
        FROM nll
        GROUP BY doc_id
    """,
)
def lm_backoff4_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's 4-gram stupid-backoff score under an LM trained
    on the English slice — one order above ``lm_backoff_scores``, the
    KenLM-adjacent depth CCNet actually runs; the DuckDB oracle restates
    the full 4-level cascade independently."""
    documents = load_table(spark, sf_dir, "documents")
    ref = documents.filter(F.col("lang") == "en")
    return backoff4_scores(documents, ref, "doc_id", "text").select(
        "doc_id", "n_fourgrams", F.round("ppl", 4).alias("ppl")
    )


@query(
    "lm_backoff_scores",
    tags=("quality", "lm"),
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   string_split_regex(lower(trim(COALESCE(text, ''))), '\\s+') AS t
            FROM documents
        ),
        ref_tri AS (
            SELECT t[i.i] || ' ' || t[i.i + 1] || ' ' || t[i.i + 2] AS gram
            FROM toks,
                 LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) i
            WHERE lang = 'en'
        ),
        ref_bi AS (
            SELECT t[i.i] || ' ' || t[i.i + 1] AS gram
            FROM toks,
                 LATERAL (SELECT UNNEST(range(1, len(t))) AS i) i
            WHERE lang = 'en'
        ),
        ref_uni AS (
            SELECT UNNEST(t) AS w FROM toks WHERE lang = 'en'
        ),
        c3 AS (SELECT gram, COUNT(*) AS c3 FROM ref_tri GROUP BY 1),
        c2 AS (SELECT gram, COUNT(*) AS c2 FROM ref_bi GROUP BY 1),
        c1 AS (SELECT w, COUNT(*) AS c1 FROM ref_uni GROUP BY 1),
        nv AS (
            SELECT COUNT(*) AS n, COUNT(DISTINCT w) + 1 AS v FROM ref_uni
        ),
        doc_tri AS (
            SELECT doc_id,
                   t[i.i] || ' ' || t[i.i + 1] || ' ' || t[i.i + 2] AS g3,
                   t[i.i] || ' ' || t[i.i + 1] AS p2,
                   t[i.i + 1] || ' ' || t[i.i + 2] AS s2,
                   t[i.i + 1] AS w2,
                   t[i.i + 2] AS w3
            FROM toks,
                 LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) i
        ),
        nll AS (
            SELECT doc_id,
                   -LN(CASE
                       WHEN c3.c3 IS NOT NULL THEN
                           CAST(c3.c3 AS DOUBLE) / c2p.c2
                       WHEN c2s.c2 IS NOT NULL THEN
                           0.4 * CAST(c2s.c2 AS DOUBLE) / c1w2.c1
                       ELSE
                           0.16 * CAST(COALESCE(c1w3.c1, 0) + 1 AS DOUBLE)
                               / (nv.n + nv.v)
                   END) AS nll
            FROM doc_tri
            LEFT JOIN c3 ON doc_tri.g3 = c3.gram
            LEFT JOIN c2 c2p ON doc_tri.p2 = c2p.gram
            LEFT JOIN c2 c2s ON doc_tri.s2 = c2s.gram
            LEFT JOIN c1 c1w2 ON doc_tri.w2 = c1w2.w
            LEFT JOIN c1 c1w3 ON doc_tri.w3 = c1w3.w
            CROSS JOIN nv
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_trigrams,
               ROUND(EXP(AVG(nll)), 4) AS ppl
        FROM nll
        GROUP BY doc_id
    """,
)
def lm_backoff_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's stupid-backoff trigram score under an LM trained
    on the English slice — the higher-order form of the CCNet filter,
    fully value-checked against the oracle's independent SQL restatement
    of the same backoff cascade."""
    documents = load_table(spark, sf_dir, "documents")
    ref = documents.filter(F.col("lang") == "en")
    return backoff_scores(documents, ref, "doc_id", "text").select(
        "doc_id", "n_trigrams", F.round("ppl", 4).alias("ppl")
    )
