"""CCNet-style bigram-LM perplexity: reference docs score lower than
noise, OOV degrades smoothly, min_count pruning only raises scores, and
the filter keeps the low-perplexity side. The order-3 and order-4
stupid-backoff scorers: every cascade level hand-computed, pruning backs
off, and pinned rows on the fixture corpus. (Value-exactness vs DuckDB is
covered by the registered oracles for lm_perplexity_scores,
lm_backoff_scores and lm_backoff4_scores.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.operators.lm_quality import (
    backoff4_scores,
    backoff_scores,
    perplexity_filter,
    perplexity_scores,
    train_bigram_lm,
)

from .conftest import SF_DIR


@pytest.fixture()
def corpus(spark):
    fluent = "the cat sat on the mat and the dog sat on the rug"
    rows = [
        (0, fluent, "ref"),
        (1, "the cat sat on the mat", "eval"),          # in-distribution
        (2, "zqx bvk wjm pfft qqq zzz xxy vvv", "eval"),  # pure OOV noise
        (3, "the dog sat on the mat", "eval"),          # recombined
        (4, "a", "eval"),                                # 1 token: unscoreable
        (5, None, "eval"),                               # NULL text
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, split string")


def test_reference_like_docs_score_lower(spark, corpus):
    ref = corpus.filter("split = 'ref'")
    scores = {
        r["doc_id"]: r["ppl"]
        for r in perplexity_scores(corpus, ref, "doc_id", "text").collect()
    }
    assert scores[1] < scores[2]  # fluent beats noise
    assert scores[3] < scores[2]  # recombined seen bigrams beat noise
    assert 4 not in scores and 5 not in scores  # too short to score


def test_oov_uniform_probability(spark, corpus):
    """A doc of entirely unseen tokens scores exactly ppl = V: every
    bigram gets P = 1/V, the smoothing floor."""
    import math

    ref = corpus.filter("split = 'ref'")
    _, _, vocab = train_bigram_lm(ref, "doc_id", "text")
    v = vocab.first()["v"]
    ppl2 = (
        perplexity_scores(corpus, ref, "doc_id", "text")
        .filter("doc_id = 2")
        .first()["ppl"]
    )
    assert math.isclose(ppl2, float(v), rel_tol=1e-9)


def test_min_count_pruning_never_lowers_scores(spark, corpus):
    ref = corpus.filter("split = 'ref'")
    full = {
        r["doc_id"]: r["ppl"]
        for r in perplexity_scores(corpus, ref, "doc_id", "text").collect()
    }
    pruned = {
        r["doc_id"]: r["ppl"]
        for r in perplexity_scores(
            corpus, ref, "doc_id", "text", min_count=2
        ).collect()
    }
    for d, p in pruned.items():
        assert p >= full[d] - 1e-9


def test_perplexity_filter_keeps_low_side(spark, corpus):
    ref = corpus.filter("split = 'ref'")
    scores = {
        r["doc_id"]: r["ppl"]
        for r in perplexity_scores(corpus, ref, "doc_id", "text").collect()
    }
    cut = (scores[1] + scores[2]) / 2
    kept = perplexity_filter(corpus, ref, "doc_id", "text", max_ppl=cut)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 1 in ids and 3 in ids
    assert 2 not in ids           # noise filtered
    assert 4 not in ids and 5 not in ids  # unscoreable dropped


# --- trigram stupid backoff (Brants et al. 2007) ---


def test_backoff_cascade_levels_hand_computed(spark):
    """One doc per backoff level against a tiny reference whose counts are
    hand-countable: exact trigram -> ratio of counts; unseen trigram with
    seen suffix bigram -> 0.4 * c2/c1; unseen bigram with seen unigram ->
    0.16 * (c1+1)/(N+V); full OOV -> 0.16 * 1/(N+V)."""
    import math

    from delta_lake_optimizations_spark.operators.lm_quality import backoff_scores

    ref_text = "a b c a b d"
    # counts: c3(a b c)=1, c3(b c a)=1, c3(c a b)=1, c3(a b d)=1
    #         c2(a b)=2, c2(b c)=1, c2(c a)=1, c2(b d)=1
    #         c1: a=2 b=2 c=1 d=1; N=6; V=4+1=5
    rows = [
        (0, ref_text, "ref"),
        (1, "a b c", "eval"),   # trigram level: c3(a b c)/c2(a b) = 1/2
        (2, "x b c", "eval"),   # bigram level: 0.4 * c2(b c)/c1(b) = 0.4*1/2
        (3, "x y c", "eval"),   # unigram level: 0.16 * (1+1)/(6+5)
        (4, "x y z", "eval"),   # OOV floor: 0.16 * (0+1)/(6+5)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, split string")
    ref = corpus.filter("split = 'ref'")
    got = {
        r["doc_id"]: (r["n_trigrams"], r["ppl"])
        for r in backoff_scores(corpus, ref, "doc_id", "text").collect()
    }
    # each eval doc has exactly one trigram position, so ppl = 1/S
    assert got[1][0] == 1 and math.isclose(got[1][1], 2.0, rel_tol=1e-9)
    assert math.isclose(got[2][1], 1.0 / (0.4 * 0.5), rel_tol=1e-9)
    assert math.isclose(got[3][1], 1.0 / (0.16 * 2 / 11), rel_tol=1e-9)
    assert math.isclose(got[4][1], 1.0 / (0.16 * 1 / 11), rel_tol=1e-9)
    # cascade ordering: more context -> better score
    assert got[1][1] < got[2][1] < got[3][1] < got[4][1]


def test_backoff_min_count_prunes_to_backoff(spark):
    """A trigram pruned by min_count scores exactly as if unseen (backs
    off to the bigram level) — pruning changes cost, not semantics."""
    import math

    from delta_lake_optimizations_spark.operators.lm_quality import backoff_scores

    rows = [
        (0, "a b c a b d", "ref"),
        (1, "a b c", "eval"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, split string")
    ref = corpus.filter("split = 'ref'")
    pruned = (
        backoff_scores(corpus, ref, "doc_id", "text", min_count=2)
        .filter("doc_id = 1")
        .first()["ppl"]
    )
    # all ref trigrams have count 1 -> all pruned -> doc 1 scores at the
    # bigram level: 0.4 * c2(b c)/c1(b) = 0.4 * 1/2
    assert math.isclose(pruned, 1.0 / (0.4 * 0.5), rel_tol=1e-9)


def test_backoff_filter_keeps_fluent_side(spark):
    from delta_lake_optimizations_spark.operators.lm_quality import (
        backoff_filter,
        backoff_scores,
    )

    rows = [
        (0, "the cat sat on the mat and the dog sat on the rug", "ref"),
        (1, "the cat sat on the mat", "eval"),
        (2, "zqx bvk wjm pfft qqq zzz xxy vvv", "eval"),
        (3, "a b", "eval"),   # 2 tokens: no trigram, unscoreable
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, split string")
    ref = corpus.filter("split = 'ref'")
    scores = {
        r["doc_id"]: r["ppl"]
        for r in backoff_scores(corpus, ref, "doc_id", "text").collect()
    }
    assert scores[1] < scores[2]
    assert 3 not in scores
    cut = (scores[1] + scores[2]) / 2
    ids = {
        r["doc_id"]
        for r in backoff_filter(corpus, ref, "doc_id", "text", max_ppl=cut)
        .select("doc_id")
        .collect()
    }
    assert ids == {0, 1}  # ref doc itself is fluent under its own LM


# --- 4-gram stupid backoff ---


def test_backoff4_cascade_levels_hand_computed(spark):
    """One doc per level of the 4-level cascade against a hand-countable
    reference: exact 4-gram; unseen 4-gram with seen suffix trigram;
    unseen trigram with seen suffix bigram; unseen bigram with seen
    unigram; full OOV."""
    import math

    from delta_lake_optimizations_spark.operators.lm_quality import backoff4_scores

    ref_text = "a b c d a b c e"
    # c4(a b c d)=1, c4(b c d a)=1, c4(c d a b)=1, c4(d a b c)=1, c4(a b c e)=1
    # c3(a b c)=2, c3(b c d)=1, c3(c d a)=1, c3(d a b)=1, c3(b c e)=1
    # c2(a b)=2, c2(b c)=2, c2(c d)=1, c2(d a)=1, c2(c e)=1
    # c1: a=2 b=2 c=2 d=1 e=1; N=8; V=5+1=6
    rows = [
        (0, ref_text, "ref"),
        (1, "a b c d", "eval"),  # 4-gram level: c4/c3(a b c) = 1/2
        (2, "x b c d", "eval"),  # trigram level: 0.4 * c3(b c d)/c2(b c) = 0.4*1/2
        (3, "x y c d", "eval"),  # bigram level: 0.16 * c2(c d)/c1(c) = 0.16*1/2
        (4, "x y z d", "eval"),  # unigram level: 0.064 * (1+1)/(8+6)
        (5, "x y z w", "eval"),  # OOV floor: 0.064 * (0+1)/(8+6)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, split string")
    ref = corpus.filter("split = 'ref'")
    got = {
        r["doc_id"]: (r["n_fourgrams"], r["ppl"])
        for r in backoff4_scores(corpus, ref, "doc_id", "text").collect()
    }
    assert got[1][0] == 1 and math.isclose(got[1][1], 2.0, rel_tol=1e-9)
    assert math.isclose(got[2][1], 1.0 / (0.4 * 0.5), rel_tol=1e-9)
    assert math.isclose(got[3][1], 1.0 / (0.16 * 0.5), rel_tol=1e-9)
    assert math.isclose(got[4][1], 1.0 / (0.064 * 2 / 14), rel_tol=1e-9)
    assert math.isclose(got[5][1], 1.0 / (0.064 * 1 / 14), rel_tol=1e-9)
    assert got[1][1] < got[2][1] < got[3][1] < got[4][1] < got[5][1]
    assert 0 in got  # the reference itself scores (has 4-gram positions)


def test_backoff4_min_count_prunes_to_backoff(spark):
    """A 4-gram pruned by min_count scores exactly as if unseen (backs
    off to the trigram level); lower orders are never pruned."""
    import math

    from delta_lake_optimizations_spark.operators.lm_quality import backoff4_scores

    rows = [
        (0, "a b c d a b c e", "ref"),
        (1, "a b c d", "eval"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, split string")
    ref = corpus.filter("split = 'ref'")
    pruned = (
        backoff4_scores(corpus, ref, "doc_id", "text", min_count=2)
        .filter("doc_id = 1")
        .first()["ppl"]
    )
    # all c4 are 1 -> pruned -> trigram level: 0.4 * c3(b c d)/c2(b c)
    # = 0.4 * 1/2
    assert math.isclose(pruned, 1.0 / (0.4 * 0.5), rel_tol=1e-9)


def test_backoff4_short_docs_drop(spark):
    from delta_lake_optimizations_spark.operators.lm_quality import backoff4_scores

    rows = [
        (0, "a b c d a b c e", "ref"),
        (1, "a b c", "eval"),  # 3 tokens: no 4-gram position
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, split string")
    ref = corpus.filter("split = 'ref'")
    ids = {
        r["doc_id"]
        for r in backoff4_scores(corpus, ref, "doc_id", "text").collect()
    }
    assert 1 not in ids


# (row count, sha256 of the repr of the sorted, unrounded rows) of both
# backoff scorers on the fixture corpus with the English slice as the
# reference, recorded from the hand-unrolled order-3 and order-4 scorers
# that the order-generic cascade replaced.
_PINNED_BACKOFF_ROWS = {
    (3, 1): (
        500,
        "1fac2b12c335d7094c6c3b00c5f9308fcf25dbb020dc9df04600ec513daf5f70",
    ),
    (3, 2): (
        500,
        "4aa27c0c1b07ca6649891767dc0bfdd4635e009a70941ed7b526fafa11d8dc91",
    ),
    (4, 1): (
        500,
        "aaf3f2efbb1061314920e61099855e0894be0dba715f960a822153a1487766fe",
    ),
    (4, 2): (
        500,
        "7662ac3a6461842f7ec72e0b2be2e87b2f31bdef0da3c55a1cc9ec19356943d8",
    ),
}


def test_backoff_scores_pinned_rows(spark):
    import hashlib

    docs = load_table(spark, SF_DIR, "documents")
    ref = docs.filter(F.col("lang") == "en")
    scorers = {3: backoff_scores, 4: backoff4_scores}
    got = {}
    for order, min_count in _PINNED_BACKOFF_ROWS:
        scores = scorers[order](docs, ref, "doc_id", "text", min_count=min_count)
        rows = sorted(tuple(r) for r in scores.collect())
        got[order, min_count] = (
            len(rows),
            hashlib.sha256(repr(rows).encode()).hexdigest(),
        )
    assert got == _PINNED_BACKOFF_ROWS
