"""Deduplication operators over the ``documents`` table (SURVEY.md §2.9 X1/X2).

Four families, each a reusable DataFrame->DataFrame function plus a
registered query:

- exact: group/dropDuplicates on content or a content hash (X1);
- n-gram Jaccard: shingle + explode + self-join — exact pairwise
  similarity within a blocking key (SQL-expressible, has an oracle);
- MinHash: banded signature join (LSH) — the scale path for near-dup
  (approximate, no SQL oracle; determinism pinned by fixed hash params);
- SimHash: 64-bit signature from token hashes, near-dups = small Hamming
  distance (no SQL oracle).

Scale notes: every self-join is blocked (by band/bucket/source) so the
candidate-pair space stays bounded; nothing materializes the O(n^2) pair
matrix. All hashing uses built-in ``xxhash64``/``sha2`` (JVM-side,
whole-stage codegen) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.registry import query

# ---------------------------------------------------------------------------
# X1: exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct content value (deterministic)."""
    return df.groupBy(content_col).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


@query(
    "dedup_exact_text",
    tags=("dedup",),
    oracle="""
        SELECT
            MIN(doc_id) AS keep_id,
            COUNT(*) AS n_copies
        FROM documents
        GROUP BY text
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: one survivor (lowest doc_id) per distinct text."""
    documents = load_table(spark, sf_dir, "documents")
    return dedup_exact(documents, "text", "doc_id").select("keep_id", "n_copies")


@query(
    "dedup_exact_hash",
    tags=("dedup",),
    oracle="""
        SELECT
            sha256(text) AS content_hash,
            MIN(doc_id) AS keep_id,
            COUNT(*) AS n_copies
        FROM documents
        GROUP BY sha256(text)
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a SHA-256 content hash.

    At 100 TB the hash (32 bytes) shuffles instead of the document body —
    this is the form that scales; group keys stay tiny.
    """
    documents = load_table(spark, sf_dir, "documents")
    return (
        documents.withColumn("content_hash", F.sha2("text", 256))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise within blocks)
# ---------------------------------------------------------------------------


def tokenize(col: Column) -> Column:
    """Lowercased whitespace tokens with zero-width characters stripped
    (the shared light normalization tier — ``operators/textnorm.py``;
    still pure codegen). Identical to the DuckDB oracles' regexp split
    on any zero-width-free corpus — the driver corpora are (verified);
    the normalization itself is oracle-pinned by
    ``normalize_text_docs``/``dedup_normalized_forms``."""
    from delta_lake_optimizations_spark.operators.textnorm import light_normalize

    return F.split(light_normalize(col), r"\s+")


def spread_doc_rows(df: DataFrame, key_col: str) -> DataFrame:
    """Scale-adaptive input spreading for doc-local enumeration stages
    (r12). The doc-local gram/segment forms put ALL their work in the
    scan stage — correct at 100 TB where input splits >> cores, but a
    small corpus stored as one parquet row group plans as ONE split, so
    the whole enumeration would serialize on a many-core machine (the
    old window forms were accidentally immune: their token exchange
    redistributed the work). When the scan's planned parallelism is
    materially below the session default, hash-repartition the slim doc
    rows once on the id (deterministic, no round-robin pre-sort); when
    input splits already provide the parallelism this is a no-op plan-
    wise. The condition derives from the INPUT, not from a local[32]
    constant."""
    if df.isStreaming:
        # micro-batch frames have no static partition plan to inspect;
        # the streaming runner owns parallelism
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n * 2 <= target:
        return df.repartition(target, F.col(key_col))
    return df


def token_ngrams(col: Column, n: int) -> Column:
    """Distinct word n-grams as space-joined strings."""
    toks = tokenize(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via explode + equi-join.

    Pairs are generated only where at least one n-gram matches (the join),
    optionally restricted to a blocking column — never a cross join. The
    intersection count comes from the grouped join; union sizes from the
    per-doc distinct n-gram counts.
    """
    # gram rows come from the codegen-friendly generator (identical gram
    # sets to token_ngrams — see _gram_rows; ~10x cheaper than the
    # interpreted transform/slice explode), deduped here because exact
    # Jaccard counts DISTINCT grams
    src = df.select(
        F.col(id_col),
        *([F.col(block_col).alias("_blk")] if block_col else []),
        F.col(text_col),
    )
    grams = _gram_rows(
        src, id_col, text_col, n, keep=("_blk",) if block_col else ()
    ).distinct()
    sizes = grams.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))

    left = grams
    right = grams.select(
        F.col("_id").alias("_id2"),
        *( [F.col("_blk").alias("_blk2")] if block_col else [] ),
        F.col("_gram").alias("_gram2"),
    )
    join_cond = (F.col("_gram") == F.col("_gram2")) & (F.col("_id") < F.col("_id2"))
    if block_col:
        join_cond = join_cond & (F.col("_blk") == F.col("_blk2"))
    inter = (
        left.join(right, join_cond)
        .groupBy("_id", "_id2")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sized = (
        inter.join(sizes.withColumnRenamed("_id", "_ida").withColumnRenamed("_sz", "_sza"),
                   F.col("_id") == F.col("_ida"))
        .join(sizes.withColumnRenamed("_id", "_idb").withColumnRenamed("_sz", "_szb"),
              F.col("_id2") == F.col("_idb"))
    )
    jac = F.col("_inter").cast("double") / (
        F.col("_sza") + F.col("_szb") - F.col("_inter")
    ).cast("double")
    return (
        sized.select(
            F.col("_id").alias("doc_a"),
            F.col("_id2").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# X2: MinHash + banded LSH (scale path for near-dup)
# ---------------------------------------------------------------------------

# Mersenne prime 2^31-1: affine hash math stays far below 2^63 so it is
# safe under ANSI mode (Spark 4 default) — no long-overflow errors.
_MINHASH_PRIME = (1 << 31) - 1


def _gram_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    keep: tuple[str, ...] = (),
    short_gram: bool = True,
    keep_pos: bool = False,
) -> DataFrame:
    """Word n-grams as ROWS (``_id, _gram``), built DOC-LOCALLY with
    explode(sequence) + ``slice``/``array_join`` (plain expressions, no
    lambda): tokenize once per doc, explode the gram START POSITIONS, and
    slice each gram out of the carried token array — zero shuffles, so
    every downstream per-doc aggregate gets a map-side partial combine
    and the exchange ships per-doc partials instead of every token.

    History of this function (both prior forms measured):

    - ``transform``/``slice`` HOF: interpreted (CodegenFallback) AND the
      lambda re-evaluates captured subtrees per element — 40 s just to
      enumerate 2.6M grams at sf1.
    - posexplode + window ``lead`` (r7-r11): codegen'd per-gram work, but
      the window's ``partitionBy(_id)`` shuffled and sorted EVERY TOKEN of
      the corpus before a single gram existed — at sf5 that token-shaped
      exchange dominated minhash/LM-score runtime.
    - explode(sequence) + ``slice`` (r12): per-gram work is the same
      O(n) slice+join the ``lead`` form paid via concat_ws, but the
      exchange is GONE — grams materialize in the scan stage. Note the
      generator carries the token array through the Generate, which is
      fine (rows stream through codegen, nothing materializes), and the
      lambda-HOF trap does not apply: ``slice``/``array_join`` are plain
      expressions, not lambdas, so nothing re-evaluates per element.

    Gram STRINGS are bit-identical to both prior forms (asserted in
    tests/test_ann_and_components.py): full n-grams at positions
    0..size-n (``slice`` of exactly n tokens, ``array_join`` with a
    single space == concat_ws), plus the single short gram for docs with
    fewer than n tokens (position-0 ``slice`` caps at the array end,
    exactly like concat_ws skipping the NULL leads).

    Gram multiset semantics match ``token_ngrams`` minus the distinct:
    MinHash takes per-permutation minima, so duplicate grams cannot
    change a signature and the distinct is unnecessary.
    """
    base = spread_doc_rows(
        df.select(F.col(id_col).alias("_id"), *[F.col(c) for c in keep], F.col(text_col)),
        "_id",
    )
    toks_df = base.select(
        "_id",
        *keep,
        # NULL text behaves like '' (one empty gram), exactly as the
        # token_ngrams path does — tokenize of NULL would instead DROP
        # the document from dedup entirely
        tokenize(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
    )
    sz = F.size("_toks")
    full = F.sequence(F.lit(0), sz - n)  # evaluated only when sz >= n
    if short_gram:
        # docs with fewer than n tokens contribute their single short
        # gram (token_ngrams semantics); span-profile callers drop it
        positions = F.when(sz >= n, full).otherwise(F.array(F.lit(0)))
    else:
        positions = F.when(sz >= n, full).otherwise(
            F.array().cast("array<integer>")
        )
    rows = toks_df.select(
        "_id", *keep, "_toks", F.explode(positions).alias("_pos")
    )
    pos_cols = ("_pos",) if keep_pos else ()
    return rows.select(
        "_id",
        *keep,
        *pos_cols,
        F.array_join(F.slice("_toks", F.col("_pos") + 1, n), " ").alias("_gram"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """Per-document MinHash signature over word n-grams.

    Each n-gram gets a base hash (``xxhash64`` folded into [0, 2^31-1));
    permutation ``i`` is the affine map ``(a_i * h + b_i) mod p``
    (Carter-Wegman universal hashing) with fixed deterministic parameters.
    The signature is ``array<bigint>`` of per-permutation minima: one
    array-valued aggregate built from one SQL expression over gram rows
    (see ``_gram_rows``) + groupBy, all JVM-side. A SQL string costs one
    py4j call where the same tree built from Columns costs one per node.
    """
    base = _gram_rows(df, id_col, text_col, n).selectExpr(
        "_id", f"pmod(xxhash64(_gram), {_MINHASH_PRIME}) AS _h"
    )
    # a_i * h + b_i <= ~127 * 2^31 + b  <<  2^63: ANSI-safe.
    mins = ", ".join(
        f"min(pmod(_h * {2 * i + 1} + {1000003 * (i + 1)}, {_MINHASH_PRIME}))"
        for i in range(num_hashes)
    )
    return base.groupBy("_id").agg(F.expr(f"array({mins})").alias("signature"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, verified by the
    signature-estimated Jaccard.

    Bands of ``num_hashes/bands`` rows are hashed to buckets; documents
    sharing any band bucket become candidates (equi-join on the bucket key —
    never a cross join, so this survives 100 TB). Candidates are then scored
    by fraction of matching signature positions and filtered.

    Shuffle shape (the 100 TB cost): the band index is FOLDED INTO one
    BIGINT bucket key (``xxhash64(band, slice...)``) so the self-join
    shuffles and hashes a single long instead of a (band, bucket) struct.
    The signature rides along with the banded rows on purpose: attaching
    it to deduped pairs by re-joining the signature aggregate instead
    plants FOUR copies of that aggregate subtree in one plan (two in the
    self-join + two re-joins), which blew the driver heap at AQE re-plan
    time when tried in r05 — two copies and fatter shuffle rows is the
    stable trade. The dominant MinHash cost was never this join anyway:
    it was gram enumeration (see ``_gram_rows``, 42.7 s -> 4.3 s at sf1).
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n=n, num_hashes=num_hashes)

    buckets = ", ".join(
        f"xxhash64({b}, concat_ws(',', "
        + ", ".join(
            f"element_at(signature, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )
        + "))"
        for b in range(bands)
    )
    banded = sigs.selectExpr("_id", "signature", f"explode(array({buckets})) AS bucket")
    if max_bucket_size is not None:
        # Per-bucket size cap (VERDICT r07 #1): a bucket larger than the
        # cap stops emitting its O(size^2) clique and instead emits a
        # STAR — every member paired with the bucket's min-id row — so
        # pair output per bucket is O(size). On duplication-heavy
        # corpora (real web crawl: boilerplate with 10^5 copies) this is
        # the difference between linear and quadratic output. The star is
        # a RECALL trade, not connectivity-preserving in general: star
        # edges are filtered by the same est_jaccard >= threshold gate at
        # the tail, so a component whose only above-threshold edges run
        # between NON-min members of an oversized bucket can split (the
        # (min, member) edges that replaced them fall below threshold and
        # drop). The parity twin proves equality only while no bucket
        # exceeds the cap on the tested corpora; at scale the cap bounds
        # cost and accepts that bounded recall loss. The bucket sizes come
        # from window aggregates over the banded rows, so the whole capped
        # branch shares ONE bucket exchange: the self-join below and the
        # star filter both read the window's bucket-partitioned output.
        # A groupBy + join-back instead plans the signature subtree once
        # per consumer.
        bucket = Window.partitionBy("bucket")
        sized = banded.select(
            "*",
            F.count(F.lit(1)).over(bucket).alias("_bsz"),
            F.min("_id").over(bucket).alias("_bmin"),
            F.min_by("signature", "_id").over(bucket).alias("_bsig"),
        )
        small = sized.filter(F.col("_bsz") <= max_bucket_size)
        small_right = small.select(
            F.col("_id").alias("_id2"),
            F.col("signature").alias("signature2"),
            F.col("bucket").alias("bucket2"),
        )
        small_pairs = small.join(
            small_right,
            (F.col("bucket") == F.col("bucket2")) & (F.col("_id") < F.col("_id2")),
        ).select("_id", "_id2", "signature", "signature2")
        star_pairs = (
            sized.filter(
                (F.col("_bsz") > max_bucket_size) & (F.col("_id") != F.col("_bmin"))
            )
            .select(
                F.col("_bmin").alias("_id"),
                F.col("_bsig").alias("signature"),
                F.col("_id").alias("_id2"),
                F.col("signature").alias("signature2"),
            )
        )
        pairs = small_pairs.unionByName(star_pairs).dropDuplicates(["_id", "_id2"])
    else:
        right = banded.select(
            F.col("_id").alias("_id2"),
            F.col("signature").alias("signature2"),
            F.col("bucket").alias("bucket2"),
        )
        pairs = (
            banded.join(
                right,
                (F.col("bucket") == F.col("bucket2")) & (F.col("_id") < F.col("_id2")),
            )
            .select("_id", "_id2", "signature", "signature2")
            .dropDuplicates(["_id", "_id2"])
        )
    # int / int is a double in Spark SQL (a literal 64.0 would be DECIMAL)
    est_jaccard = F.expr(
        "round(size(filter(zip_with(signature, signature2, (a, b) -> a = b), m -> m))"
        f" / {num_hashes}, 6)"
    )
    return (
        pairs.withColumn("est_jaccard", est_jaccard)
        .filter(F.col("est_jaccard") >= threshold)
        .select(
            F.col("_id").alias("doc_a"),
            F.col("_id2").alias("doc_b"),
            "est_jaccard",
        )
    )


@query("dedup_minhash_lsh", tags=("dedup", "approx"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (approximate; rows-only driver check —
    pytest pins determinism and recall against the exact Jaccard pairs).

    PAIR-ENUMERATING contract: output grows quadratically in duplicate-
    group size, so this is the exploration form. The registered SCALE
    path for duplication-heavy corpora is ``dedup_minhash_scaled`` —
    survivor-set contract, linear in corpus size."""
    documents = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(documents, "doc_id", "text", threshold=0.5).orderBy(
        "doc_a", "doc_b"
    )


def exact_collapse(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Collapse byte-identical texts to their min-id representative,
    carrying ``n_exact_copies`` — the shared pre-pass of every composed
    near-dup SCALE path (one window over the content hash; linear). On
    duplication-heavy corpora this removes the quadratic pair mass
    BEFORE any bucket/gram join exists."""
    fped = df.withColumn("_fp", F.sha2(F.col(text_col).cast("string"), 256))
    w = Window.partitionBy("_fp").orderBy(id_col)
    return (
        fped.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_exact_copies", F.count(F.lit(1)).over(Window.partitionBy("_fp"))
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fp")
    )


def dedup_minhash_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = 512,
) -> DataFrame:
    """Replication-proof near-dup dedup (VERDICT r07 #1): the SURVIVOR-SET
    contract — return the kept rows of ``df`` after exact + near-dup
    removal — composed so every stage is linear in corpus size:

    1. **Exact collapse**: identical texts (``sha2`` fingerprint) collapse
       to their min-id representative, carrying ``n_exact_copies``. One
       window over the content hash. On a crawl where one boilerplate
       string has 10^5 copies, this removes the quadratic mass BEFORE any
       pair join exists: exact duplicates have identical MinHash
       signatures, so the pair-enumerating form would emit ~5*10^9 pairs
       for that one group; here it emits none.
    2. **MinHash banded LSH over representatives only**, with the
       per-bucket size cap (star fallback) as the safety net for
       near-identical-but-not-byte-identical floods that survive step 1.
    3. **Connected components** over the (small) pair set; keep the min-id
       representative per component.

    Equivalence to the uncomposed form (pairs over ALL docs -> CC ->
    min-id per component): exact duplicates share every band bucket and
    estimate Jaccard 1.0, so in the uncomposed graph each exact group is
    a clique containing its representative, and a non-representative
    member shares all its buckets (hence its candidate edges and
    estimates) with the representative — collapsing the group onto the
    representative changes neither connectivity nor component minima.
    ``minhash_scaled_matches_pairwise`` value-checks that equivalence.

    Output: surviving rows of ``df`` + ``n_exact_copies`` (how many exact
    duplicates each survivor absorbed — downstream sampling weights)."""
    reps = exact_collapse(df, id_col, text_col)
    pairs = minhash_lsh_pairs(
        reps,
        id_col,
        text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )
    from delta_lake_optimizations_spark.operators.components import (
        connected_components,
    )

    comp = connected_components(pairs)
    return (
        reps.join(comp, reps[id_col] == comp["vertex"], "left")
        .filter(F.coalesce("component", F.col(id_col)) == F.col(id_col))
        .drop("vertex", "component")
    )


@query("dedup_minhash_scaled", tags=("dedup", "approx", "scale", "llm-pipeline"))
def dedup_minhash_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered SCALE path for near-dup dedup (rows-only driver
    check; ``minhash_scaled_matches_pairwise`` is the oracle-backed
    equality twin): exact-collapse -> capped MinHash-LSH over survivors ->
    connected components -> min-id survivor set. Linear in corpus size
    even when the corpus is mostly duplicates — the contract a 100 TB
    crawl needs (the pair-enumerating ``dedup_minhash_lsh`` measured
    14.67x wall for 5x data on the 50x-replicated sf5 corpus)."""
    documents = load_table(spark, sf_dir, "documents")
    return (
        dedup_minhash_survivors(documents, "doc_id", "text", threshold=0.5)
        .select("doc_id", "source", "n_exact_copies")
        .orderBy("doc_id")
    )


@query(
    "minhash_scaled_matches_pairwise",
    tags=("dedup", "approx", "scale", "metric"),
    oracle="SELECT CAST(0 AS BIGINT) AS n_mismatch",
)
def minhash_scaled_matches_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-set parity between the composed scale path
    (``dedup_minhash_survivors``: exact collapse + bucket cap) and the
    uncomposed pairwise form (``minhash_lsh_pairs`` over ALL documents,
    no cap -> CC -> min-id per component). Any divergence — a collapse
    that changes connectivity, a cap that engages where it shouldn't, a
    CC label drift — makes n_mismatch > 0."""
    from delta_lake_optimizations_spark.operators.components import (
        connected_components,
    )
    from delta_lake_optimizations_spark.operators.metrics import mismatch_count

    documents = load_table(spark, sf_dir, "documents")
    scaled = dedup_minhash_survivors(documents, "doc_id", "text", threshold=0.5).select(
        "doc_id"
    )
    pairs = minhash_lsh_pairs(documents, "doc_id", "text", threshold=0.5)
    comp = connected_components(pairs)
    pairwise = (
        documents.join(comp, documents["doc_id"] == comp["vertex"], "left")
        .filter(F.coalesce("component", F.col("doc_id")) == F.col("doc_id"))
    )
    return mismatch_count(scaled, pairwise, ["doc_id"])


# ---------------------------------------------------------------------------
# X2b: SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over word tokens.

    Per token: 64-bit ``xxhash64``. Per document and bit position: sum of
    +1/-1 votes; the signature bit is 1 where the vote is positive. The 64
    conditional aggregates stay inside one hash-aggregate stage, folded
    into the signature by one SQL expression.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokenize(F.col(text_col))).alias("_tok"),
    ).select("_id", F.xxhash64("_tok").alias("_h"))
    bits = " | ".join(
        f"shiftleft(CASE WHEN sum(CASE WHEN shiftright(_h, {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN 1L ELSE 0L END, {i})"
        for i in range(64)
    )
    return toks.groupBy("_id").agg(F.expr(bits).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit chunks.

    Pigeonhole: two signatures within Hamming distance 3 share at least one
    of four 16-bit chunks exactly; candidates come from equi-joins on
    (chunk_index, chunk_value) — no cross join.
    """
    sigs = simhash(df, id_col, text_col)
    chunks = sigs.selectExpr(
        "_id",
        "simhash",
        "posexplode(array("
        + ", ".join(f"shiftright(simhash, {16 * c}) & 65535" for c in range(4))
        + ")) AS (chunk_idx, chunk_val)",
    )
    right = chunks.select(
        F.col("_id").alias("_id2"),
        F.col("simhash").alias("simhash2"),
        F.col("chunk_idx").alias("chunk_idx2"),
        F.col("chunk_val").alias("chunk_val2"),
    )
    cand = (
        chunks.join(
            right,
            (F.col("chunk_idx") == F.col("chunk_idx2"))
            & (F.col("chunk_val") == F.col("chunk_val2"))
            & (F.col("_id") < F.col("_id2")),
        )
        .select("_id", "_id2", "simhash", "simhash2")
        .dropDuplicates(["_id", "_id2"])
    )
    hamming = F.bit_count(F.col("simhash").bitwiseXOR(F.col("simhash2")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("_id").alias("doc_a"), F.col("_id2").alias("doc_b"), "hamming")
    )


@query("dedup_simhash", tags=("dedup", "approx"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (rows-only driver check)."""
    documents = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(documents, "doc_id", "text", max_hamming=8).orderBy(
        "doc_a", "doc_b"
    )


@query(
    "dedup_levenshtein_prefix_block",
    tags=("dedup",),
    oracle="""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS edit_dist
        FROM documents a
        JOIN documents b
          ON substr(a.text, 1, 8) = substr(b.text, 1, 8)
         AND a.source = b.source
         AND a.doc_id < b.doc_id
        WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 5
    """,
)
def dedup_levenshtein_prefix_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs, prefix-blocked.

    Levenshtein is O(len^2) per pair, so it only ever runs on candidates
    from cheap blocking (equal 8-char prefix + same source), and on a
    40-char head, not full documents — the standard cascade: cheap block
    -> bounded expensive verify."""
    documents = load_table(spark, sf_dir, "documents")
    a = documents.select(
        F.col("doc_id").alias("doc_a"),
        F.substring("text", 1, 8).alias("_blk"),
        F.col("source").alias("_src"),
        F.substring("text", 1, 40).alias("_head_a"),
    )
    b = documents.select(
        F.col("doc_id").alias("doc_b"),
        F.substring("text", 1, 8).alias("_blk2"),
        F.col("source").alias("_src2"),
        F.substring("text", 1, 40).alias("_head_b"),
    )
    return (
        a.join(
            b,
            (F.col("_blk") == F.col("_blk2"))
            & (F.col("_src") == F.col("_src2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .withColumn("edit_dist", F.levenshtein("_head_a", "_head_b"))
        .filter(F.col("edit_dist") <= 5)
        .select("doc_a", "doc_b", "edit_dist")
    )


@query(
    "dedup_ngram_jaccard",
    tags=("dedup",),
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT
                doc_id,
                source,
                array_to_string(t[i.i : i.i + 2], ' ') AS gram
            FROM toks,
                 LATERAL (
                     SELECT UNNEST(range(1, GREATEST(len(t) - 2, 1) + 1)) AS i
                 ) i
        ),
        sizes AS (
            SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
        ),
        inter AS (
            SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_inter
            FROM grams a
            JOIN grams b
              ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT * FROM (
            SELECT
                ida AS doc_a,
                idb AS doc_b,
                ROUND(
                    CAST(n_inter AS DOUBLE)
                    / CAST(sa.sz + sb.sz - n_inter AS DOUBLE),
                    6
                ) AS jaccard
            FROM inter
            JOIN sizes sa ON ida = sa.doc_id
            JOIN sizes sb ON idb = sb.doc_id
        )
        WHERE jaccard >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs, blocked by source."""
    documents = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        documents, "doc_id", "text", n=3, threshold=0.5, block_col="source"
    )


def repeated_span_profile(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Per-document duplicated-span profile via corpus-repeated k-token
    shingles (the exact-substring-dedup signal of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    approximated at shingle granularity).

    Every token position contributes its k-shingle (NOT distinct —
    positions matter); a shingle seen more than once anywhere in the
    corpus marks its positions as duplicated. Output: per-doc shingle
    count, duplicated-shingle count, duplicated fraction.

    Scale: shingles are hashed before the shuffle so the repeat-count
    aggregate and the join move fixed-width digests, not 8-token
    strings (md5 here for oracle parity; xxhash64 halves the width when
    no cross-engine parity is needed). Two shuffles total: one hash
    aggregate for repeat counts, one join+aggregate back per doc.
    """
    # r12: _gram_rows is now doc-local (no exchange), and ``sh`` has TWO
    # consumers (the repeat-count aggregate and the join back) — without
    # an exchange to reuse, each consumer would re-enumerate and re-hash
    # every shingle from the scan. One explicit repartition on the
    # consumer key materializes the SLIM (id, digest) rows once; the
    # aggregate reuses the partitioning outright and the join is
    # co-partitioned (ReusedExchange on the hash rows, not a token
    # shuffle).
    sh = _gram_rows(df, id_col, text_col, k, short_gram=False).select(
        F.col("_id").alias(id_col), F.md5("_gram").alias("h")
    ).repartition(F.col("h"))
    rep = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("h", F.lit(1).alias("_hit"))
    )
    return (
        sh.join(rep, "h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_dup_shingles"),
            F.round(
                F.count("_hit").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_fraction"),
        )
    )


@query(
    "dedup_repeated_spans",
    tags=("dedup", "text"),
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        pos AS (
            SELECT doc_id, t,
                   unnest(range(greatest(len(t) - 7, 0))) AS p
            FROM toks
        ),
        sh AS (
            SELECT doc_id,
                   md5(array_to_string(t[CAST(p+1 AS INT):CAST(p+8 AS INT)], ' ')) AS h
            FROM pos
        ),
        rep AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > 1)
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               CAST(COUNT(r.h) AS BIGINT) AS n_dup_shingles,
               ROUND(CAST(COUNT(r.h) AS DOUBLE) / COUNT(*), 6) AS dup_fraction
        FROM sh s LEFT JOIN rep r USING (h)
        GROUP BY s.doc_id
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-repeated 8-token-shingle profile per document."""
    documents = load_table(spark, sf_dir, "documents")
    return repeated_span_profile(documents, "doc_id", "text", k=8)


def remove_repeated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Exact repeated-span REMOVAL at token granularity — the removal
    step of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), approximated at k-shingle granularity: the paper
    removes every >=50-token span that appears twice in the corpus; here
    every k-token shingle occurring more than once corpus-wide keeps only
    its FIRST occurrence (minimum ``(doc_id, position)``), and all tokens
    covered by a non-canonical occurrence are dropped. Overlapping hits
    merge naturally: coverage is the union of ``[p, p+k)`` over every
    removal start, so a long duplicated passage is removed as one
    maximal span. Finer-grained than ``dedup_chunks_rewrite`` (which only
    sees chunk-ALIGNED duplicates) and a rewrite rather than a flag
    (unlike ``repeated_span_profile``).

    Output: ``(id_col, clean_text, n_kept, n_removed)`` — every input
    document surfaces, fully-duplicated ones with ``clean_text=''``
    (the caller's length gates decide their fate, the paragraph-dedup
    contract).

    100 TB design: shingles are md5-hashed before the shuffle (fixed
    width); the repeat-count + canonical-occurrence aggregate is ONE
    hash aggregate with map-side combine (skew-immune on hot shingles —
    no window over the shingle key); coverage expansion is doc-local;
    the kept-token anti-join and reassembly shuffle by doc id. A
    mega-hot shingle concentrates its occurrence rows at the join back,
    which is the irreducible output of marking those positions.
    """
    # r12: same two-consumer reuse note as repeated_span_profile — one
    # explicit repartition on the shingle digest materializes the slim
    # (id, pos, digest) rows once; the canonical-occurrence aggregate
    # reuses the partitioning and the join back is co-partitioned.
    sh = _gram_rows(
        df, id_col, text_col, k, short_gram=False, keep_pos=True
    ).select(
        F.col("_id").alias(id_col),
        F.col("_pos").alias("_p"),
        F.md5("_gram").alias("_h"),
    ).repartition(F.col("_h"))
    firsts = sh.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct(F.col(id_col), F.col("_p"))).alias("_first"),
    )
    starts = (
        sh.join(firsts.filter(F.col("_c") > 1), "_h")
        .filter(
            (F.col(id_col) != F.col(f"_first.{id_col}"))
            | (F.col("_p") != F.col("_first._p"))
        )
        .select(id_col, "_p")
    )
    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    return drop_covered_tokens(df, id_col, toks, starts, k)


def drop_covered_tokens(
    df: DataFrame, id_col: str, toks: Column, starts: DataFrame, k: int
) -> DataFrame:
    """Shared span-removal tail: given removal STARTS ``(id_col, _p)``
    (0-based token positions, each covering ``[p, p+k)``), drop every
    covered token and reassemble ``(id_col, clean_text, n_kept,
    n_removed)`` — every input document surfaces, fully-covered ones
    with ``clean_text=''``. ``toks`` is the caller's token-array
    expression (callers differ: repeated-span dedup uses the normalized
    ``tokenize``, span decontamination uses decontam's single-space
    split — coverage semantics are tokenizer-agnostic).

    r11 rewrite (guide §2.3/§2.4, before/after plans in plans/r11): the
    original tail posexploded EVERY corpus token into its own row, ran a
    (id, pos) anti-join against the exploded+distinct covered positions,
    and re-assembled with a groupBy(id).collect_list over all surviving
    tokens — three exchanges whose payload was the entire tokenized
    corpus, twice. But coverage is DOC-LOCAL: aggregating the starts to
    one compact ``(id, sorted positions)`` row per affected doc (the
    only shuffle, of start positions — bytes, not tokens) and joining
    that to the doc frame lets one Arrow pass rebuild each document with
    a linear difference-array sweep. Token arrays cross the boundary
    once, map-side; the doc join is AQE-broadcastable (per_doc carries
    only affected docs' position lists — when it outgrows the broadcast
    threshold Spark falls back to shuffling the doc frame once, still
    strictly fewer token-shaped exchanges than the old three-exchange
    tail). Output is
    byte-identical: the kept tokens in position order joined with a
    single space is exactly what the collect_list/array_sort/array_join
    chain produced (pinned by the dedup_remove_repeated_spans /
    decontam_remove_spans oracles)."""
    id_type = dict(df.dtypes)[id_col]
    per_doc = starts.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.col("_p").cast("long"))).alias("_ps")
    )
    # r12: spread the doc side before tokenizing — on a single-split local
    # corpus the Arrow rebuild otherwise runs as ONE task (see
    # spread_doc_rows); the tokenize then also runs post-shuffle in
    # parallel. toks may reference text_col, so spread the raw row first.
    joined = spread_doc_rows(df, id_col).select(
        F.col(id_col), toks.alias("_toks")
    ).join(per_doc, id_col, "left")

    def rebuild(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, texts, keptn, remn = [], [], [], []
            for i, t, ps in zip(pdf[id_col], pdf["_toks"], pdf["_ps"]):
                tl = list(t)
                n = len(tl)
                if ps is None or len(ps) == 0:
                    kept = tl
                else:
                    diff = np.zeros(n + 1, dtype=np.int64)
                    # clip both ends of [p, p+k) into [0, n] from the raw
                    # start: a start at n covers nothing, a negative start
                    # covers only its in-range tail (current producers only
                    # emit in-range starts, but this helper is shared)
                    pa = np.asarray(ps, dtype=np.int64)
                    np.add.at(diff, np.clip(pa, 0, n), 1)
                    np.add.at(diff, np.clip(pa + k, 0, n), -1)
                    covered = np.cumsum(diff[:n]) > 0
                    kept = [tok for tok, c in zip(tl, covered) if not c]
                ids.append(i)
                texts.append(" ".join(kept))
                keptn.append(len(kept))
                remn.append(n - len(kept))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "clean_text": texts,
                    "n_kept": keptn,
                    "n_removed": remn,
                }
            )

    return joined.mapInPandas(
        rebuild,
        schema=(
            f"{id_col} {id_type}, clean_text string, "
            "n_kept bigint, n_removed bigint"
        ),
    )


@query(
    "dedup_remove_repeated_spans",
    tags=("dedup", "text", "llm-pipeline"),
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        pos AS (
            SELECT doc_id, t,
                   unnest(range(greatest(len(t) - 7, 0))) AS p
            FROM toks
        ),
        sh AS (
            SELECT doc_id, p,
                   md5(array_to_string(t[CAST(p+1 AS INT):CAST(p+8 AS INT)], ' ')) AS h
            FROM pos
        ),
        marked AS (
            SELECT doc_id, p,
                   ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn,
                   COUNT(*) OVER (PARTITION BY h) AS c
            FROM sh
        ),
        covered AS (
            SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS q
            FROM marked WHERE c > 1 AND rn > 1
        ),
        tokens AS (
            SELECT doc_id, unnest(range(len(t))) AS q, unnest(t) AS tok
            FROM toks
        ),
        kept AS (
            SELECT tk.doc_id, tk.q, tk.tok
            FROM tokens tk LEFT JOIN covered c
              ON tk.doc_id = c.doc_id AND tk.q = c.q
            WHERE c.q IS NULL
        ),
        kept_agg AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY q) AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT tt.doc_id,
               COALESCE(ka.clean_text, '') AS clean_text,
               CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(len(tt.t) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed
        FROM toks tt LEFT JOIN kept_agg ka USING (doc_id)
    """,
)
def dedup_remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite the corpus with every non-canonical repeated 8-token span
    removed; oracle restates the full mark/cover/reassemble cascade."""
    documents = load_table(spark, sf_dir, "documents")
    return remove_repeated_spans(documents, "doc_id", "text", k=8)


def dedup_chunks_rewrite(
    docs: DataFrame,
    chunk_words: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk-level exact dedup WITH corpus rewrite (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" removal
    step, at chunk rather than suffix granularity): split every document
    into fixed-size word chunks, keep only the corpus-wide FIRST
    occurrence of each exact chunk (ordered by doc id, then position),
    and reassemble each document from its surviving chunks in order.

    Unlike the flagging-only dedup family, this REWRITES the corpus —
    the output is the training text you actually keep. One shuffle keyed
    by chunk text for the first-occurrence window, one by doc id for
    reassembly; per-doc state is bounded by document length. Documents
    whose every chunk appeared earlier vanish entirely (full duplicates).
    """
    from pyspark.sql import Window

    cw = int(chunk_words)
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(cw))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * cw + 1, cw)),
    )
    exploded = docs.select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy(F.col(id_col), F.col("pos"))
    keep = exploded.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return keep.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("chunks_kept"),
    )


@query(
    "dedup_chunks_rewrite_corpus",
    tags=("dedup", "text", "llm-pipeline"),
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        chunks AS (
            SELECT doc_id, i AS pos,
                   array_to_string(ts[(i*5+1):(i*5+5)], ' ') AS chunk
            FROM tok,
                 UNNEST(generate_series(
                     0, CAST(ceil(len(ts) / 5.0) AS BIGINT) - 1)) AS t(i)
        ),
        keep AS (
            SELECT doc_id, pos, chunk,
                   ROW_NUMBER() OVER (
                       PARTITION BY chunk ORDER BY doc_id, pos) AS rn
            FROM chunks
        )
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
               COUNT(*) AS chunks_kept
        FROM keep WHERE rn = 1
        GROUP BY doc_id
    """,
)
def dedup_chunks_rewrite_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: every document rebuilt from the
    5-word chunks that did not appear earlier in the corpus."""
    documents = load_table(spark, sf_dir, "documents")
    return dedup_chunks_rewrite(documents, chunk_words=5)
