"""Random-hyperplane LSH (SURVEY §2.9 X3 — the 100 TB ANN path).

This module owns hyperplane LSH; every other module imports it from here:

- **Planes and codes.** ``_hyperplane`` is the one deterministic plane
  sequence. A vector's packed sign code for one table is computed three
  ways, bit-identical by construction: ``code_col`` (the Spark fold
  column the inline queries filter and join on), ``_codes_pandas_udf``
  (the Arrow/NumPy pass the index build and the batch join use; it reads
  ``dim`` from each batch) and ``query_margins`` / ``query_codes`` (the
  driver-side code of a query constant).
- **Probe masks.** ``hamming_masks`` enumerates the XOR masks of a
  Hamming ball; ``ranked_probe_lists`` orders flip sets by the query's
  hyperplane margins instead (Multi-Probe LSH, Lv et al., VLDB 2007).
- **The sharded index and its dials.** ``build_lsh_sharded_index``
  persists the codes as ``tc = table<<planes | code`` postings and
  records ``graft.lsh.nTables`` / ``graft.lsh.nPlanes`` in the table's
  properties. Every probe, join, batch and append reads those two dials
  from the index, so a caller cannot probe an index with the wrong ones.

Why an index: the inline multi-probe query (``similarity.
ann_topk_multiprobe``) computes ``n_tables * n_planes`` dot products PER
ROW PER QUERY to derive the codes it filters on. The index computes them
ONCE (one narrow pass over the corpus) and answers every query by reading
only the buckets it probes, then re-ranking the candidates exactly. The
probe is ONE ``tc IN (buckets)`` load riding the engine's min/max file
skipping plus the pushed In predicate's row-group pruning, so IO and
decode are O(candidates). At 800k clustered vectors: speedup 2.0x over
brute force end-to-end, 3.2% candidates, recall@10 0.96, probe touches 11%
of index files — and the gap WIDENS with corpus size (brute is O(corpus),
the probe is O(buckets)). Recall equals the inline path's at the same
(n_tables, n_planes, Hamming radius), because the code bits are the same.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import cached_table, load_table
from delta_lake_optimizations_spark.operators.similarity import (
    query_vector,
    topk_cosine,
)
from delta_lake_optimizations_spark.queries.vectors import (
    cosine_with_norms,
    dot,
    norm_col,
)
from delta_lake_optimizations_spark.registry import query

N_TABLES = 16
N_PLANES = 12
# The INDEXED dial: Hamming<=1 keeps ~13 buckets per table (vs 79 at h<=2).
# On clustered (realistic) geometry h<=1 recall is >=0.8
# (tests/test_ann_and_components.py::test_lsh_multiprobe_recall_on_
# clustered_vectors measured 0.965); on the adversarially-uniform synthetic
# corpus recall degrades (documented LSH worst case) — the inline
# registered query keeps h<=2 for that reason, and the equivalence metric
# compares the index against the inline path AT THE SAME DIAL.
PROBE_HAMMING_INDEXED = 1


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane (fixed LCG — no RNG
    state, reproducible across cluster sizes)."""
    out = []
    x = (plane_idx * 2654435761 + 1013904223) & 0xFFFFFFFF
    for _ in range(dim):
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
        out.append(((x >> 8) / float(1 << 24)) * 2.0 - 1.0)
    return out


def code_col(dim: int, table_idx: int, n_planes: int, vec_col: str) -> Column:
    """Packed sign code of ``vec_col`` for one LSH table, as a Spark
    column. Uses the FOLD dot on purpose: expanding n_tables*n_planes*dim
    element_at terms makes Catalyst's optimizer go nonlinear (planning
    minutes, not seconds); the fold plans instantly."""
    b: Column = F.lit(0).cast("long")
    for i in range(n_planes):
        plane = F.array(
            *[F.lit(v) for v in _hyperplane(dim, table_idx * n_planes + i)]
        )
        bit = F.when(
            dot(F.col(vec_col), plane) >= 0, F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        b = b.bitwiseOR(F.shiftleft(bit, i))
    return b


def hamming_masks(n_planes: int, h: int) -> list[int]:
    """XOR masks of every flip set of at most ``h`` of ``n_planes`` bits:
    0 (the exact code) first, then by flip count, each count in
    ``combinations`` order (13 masks at 12 planes, h=1; 79 at h=2)."""
    return [
        sum(1 << b for b in bits)
        for r in range(h + 1)
        for bits in combinations(range(n_planes), r)
    ]


def lsh_index_frame_expr(
    df: DataFrame,
    dim: int,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Expression-only code path: one ``code_col`` per table, named
    ``lsh_code_{t}``. Kept as the semantic reference — the vectorized
    codes behind ``lsh_exploded_index_frame`` are asserted bit-identical
    to these in tests/test_lsh_index.py."""
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        *[
            code_col(dim, t, n_planes, vec_col).alias(f"lsh_code_{t}")
            for t in range(n_tables)
        ],
    )


def _codes_pandas_udf(n_tables: int, n_planes: int):
    """Arrow-batched code computation: one numpy pass per batch instead of
    ``n_tables*n_planes`` interpreted fold evaluations per row (~5-10x
    faster build at 100k x 64; identical bits). ``dim`` is each batch's
    vector width; the planes are generated once per width.

    Bit-identity argument: the fold computes, in IEEE double,
    ``acc_{i+1} = acc_i + (float64(e_i) * p_i)`` left-to-right from 0.0.
    The numpy loop below performs the same multiply then add, in the same
    order, on the same float64 values — so every intermediate (and hence
    the sign, and hence every code bit) is bitwise identical.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    total = n_tables * n_planes
    planes_by_dim: dict[int, np.ndarray] = {}

    def codes(emb):
        X = np.vstack([np.asarray(v, dtype=np.float32) for v in emb]).astype(
            np.float64
        )  # float -> double cast, exact (same as Spark's cast)
        dim = X.shape[1]
        if dim not in planes_by_dim:
            planes_by_dim[dim] = np.array(
                [_hyperplane(dim, p) for p in range(total)], dtype=np.float64
            )  # (total, dim)
        planes = planes_by_dim[dim]
        acc = np.zeros((X.shape[0], total), dtype=np.float64)
        tmp = np.empty_like(acc)
        for i in range(dim):  # left-to-right accumulation, matches the fold
            # out= forms: the same IEEE multiply/add per element without
            # per-step temporaries (~2x on this loop)
            np.multiply(X[:, i : i + 1], planes[None, :, i], out=tmp)
            np.add(acc, tmp, out=acc)
        bits = acc >= 0.0
        out = np.zeros((X.shape[0], n_tables), dtype=np.int64)
        for t in range(n_tables):
            for j in range(n_planes):
                out[:, t] |= bits[:, t * n_planes + j].astype(np.int64) << j
        return pd.Series(list(out))

    # the module-wide `from __future__ import annotations` stringifies type
    # hints beyond pyspark's resolver; set real ones explicitly
    codes.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    return pandas_udf("array<long>")(codes)


def query_codes(
    query_vec: list[float], n_tables: int = N_TABLES, n_planes: int = N_PLANES
) -> list[int]:
    """Driver-side code of the query vector for every table."""
    return [c for c, _ in query_margins(query_vec, n_tables, n_planes)]


def _dials(table) -> tuple[int, int]:
    """``(n_tables, n_planes)`` the sharded index was built with."""
    props = table.snapshot().properties
    return int(props["graft.lsh.nTables"]), int(props["graft.lsh.nPlanes"])


# ---------------------------------------------------------------------------
# Sharded LSH index: the probe becomes FILE SKIPPING
# ---------------------------------------------------------------------------
#
# One row per (table, code) posting keyed by a single combined bucket id
# ``tc = table_id << n_planes | code``, partitioned into contiguous ``tc``
# ranges and sorted by ``tc`` so every parquet file covers a narrow bucket
# range with tight min/max footer stats. A probe enumerates its multiprobe
# buckets driver-side (13/table at Hamming<=1) and issues ONE load with
# ``tc IN (probe buckets)`` through the engine's own file skipping
# (GraftTable.load(skip_where=...)): only files whose range contains a
# probed bucket are read, so query IO — including vector decode — is
# O(candidates), not O(corpus).
#
# The trade is storage: n_tables copies of the vector column (the classic
# LSH table-per-hash replication, covering variant — vectors ride along so
# the re-rank needs no join; the alternative, id-only postings, costs a
# corpus-wide shuffle or full re-scan per query to fetch candidate
# vectors). The candidate SET for a Hamming<=h probe list is identical to
# the inline multi-probe path at the same (n_tables, n_planes, h) —
# {id : exists t, code_t in probes_t} — pinned by an equality test.

#: sharded-index dial: fewer tables than the inline path because every
#: extra table multiplies storage AND probe IO; 8 tables at Hamming<=1
#: measure ~0.95 recall on clustered geometry (pytest) at a ~2.5%
#: uniform-corpus candidate fraction.
N_TABLES_SHARDED = 8


def lsh_exploded_index_frame(
    df: DataFrame,
    n_tables: int = N_TABLES_SHARDED,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One posting row per (vector, table): ``tc, id, vector`` where
    ``tc = table_id << n_planes | code``. Narrow (posexplode of the
    vectorized code array — no shuffle)."""
    codes = _codes_pandas_udf(n_tables, n_planes)
    return (
        df.select(F.col(id_col), F.col(vec_col), codes(F.col(vec_col)).alias("_codes"))
        .select(
            id_col,
            vec_col,
            F.posexplode("_codes").alias("table_id", "code"),
        )
        .select(
            (
                F.shiftleft(F.col("table_id").cast("long"), n_planes)
                .bitwiseOR(F.col("code"))
            ).alias("tc"),
            id_col,
            vec_col,
        )
    )


def _partition_tokens(spark: SparkSession, n_parts: int) -> list[int]:
    """For each target partition ``p`` in [0, n_parts), the smallest long
    ``t`` with ``pmod(hash(t), n_parts) == p`` — so hash-repartitioning on
    the token column places each token's rows in exactly partition ``p``
    (a bijection; no two shard ranges collide into one partition and no
    partition comes out empty, the guide §2.5 synthetic-key hazard).
    ``F.hash`` is Spark's Murmur3 — computed by one metadata-scale Spark
    job over a candidate range instead of reimplementing the hash driver-
    side. Deterministic."""
    tokens: list[int | None] = [None] * n_parts
    need, lo = n_parts, 0
    while need:
        cand = (
            spark.range(lo, lo + 64 * n_parts)
            .select("id", F.pmod(F.hash("id"), F.lit(n_parts)).alias("p"))
            .collect()
        )
        for r in sorted(cand, key=lambda r: r["id"]):
            if tokens[r["p"]] is None:
                tokens[r["p"]] = r["id"]
                need -= 1
                if not need:
                    break
        lo += 64 * n_parts
    return tokens  # type: ignore[return-value]


def _tc_shard_token_map(
    spark: SparkSession,
    df: DataFrame,
    n_tables: int,
    n_planes: int,
    n_shards: int,
    id_col: str,
    vec_col: str,
) -> tuple[list[int], int] | None:
    """Deterministic shard mapping for the whole ``tc`` domain
    [0, n_tables << n_planes): a SAMPLED bucket histogram (the codes UDF
    runs over ~20k rows, not the corpus) is split driver-side into
    ``n_shards`` contiguous equal-weight tc ranges, and every tc gets the
    partition TOKEN of its range (see ``_partition_tokens``). Returns
    ``(token_by_tc, n_parts)`` or None for an empty input. Equal-count
    contiguous ranges over a seeded sample are exactly what
    ``repartitionByRange``'s reservoir sampling produced — minus its full
    evaluation of the child plan (the expensive codes UDF) just to pick
    boundaries."""
    cnt = df.count()  # cheap: no UDF in this plan
    if cnt == 0:
        return None
    fraction = min(1.0, max(0.01, 20000.0 / cnt))
    sample = df.sample(fraction=fraction, seed=20260818) if fraction < 1.0 else df
    hist = (
        lsh_exploded_index_frame(sample, n_tables, n_planes, id_col, vec_col)
        .groupBy("tc")
        .count()
        .collect()
    )
    if not hist:
        return None
    counts = sorted((int(r["tc"]), int(r["count"])) for r in hist)
    n_parts = max(1, min(n_shards, len(counts)))
    total = float(sum(c for _, c in counts))
    # walk tc in order, advancing to the next shard when the cumulative
    # weight crosses the next equal-count cut — same contiguous ranges a
    # range partitioner derives from its sample
    cuts: list[int] = []  # first tc of shard s+1
    acc, s = 0.0, 0
    for tc, c in counts:
        if s + 1 < n_parts and acc >= (s + 1) * total / n_parts:
            cuts.append(tc)
            s += 1
        acc += c
    tokens = _partition_tokens(spark, n_parts)
    domain = n_tables << n_planes
    token_by_tc: list[int] = []
    import bisect

    for tc in range(domain):
        token_by_tc.append(tokens[bisect.bisect_right(cuts, tc)])
    return token_by_tc, n_parts


def build_lsh_sharded_index(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    n_tables: int = N_TABLES_SHARDED,
    n_planes: int = N_PLANES,
    n_shards: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Materialize the sharded index: partition the postings by ``tc``
    into ``n_shards`` contiguous shards, sort within each
    (``graft.cluster.by`` — map-side, no extra shuffle), one commit-logged
    write. File count scales with corpus size (``n_shards`` per rewrite),
    probe IO stays O(probed buckets) — size shards so one shard ~= one
    target-size parquet file. ``n_tables`` and ``n_planes`` are stored as
    table properties, where every probe reads them."""
    from delta_lake_optimizations_spark.table import GraftTable

    # The contiguous tc ranges come from a SAMPLED histogram (codes UDF over
    # ~20k rows) plus a deterministic tc -> partition-token lookup, and the
    # frame is hash-repartitioned on the token: the full-corpus codes UDF
    # runs exactly once, feeding the write's exchange directly.
    # repartitionByRange gives the same layout, but its boundary sampling
    # evaluates the whole child plan (the UDF) a second time — it is only
    # the fallback when no histogram could be drawn.
    frame = lsh_exploded_index_frame(df, n_tables, n_planes, id_col, vec_col)
    mapping = _tc_shard_token_map(
        spark, df, n_tables, n_planes, n_shards, id_col, vec_col
    )
    if mapping is None:
        frame = frame.repartitionByRange(n_shards, "tc")
    else:
        token_by_tc, n_parts = mapping
        # Build the tc -> token lookup as ONE foldable expression:
        # split of a single string literal, constant-folded by Catalyst
        # into one array literal. (F.lit() of a 32768-element Python list
        # costs ~13 s of py4j element-by-element plan construction —
        # measured; the string form is microseconds.) The cast to long
        # matters twice over: Murmur3(int32) != Murmur3(int64), and the
        # partition tokens were chosen by hashing LONGs.
        tok_arr = F.split(
            F.lit(",".join(str(t) for t in token_by_tc)), ","
        ).cast("array<long>")
        frame = (
            frame.withColumn(
                "_shard_tok",
                F.element_at(tok_arr, F.col("tc").cast("int") + 1),
            )
            .repartition(n_parts, "_shard_tok")
            .drop("_shard_tok")
        )
    t = GraftTable(spark, path)
    t.write(
        frame,
        mode="overwrite",
        properties={
            "graft.lsh.nTables": str(n_tables),
            "graft.lsh.nPlanes": str(n_planes),
            "graft.lsh.layout": "sharded",
            "graft.cluster.by": "tc",
            # small row groups: with tc-sorted shards, the pushed IN
            # predicate prunes at row-group granularity inside each file,
            # so file count stays modest while probe decode stays
            # O(probed buckets)
            "graft.parquet.blockSize": str(512 * 1024),
        },
    )
    return t


def multiprobe_code_lists(
    query_vec: list[float],
    probe_hamming: int = PROBE_HAMMING_INDEXED,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
) -> list[list[int]]:
    """Per-table explicit probe-code lists: the query's code plus every
    code within Hamming distance ``probe_hamming`` (driver-side integer
    enumeration — 13 codes/table at h=1, 79 at h=2)."""
    masks = hamming_masks(n_planes, probe_hamming)
    return [[qc ^ m for m in masks] for qc in query_codes(query_vec, n_tables, n_planes)]


def probe_buckets(
    query_vec: list[float],
    probe_hamming: int = PROBE_HAMMING_INDEXED,
    n_tables: int = N_TABLES_SHARDED,
    n_planes: int = N_PLANES,
) -> list[int]:
    """Flat sorted ``tc`` bucket list for the sharded probe."""
    lists = multiprobe_code_lists(query_vec, probe_hamming, n_tables, n_planes)
    return sorted({(t << n_planes) | c for t, probes in enumerate(lists) for c in probes})


def _topk_from_buckets(
    table,
    buckets: list[int],
    query_vec: list[float],
    k: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The sharded probe tail: ONE load whose ``tc IN (buckets)``
    predicate rides min/max file skipping (only shards containing probed
    buckets are read or decoded), dedupe candidates, exact cosine
    re-rank."""
    cand = table.load(skip_where=[("tc", "in", buckets)]).select(id_col, vec_col)
    # A vector can match in up to n_tables tables, so candidates carry
    # duplicates. Deduping BEFORE the re-rank would shuffle every
    # candidate; instead take the top k*n_tables rows (TakeOrderedAndProject
    # — per-partition top-k, driver merge), which provably contain the top
    # k DISTINCT ids (each id occupies <= n_tables slots), then dedupe and
    # cut the now-tiny frame.
    top = topk_cosine(cand, query_vec, k=k * n_tables, id_col=id_col, vec_col=vec_col)
    return (
        top.dropDuplicates([id_col])
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ann_topk_from_sharded(
    table,
    query_vec: list[float],
    k: int = 10,
    probe_hamming: int = PROBE_HAMMING_INDEXED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k from the sharded index over the Hamming<=``probe_hamming``
    ball of the query's codes. Candidate set is identical to the inline
    multi-probe at the index's (n_tables, n_planes) and the same
    ``probe_hamming``."""
    n_tables, n_planes = _dials(table)
    buckets = probe_buckets(query_vec, probe_hamming, n_tables, n_planes)
    return _topk_from_buckets(table, buckets, query_vec, k, n_tables, id_col, vec_col)


def sharded_probe_files_scanned(
    table,
    query_vec: list[float],
    probe_hamming: int = PROBE_HAMMING_INDEXED,
) -> int:
    """Index files the probe reads (driver-side metadata pruning count —
    the measured IO-pruning claim)."""
    buckets = probe_buckets(query_vec, probe_hamming, *_dials(table))
    return table.files_scanned(skip_where=[("tc", "in", buckets)])


def _cached_sharded_index(
    spark: SparkSession, sf_dir: str, n_tables: int = N_TABLES_SHARDED
):
    """Build-once-per-corpus sharded index (see ``catalog.cached_table``);
    ``n_tables`` is part of the cache key."""
    return cached_table(
        spark,
        sf_dir,
        f"sharded|{n_tables}x{N_PLANES}",
        lambda path: build_lsh_sharded_index(
            spark,
            load_table(spark, sf_dir, "embeddings"),
            path,
            n_tables=n_tables,
            n_shards=32,
        ),
        "spark_graft_lsh_sharded",
    )


@query("ann_lsh_topk_sharded", tags=("similarity", "approx", "index"))
def ann_lsh_topk_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 for vec_id=0 from the SHARDED LSH index: the
    probe is one ``tc IN (buckets)`` load that rides min/max file
    skipping, so at scale the query reads O(candidates) files instead of
    scanning the corpus. (Rows-only driver check;
    ``ann_lsh_sharded_matches_inline`` is the oracle-backed equivalence
    metric at the same dial.)"""
    t = _cached_sharded_index(spark, sf_dir)
    qv = query_vector(spark, sf_dir, 0)
    return ann_topk_from_sharded(t, qv, k=10)


# ---------------------------------------------------------------------------
# Margin-ranked multi-probe (the public Multi-Probe LSH design:
# Lv/Josephson/Wang/Charikar/Li, VLDB 2007)
# ---------------------------------------------------------------------------
#
# A blind Hamming<=h ball treats every bit flip as equally likely to
# recover a lost neighbor — but the query KNOWS how close it sits to each
# cutting hyperplane: a near-zero dot product means that bit is a coin
# flip for true neighbors, a large-|dot| bit almost never differs. Ranking
# candidate codes by the sum of |margin| over flipped planes and probing
# the best-B spends the same candidate budget on the most probable
# buckets: e.g. flipping the TWO lowest-margin planes often outranks
# flipping one high-margin plane, which a Hamming ball cannot express.
# Probe enumeration is driver-side integer/heap work on a query constant
# (no Spark job); the probe itself is the same single ``tc IN (buckets)``
# load, so the scale story (file skipping, O(candidates) IO) is unchanged.


def query_margins(
    query_vec: list[float],
    n_tables: int = N_TABLES_SHARDED,
    n_planes: int = N_PLANES,
) -> list[tuple[int, list[float]]]:
    """Per-table ``(code, margins)``: the query's packed sign code plus
    ``|dot(query, plane)|`` for every plane — how firmly the query sits on
    its side of each cutting hyperplane. Driver-side arithmetic on a query
    constant; no Spark job."""
    out: list[tuple[int, list[float]]] = []
    for t in range(n_tables):
        code, margins = 0, []
        for i in range(n_planes):
            hp = _hyperplane(len(query_vec), t * n_planes + i)
            d = sum(float(a) * float(p) for a, p in zip(query_vec, hp))
            if d >= 0:
                code |= 1 << i
            margins.append(abs(d))
        out.append((code, margins))
    return out


def ranked_probe_lists(
    query_vec: list[float],
    budget: int,
    n_tables: int = N_TABLES_SHARDED,
    n_planes: int = N_PLANES,
) -> list[list[int]]:
    """Per-table probe codes, best-first: the exact code, then flip sets
    in nondecreasing sum of flipped-plane margins, truncated at ``budget``
    codes per table. Flip sets are enumerated lazily with the classic
    min-heap successor scheme over margin-sorted planes (pop a set, push
    its 'extend by next plane' and 'shift last to next plane' successors),
    which yields every subset exactly once in score order — so the first
    B codes ARE the B most plausible buckets, not a Hamming ball."""
    import heapq

    out: list[list[int]] = []
    for code, margins in query_margins(query_vec, n_tables, n_planes):
        order = sorted(range(n_planes), key=lambda i: (margins[i], i))
        m = [margins[i] for i in order]
        probes = [code]
        heap: list[tuple[float, tuple[int, ...]]] = [(m[0], (0,))]
        while heap and len(probes) < budget:
            score, subset = heapq.heappop(heap)
            flip = 0
            for si in subset:
                flip |= 1 << order[si]
            probes.append(code ^ flip)
            last = subset[-1]
            if last + 1 < n_planes:
                heapq.heappush(heap, (score + m[last + 1], subset + (last + 1,)))
                heapq.heappush(
                    heap, (score - m[last] + m[last + 1], subset[:-1] + (last + 1,))
                )
        out.append(probes)
    return out


def probe_buckets_ranked(
    query_vec: list[float],
    budget: int,
    n_tables: int = N_TABLES_SHARDED,
    n_planes: int = N_PLANES,
) -> list[int]:
    """Flat sorted ``tc`` bucket list for a margin-ranked sharded probe."""
    lists = ranked_probe_lists(query_vec, budget, n_tables, n_planes)
    return sorted({(t << n_planes) | c for t, probes in enumerate(lists) for c in probes})


#: ranked-probe budget matched to the Hamming<=1 ball (1 exact + n_planes
#: single flips = 13 codes/table at 12 planes): same candidate budget,
#: better-chosen buckets.
RANKED_BUDGET = N_PLANES + 1


def ann_topk_from_sharded_ranked(
    table,
    query_vec: list[float],
    k: int = 10,
    budget: int = RANKED_BUDGET,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k from the sharded index with margin-ranked probes: the same
    probe tail as ``ann_topk_from_sharded`` — only the bucket list is
    chosen by margin rank instead of a blind Hamming ball."""
    n_tables, n_planes = _dials(table)
    buckets = probe_buckets_ranked(query_vec, budget, n_tables, n_planes)
    return _topk_from_buckets(table, buckets, query_vec, k, n_tables, id_col, vec_col)


@query("ann_lsh_topk_sharded_ranked", tags=("similarity", "approx", "index"))
def ann_lsh_topk_sharded_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 for vec_id=0 from the sharded LSH index with
    MARGIN-RANKED multi-probe at the Hamming<=1-equivalent budget (8
    tables, 13 codes/table): same probe cost, buckets chosen by the
    query's hyperplane margins (Multi-Probe LSH, VLDB'07). At this dial
    recall@10 on the uniform fixture corpus is only 0.1-0.5 (LSH's worst
    case), so this query is checked for rows only. Its oracle-backed metric,
    ``ann_lsh_ranked_recall`` in operators/metrics.py, measures the same
    ranked probe on a 16-table sharded index at budget 79."""
    t = _cached_sharded_index(spark, sf_dir)
    qv = query_vector(spark, sf_dir, 0)
    return ann_topk_from_sharded_ranked(t, qv, k=10)


def append_to_lsh_sharded_index(
    table, df: DataFrame, extra_parameters: dict | None = None
) -> None:
    """Absorb new vectors into an existing sharded index WITHOUT a
    rebuild: compute the new rows' postings (narrow pass over just the
    increment) and commit-log append them. Config (tables/planes) comes
    from the table properties, so appended codes are consistent with the
    stored ones by construction.

    Freshly appended files cover wide tc ranges (the increment isn't
    re-sharded), so probes read them until the next
    ``optimize(table, zorder_by=["tc"])`` restores tight per-file ranges
    — the classic LSM-ish trade: cheap ingest, periodic re-cluster,
    correctness never depends on the maintenance having run (the probe's
    IN filter still applies row-level)."""
    frame = lsh_exploded_index_frame(df, *_dials(table))
    table.write(frame, mode="append", extra_parameters=extra_parameters)


# ---------------------------------------------------------------------------
# Batch k-NN JOIN answered from the sharded index
# ---------------------------------------------------------------------------


def knn_join_from_sharded(
    table,
    queries: DataFrame,
    k: int = 3,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k neighbours from the sharded index for EVERY row of a query
    batch — the amortized retrieval shape (the single-query probe can't
    amortize scan setup over thousands of lookups; a join can).

    Plan: (1) query codes via the Arrow numpy pass, exploded to probe
    postings ``(src_id, tc)`` with the Hamming<=``probe_hamming`` XOR
    masks — all in-plan; (2) the DISTINCT probed buckets are collected
    driver-side (bounded by ``n_tables * 2^n_planes`` ints, NOT by query
    count) and drive one file-skipped index load, so a selective query
    batch reads only the shards its buckets live in; (3) the probe keys
    (two ints per posting) broadcast-join the pruned index on ``tc`` —
    the index side never shuffles; (4) ONE fact shuffle on ``src_id``
    that the pair dedupe (subset-key clustering) and the per-query
    top-k window both reuse; query vectors rejoin by broadcast for the
    exact cosine re-rank.

    Candidate pairs are IDENTICAL to the inline self-join
    (``similarity.knn_join_lsh_multitable``) at the index's
    (n_tables, n_planes) and the same probe_hamming: both admit (s, c) iff
    some table's stored code for c equals a probed code of s — pinned by
    the ``knn_join_sharded_matches_inline`` metric.

    Scale note: the query batch broadcasts twice (probe keys, then
    vectors) — right for retrieval batches up to ~1M queries; a
    corpus-scale self-join should use the shuffle-based inline form
    instead."""
    from pyspark.sql import Window

    n_tables, n_planes = _dials(table)
    codes = _codes_pandas_udf(n_tables, n_planes)
    masks = hamming_masks(n_planes, probe_hamming)
    probes = (
        queries.select(
            F.col(id_col).alias("src_id"), codes(F.col(vec_col)).alias("_codes")
        )
        .select("src_id", F.posexplode("_codes").alias("_tbl", "_code"))
        .withColumn("_mask", F.explode(F.array(*[F.lit(m).cast("long") for m in masks])))
        .select(
            "src_id",
            F.shiftleft(F.col("_tbl").cast("long"), n_planes)
            .bitwiseOR(F.col("_code").bitwiseXOR(F.col("_mask")))
            .alias("tc"),
        )
    )
    tcs = sorted(r[0] for r in probes.select("tc").distinct().collect())
    # Norms project once: the candidate norm per scanned row (below the
    # probe join, reused across fanout), query norms in the tiny broadcast
    # relation. Per-pair work is the dot alone, and the fact shuffle stays
    # the slim (src_id, nbr_id, cos_sim) triple.
    cand = table.load(skip_where=[("tc", "in", tcs)]).select(
        "tc",
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("_nv"),
        norm_col(F.col(vec_col)).alias("_nn"),
    )
    pairs = cand.join(F.broadcast(probes), "tc")
    if exclude_self:
        pairs = pairs.filter(F.col("src_id") != F.col("nbr_id"))
    qvecs = queries.select(
        F.col(id_col).alias("_sid2"),
        F.col(vec_col).alias("_qv"),
        norm_col(F.col(vec_col)).alias("_qn"),
    )
    # cosine computes MAP-SIDE (query vectors rejoin by broadcast before
    # any exchange), so the fact shuffle carries (src_id, nbr_id,
    # cos_sim) — ~24 bytes/row instead of the full float vector (~20x
    # slimmer; a shuffle of candidate vectors dominated the batch probe).
    # A pair surfaces once per agreeing table (<= n_tables duplicates)
    # with an identical score, so max() is pure dedupe — and groupBy gives
    # it a map-side partial combine, shrinking duplicates before they ever
    # ship. The per-query top-k window then re-clusters the DEDUPED slim
    # rows (second exchange, but of k-ish rows per query, not candidates).
    w = Window.partitionBy("src_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        pairs.join(F.broadcast(qvecs), F.col("src_id") == F.col("_sid2"))
        .select(
            "src_id",
            "nbr_id",
            F.round(
                cosine_with_norms(
                    F.col("_qv"), F.col("_nv"), F.col("_qn"), F.col("_nn")
                ),
                6,
            ).alias("cos_sim"),
        )
        .groupBy("src_id", "nbr_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ann_topk_batch_from_sharded(
    table,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    probe_hamming: int = PROBE_HAMMING_INDEXED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k for a BATCH of query vectors from the sharded index in ONE
    plan (columns ``src_id, nbr_id, cos_sim``): thin wrapper putting the
    (qid, vector) batch through ``knn_join_from_sharded`` with self-rows
    kept — the amortized probe shape (one pruned index load + one plan
    for Q queries; the single-query probe pays scan setup Q times)."""
    spark = table.spark
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in queries],
        f"{id_col} long, {vec_col} array<float>",
    )
    return knn_join_from_sharded(
        table,
        qdf,
        k=k,
        probe_hamming=probe_hamming,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=False,
    )


@query("knn_join_sharded_indexed", tags=("similarity", "approx", "knn", "index"))
def knn_join_sharded_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 3-NN JOIN for the whole embeddings corpus answered
    from the materialized sharded index (8x12, Hamming<=1). (Rows-only
    driver check; ``knn_join_sharded_matches_inline`` in
    operators/metrics.py is the oracle-backed equality twin.)"""
    t = _cached_sharded_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join_from_sharded(t, emb, k=3)
