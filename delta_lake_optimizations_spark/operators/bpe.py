"""Byte-pair-encoding tokenizer + token-budget sequence packing
(SURVEY §2.9 X7 upgrade — VERDICT r06 #3).

``packing.pack_sequences`` budgets sequences by WHITESPACE token counts;
real training pipelines pack BPE tokens. This module implements the
public Sennrich et al. 2016 algorithm ("Neural Machine Translation of
Rare Words with Subword Units") with the standard word-level
pre-tokenization (GPT-2-style: merges never cross word boundaries),
split Spark-first:

- **train** (``train_bpe``): the only corpus-scale step is ONE
  distributed word-frequency aggregate (explode + groupBy — a single
  shuffle); the merge loop then runs driver-side over the word-count
  DICTIONARY (size = distinct words, not corpus size — the same
  "train from word counts" shortcut every production BPE trainer
  uses), with deterministic tie-breaking (max pair count, then
  lexicographic pair) so the same corpus always yields the same
  merges. ``max_words`` caps the dictionary at the top-K words for
  web-scale corpora — rare-word tails contribute almost nothing to
  pair statistics.
- **encode** (``encode_tokens`` / ``with_bpe_tokens``): Arrow-batched
  ``pandas_udf`` applying the merge list per word with a per-batch
  word->pieces memo (Zipf makes the memo hit rate enormous); no
  row-at-a-time Python, no driver data.
- **decode** (``decode_tokens``): words carry the classic ``</w>``
  end-of-word marker on their final symbol, so decoding is
  concatenate-then-split — ``decode(encode(t))`` reproduces ``t``
  exactly for whitespace-normalized text (pinned by pytest AND by the
  driver-checked ``bpe_roundtrip_consistency`` metric).
- **packing**: ``pack_sequences`` re-used as-is on the BPE counts —
  the window arithmetic was already scale-correct, only the budget
  currency changes.

Oracle strategy (the part merges can't express in SQL): token COUNTS
are SQL-derivable once the per-word piece counts are persisted — the
registered packing query eagerly writes its word -> n_tokens table to
a parquet sidecar, and the DuckDB oracle re-derives every document's
token count by splitting the text and joining that table, then
re-states the packing windows independently. The encoder itself is
pinned by the round-trip metric + unit tests on hand-computed merges.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.registry import query

EOW = "</w>"

# Sidecar path shared by the registered packing queries and their DuckDB
# oracles (each query WRITES it eagerly before returning, the oracle
# READS it — the driver runs each query before its oracle). Keyed by PID:
# oracle SQL strings are rendered once at import, so the path must be
# stable within a process, but a CONCURRENT run at another scale factor
# (another process) must not overwrite it between this process's query
# and oracle — per-process temp dirs make that impossible.
# pid alone recycles across reboots (stale parquet from a previous boot
# could alias a reused PID), so the key also carries the process start
# time; atexit removes the directory so sidecars don't accumulate one
# per process in the system tempdir.
def _proc_key() -> str:
    try:
        with open(f"/proc/{os.getpid()}/stat") as fh:
            starttime = fh.read().rsplit(")", 1)[1].split()[19]
    except OSError:
        starttime = "0"
    return f"{os.getpid()}_{starttime}"


_SIDECAR_DIR = os.path.join(
    tempfile.gettempdir(), f"spark_graft_bpe_{_proc_key()}"
)
VOCAB_SIDECAR = os.path.join(_SIDECAR_DIR, "word_tokens.parquet")
atexit.register(shutil.rmtree, _SIDECAR_DIR, ignore_errors=True)


# Pre-tokens longer than this split into fixed-size chunks so a
# whitespace-free script (CJK, Thai, ...) cannot degenerate into
# one whole-sentence "word" (VERDICT r08 #3): without the cap the word
# DICTIONARY the driver-side merge loop holds grows one entry per
# distinct sentence and the pair statistics are useless. 16 chars is the
# SentencePiece max_sentencepiece_length default neighborhood — long
# enough that real whitespace-delimited words are almost never cut.
MAX_WORD_CHARS = 16
# Continuation marker (private-use char): a chunk that is NOT its word's
# last chunk carries it, so the symbolizer withholds </w> and decode
# re-joins the chunks WITHOUT a space — the round trip stays exact.
# (Text that itself contains U+E000 is outside the tokenizer's domain.)
CONT = ""


def pre_tokenize(col: Column) -> Column:
    """Whitespace pre-tokenization (case-preserving — unlike the dedup
    stack's ``tokenize``, a tokenizer must not destroy information), with
    zero-width characters stripped (shared light-normalization tier,
    ``operators/textnorm.py`` — still codegen; identical on zero-width-
    free corpora like the driver's), then fixed 16-char chunking of long
    words (continuation chunks tagged with ``CONT``) — all inside
    whole-stage codegen. Mirrored in the oracle as
    ``string_split_regex`` + ``regexp_extract_all('.{1,16}')`` +
    ``list_transform`` (see the packing queries' SQL)."""
    from delta_lake_optimizations_spark.operators.textnorm import strip_invisible

    words = F.split(F.trim(strip_invisible(F.coalesce(col, F.lit("")))), r"\s+")

    def chunk(w):
        chunks = F.regexp_extract_all(
            w, F.lit(r".{1,%d}" % MAX_WORD_CHARS), F.lit(0)
        )
        n = F.size(chunks)
        return F.transform(
            chunks,
            lambda c, i: F.when(i < n - 1, F.concat(c, F.lit(CONT))).otherwise(c),
        )

    return F.flatten(F.transform(words, chunk))


def _bytes_to_unicode() -> dict[int, str]:
    """GPT-2's byte <-> unicode bijection (Radford et al. 2019; the
    public gpt-2 encoder.py): printable/latin bytes map to themselves,
    the rest shift up to U+0100.., so every byte of any UTF-8 text
    becomes a visible non-whitespace symbol char. Byte-LEVEL symbols
    give a closed base alphabet of 256 — no out-of-vocabulary character
    is possible, and multi-byte scripts (CJK & co) merge their frequent
    byte pairs back into whole characters during training."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(0xA1, 0xAD))
        + list(range(0xAE, 0x100))
    )
    cs = list(bs)
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


_BYTE_ENC = _bytes_to_unicode()
_BYTE_DEC = {c: b for b, c in _BYTE_ENC.items()}


def _py_pre_tokenize(text: str) -> list[str]:
    """Driver/UDF-side mirror of ``pre_tokenize`` (same invisible strip,
    same whitespace split, same chunking) — the two MUST agree or the
    vocab-sidecar token counts drift from the encoder's."""
    from delta_lake_optimizations_spark.operators.textnorm import INVISIBLES

    import re as _re

    t = text or ""
    for ch in INVISIBLES:
        if ch in t:
            t = t.replace(ch, "")
    out: list[str] = []
    # Java/RE2 '\s' is the ASCII whitespace class — match it exactly
    # (Python str.split() would also split on U+00A0/U+3000 and drift)
    for w in (x for x in _re.split("[\\t\\n\\x0b\\f\\r ]+", t) if x):
        if len(w) <= MAX_WORD_CHARS:
            out.append(w)
            continue
        chunks = [
            w[i : i + MAX_WORD_CHARS] for i in range(0, len(w), MAX_WORD_CHARS)
        ]
        out.extend(c + CONT for c in chunks[:-1])
        out.append(chunks[-1])
    return out


@dataclass(frozen=True)
class BpeModel:
    """An ordered merge list IS the model (Sennrich's formulation)."""

    merges: tuple[tuple[str, str], ...]

    def merge_ranks(self) -> dict[tuple[str, str], int]:
        return {pair: i for i, pair in enumerate(self.merges)}


def _word_symbols(word: str) -> list[str]:
    """Initial symbol sequence: GPT-2 byte-unicode symbols (one per UTF-8
    byte — closed 256-symbol base alphabet), the last carrying ``</w>``
    ONLY when this pre-token really ends its word (continuation chunks,
    tagged ``CONT`` by the chunking pre-tokenizer, withhold it so decode
    re-joins them without a space)."""
    if not word:
        return []
    is_final = not word.endswith(CONT)
    core = word if is_final else word[: -len(CONT)]
    if not core:
        return []
    syms = [_BYTE_ENC[b] for b in core.encode("utf-8")]
    if is_final:
        syms[-1] = syms[-1] + EOW
    return syms


def _count_pairs(
    words: dict[tuple[str, ...], int],
) -> dict[tuple[str, str], int]:
    pairs: dict[tuple[str, str], int] = {}
    for syms, cnt in words.items():
        for a, b in zip(syms, syms[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + cnt
    return pairs


def _apply_merge(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """The one corpus-scale step: distributed word frequencies."""
    return (
        df.select(F.explode(pre_tokenize(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int = 200,
    max_words: int | None = None,
) -> BpeModel:
    """Learn ``n_merges`` merges from the corpus (module docstring).
    ``max_words`` keeps only the top-K words by (count desc, word) —
    the web-scale dial; the merge loop is O(dict size) per merge."""
    wc = word_counts(df, text_col)
    if max_words is not None:
        wc = wc.orderBy(F.col("cnt").desc(), F.col("word")).limit(max_words)
    counts = {r["word"]: r["cnt"] for r in wc.collect()}
    words: dict[tuple[str, ...], int] = {}
    for w, c in counts.items():
        syms = tuple(_word_symbols(w))
        words[syms] = words.get(syms, 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = _count_pairs(words)
        if not pairs:
            break
        # deterministic: highest count, then lexicographically first pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        words = {
            _apply_merge(syms, best): cnt for syms, cnt in words.items()
        }
    return BpeModel(merges=tuple(merges))


def cached_bpe_model(spark, sf_dir: str, n_merges: int = 200) -> BpeModel:
    """Train-once-per-corpus model (content-fingerprinted cache key, the
    same scheme as the materialized ANN index caches — a tokenizer is
    index-shaped: built once, served from its artifact, never re-trained
    per query). The merge list persists as a JSON sidecar under the temp
    dir; a production deployment would carry it in a GraftTable's
    properties next to the centroids/codebooks its indexes already keep
    there."""
    import hashlib
    import json

    from delta_lake_optimizations_spark.catalog import corpus_fingerprint, load_table

    key = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}|bpe|{n_merges}|"
        f"{corpus_fingerprint(sf_dir, table='documents')}".encode()
    ).hexdigest()[:16]
    cache_dir = os.path.join(tempfile.gettempdir(), "spark_graft_bpe_model")
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return BpeModel(merges=tuple(tuple(p) for p in json.load(f)))
    model = train_bpe(load_table(spark, sf_dir, "documents"), "text", n_merges)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump([list(p) for p in model.merges], f)
    os.replace(tmp, path)
    return model


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merging — the canonical BPE encoder,
    guaranteed to reproduce training segmentation on training words."""
    syms = _word_symbols(word)
    while len(syms) > 1:
        ranked = [
            (ranks[p], i)
            for i, p in enumerate(zip(syms, syms[1:]))
            if p in ranks
        ]
        if not ranked:
            break
        _, i = min(ranked)
        syms = list(_apply_merge(tuple(syms), (syms[i], syms[i + 1])))
    return syms


def encode_tokens(text: str, model: BpeModel) -> list[str]:
    """Driver-side encode (tests, single documents)."""
    ranks = model.merge_ranks()
    out: list[str] = []
    for w in _py_pre_tokenize(text):
        out.extend(_encode_word(w, ranks))
    return out


def decode_tokens(tokens: list[str]) -> str:
    """Concatenate, split on the end-of-word marker, byte-unmap each
    word (continuation chunks carried no ``</w>``, so a chunked word's
    bytes reassemble into ONE segment before decoding — the chunking is
    invisible in the output), join with single spaces. Exact inverse of
    encode for whitespace-normalized text."""
    s = "".join(tokens)
    segs = s.split(EOW)
    if segs and segs[-1] == "":
        segs = segs[:-1]
    return " ".join(
        bytes(_BYTE_DEC[ch] for ch in seg).decode("utf-8") for seg in segs
    )


def with_bpe_tokens(
    df: DataFrame,
    model: BpeModel,
    text_col: str,
    tokens_col: str = "bpe_tokens",
) -> DataFrame:
    """Append the BPE token array via an Arrow-batched ``pandas_udf``
    with a word->pieces memo shared across each batch."""
    ranks = model.merge_ranks()

    def encode_series(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}
        out = []
        for t in texts:
            toks: list[str] = []
            for w in _py_pre_tokenize(t):
                got = memo.get(w)
                if got is None:
                    got = memo[w] = _encode_word(w, ranks)
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    encode_series.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    udf = F.pandas_udf("array<string>")(encode_series)
    return df.withColumn(tokens_col, udf(F.col(text_col)))


def word_token_counts(df: DataFrame, model: BpeModel, text_col: str) -> DataFrame:
    """(word, n_tokens) for every distinct corpus word — the persisted
    vocab table that makes BPE token counts SQL-derivable (the oracle
    joins it instead of re-running merges)."""
    ranks = model.merge_ranks()

    def count_series(words: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}
        out = []
        for w in words:
            got = memo.get(w)
            if got is None:
                got = memo[w] = len(_encode_word(w, ranks))
            out.append(got)
        return pd.Series(out, dtype="int64")

    count_series.__annotations__ = {"words": pd.Series, "return": pd.Series}
    udf = F.pandas_udf("long")(count_series)
    return (
        word_counts(df, text_col)
        .select("word")
        .withColumn("n_tokens", udf(F.col("word")))
    )


@query(
    "bpe_pack_documents",
    tags=("text", "packing", "bpe", "llm-pipeline"),
    oracle=f"""
        WITH vocab AS (
            SELECT word, n_tokens
            FROM read_parquet('{VOCAB_SIDECAR}/*.parquet')
        ),
        doc_words AS (
            -- whitespace split + the same 16-char chunking as
            -- pre_tokenize (continuation chunks tagged chr(57344))
            SELECT doc_id, source, UNNEST(
                list_transform(
                    regexp_extract_all(w, '.{{1,16}}'),
                    (c, i) -> c || CASE
                        WHEN i < len(regexp_extract_all(w, '.{{1,16}}'))
                        THEN chr(57344) ELSE '' END
                )
            ) AS word
            FROM (
                SELECT doc_id, source, UNNEST(
                    string_split_regex(trim(COALESCE(text, '')), '\\s+')
                ) AS w
                FROM documents
            )
        ),
        doc_tokens AS (
            SELECT d.doc_id,
                   ANY_VALUE(d.source) AS source,
                   CAST(SUM(v.n_tokens) AS BIGINT) AS n_bpe_tokens
            FROM doc_words d
            JOIN vocab v USING (word)
            WHERE d.word <> ''
            GROUP BY d.doc_id
        )
        SELECT
            doc_id,
            source,
            n_bpe_tokens,
            CAST(FLOOR(
                COALESCE(SUM(n_bpe_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) / 256
            ) AS BIGINT) AS pack_id,
            CAST(COALESCE(SUM(n_bpe_tokens) OVER (
                PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0) AS BIGINT) % 256 AS pack_offset
        FROM doc_tokens
    """,
)
def bpe_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-split packing of each source shard into 256-BPE-
    token context windows. The Spark side runs the REAL encoder (merge
    list learned from this corpus, Arrow-batched); the oracle re-derives
    every count from the persisted word -> n_tokens sidecar and re-states
    the packing windows — so the per-word piece counts, the per-document
    sums, and the running-window arithmetic are all value-checked."""
    from delta_lake_optimizations_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    model = cached_bpe_model(spark, sf_dir, n_merges=200)
    # eager sidecar write so the oracle (which runs after this function)
    # can join word -> n_tokens; overwritten per corpus
    word_token_counts(docs, model, "text").write.mode("overwrite").parquet(
        VOCAB_SIDECAR
    )
    toks = (
        with_bpe_tokens(docs, model, "text")
        .withColumn("n_bpe_tokens", F.size("bpe_tokens").cast("long"))
        # the oracle's inner join on vocab drops zero-token (empty/
        # whitespace-only) documents; mirror that here so a corpus with
        # empty docs can't hash-mismatch (bpe_pack_sizes already filters)
        .filter(F.col("n_bpe_tokens") > 0)
    )
    packed = pack_sequences(
        toks, token_col="n_bpe_tokens", order_col="doc_id",
        partition_col="source", budget=256,
    )
    return packed.select("doc_id", "source", "n_bpe_tokens", "pack_id", "pack_offset")


@query(
    "bpe_roundtrip_consistency",
    tags=("text", "bpe", "metric"),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_roundtrip_ok,
               CAST(COUNT(*) AS BIGINT) AS n_count_consistent
        FROM documents
    """,
)
def bpe_roundtrip_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable encoder invariants, per corpus: decoding the
    BPE tokens must reproduce the whitespace-normalized text for EVERY
    document, and the token count must equal the sum of per-word counts
    from the persisted vocab path (the two independent counting routes
    the packing oracle relies on)."""
    docs = load_table(spark, sf_dir, "documents")
    model = cached_bpe_model(spark, sf_dir, n_merges=200)
    toks = with_bpe_tokens(docs, model, "text")
    wtc = word_token_counts(docs, model, "text")
    per_word_sum = (
        docs.select(
            "doc_id", F.explode(pre_tokenize(F.col("text"))).alias("word")
        )
        .filter(F.col("word") != "")
        .join(wtc, "word")
        .groupBy("doc_id")
        .agg(F.sum("n_tokens").alias("_vocab_n"))
    )
    from delta_lake_optimizations_spark.operators.textnorm import (
        strip_invisible,
    )

    normalized = F.trim(
        F.regexp_replace(
            strip_invisible(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "
        )
    )

    def decode_series(token_arrays: pd.Series) -> pd.Series:
        return pd.Series(
            [decode_tokens(list(toks or [])) for toks in token_arrays]
        )

    decode_series.__annotations__ = {
        "token_arrays": pd.Series, "return": pd.Series,
    }
    decode_udf = F.pandas_udf("string")(decode_series)
    checked = (
        toks.withColumn("_decoded", decode_udf(F.col("bpe_tokens")))
        .withColumn("_n", F.size("bpe_tokens").cast("long"))
        .join(per_word_sum, "doc_id", "left")
    )
    return checked.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("_decoded") == normalized, 1).otherwise(0))
        .cast("long")
        .alias("n_roundtrip_ok"),
        F.sum(
            F.when(F.col("_n") == F.coalesce(F.col("_vocab_n"), F.lit(0)), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_count_consistent"),
    )

@query(
    "bpe_pack_sizes",
    tags=("text", "packing", "bpe", "llm-pipeline"),
    oracle=f"""
        WITH vocab AS (
            SELECT word, n_tokens
            FROM read_parquet('{VOCAB_SIDECAR}/*.parquet')
        ),
        doc_words AS (
            -- whitespace split + the same 16-char chunking as
            -- pre_tokenize (continuation chunks tagged chr(57344))
            SELECT doc_id, source, UNNEST(
                list_transform(
                    regexp_extract_all(w, '.{{1,16}}'),
                    (c, i) -> c || CASE
                        WHEN i < len(regexp_extract_all(w, '.{{1,16}}'))
                        THEN chr(57344) ELSE '' END
                )
            ) AS word
            FROM (
                SELECT doc_id, source, UNNEST(
                    string_split_regex(trim(COALESCE(text, '')), '\\s+')
                ) AS w
                FROM documents
            )
        ),
        doc_tokens AS (
            SELECT d.doc_id,
                   ANY_VALUE(d.source) AS source,
                   CAST(SUM(v.n_tokens) AS BIGINT) AS n
            FROM doc_words d
            JOIN vocab v USING (word)
            WHERE d.word <> ''
            GROUP BY d.doc_id
        ),
        spans AS (
            SELECT doc_id, source, n,
                   COALESCE(SUM(n) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM doc_tokens
            WHERE n > 0
        ),
        pieces AS (
            SELECT source,
                   CAST(p.pack_id AS BIGINT) AS pack_id,
                   LEAST(cum_before + n, (p.pack_id + 1) * 256)
                       - GREATEST(cum_before, p.pack_id * 256) AS piece
            FROM spans,
                 LATERAL (
                     SELECT UNNEST(generate_series(
                         CAST(FLOOR(cum_before / 256) AS BIGINT),
                         CAST(FLOOR((cum_before + n - 1) / 256) AS BIGINT)
                     )) AS pack_id
                 ) p
        )
        SELECT source, pack_id,
               CAST(SUM(piece) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pieces
        GROUP BY source, pack_id
    """,
)
def bpe_pack_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numeric proof of concatenate-and-split semantics: documents
    are cut ACROSS pack boundaries, so every (source, pack) must hold
    exactly 256 BPE tokens — except each shard's last pack — and the
    per-pack doc counts expose the straddling. Spark enumerates each
    document's overlapped packs with ``sequence`` + ``explode`` (pure
    codegen off the same running-sum window packing uses); the oracle
    re-derives identically from the persisted vocab sidecar. One window
    shuffle per shard + one aggregate — no corpus-size driver state."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    model = cached_bpe_model(spark, sf_dir, n_merges=200)
    word_token_counts(docs, model, "text").write.mode("overwrite").parquet(
        VOCAB_SIDECAR
    )
    budget = 256
    toks = (
        with_bpe_tokens(docs, model, "text")
        .select(
            "doc_id", "source", F.size("bpe_tokens").cast("long").alias("n")
        )
        .filter(F.col("n") > 0)
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = toks.withColumn(
        "cum_before", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    pieces = spans.select(
        "source",
        F.explode(
            F.sequence(
                F.floor(F.col("cum_before") / budget),
                F.floor((F.col("cum_before") + F.col("n") - 1) / budget),
            )
        ).alias("pack_id"),
        "cum_before",
        "n",
    ).select(
        "source",
        F.col("pack_id").cast("long").alias("pack_id"),
        (
            F.least(
                F.col("cum_before") + F.col("n"),
                (F.col("pack_id") + 1) * budget,
            )
            - F.greatest(F.col("cum_before"), F.col("pack_id") * budget)
        ).alias("piece"),
    )
    return pieces.groupBy("source", "pack_id").agg(
        F.sum("piece").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
