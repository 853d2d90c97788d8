"""Seeded input generators: the same seed writes the same rows.

The relational corpus follows the schemas and value domains of the
repository's test corpus (``FIXTURES.md`` part B): one parquet file per
table, ``catalog.load_table`` layout, timestamps as microsecond
``TIMESTAMP``.  Generation is NumPy + pyarrow, so it costs no Spark job.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

#: documents: (lang, vocabulary); English carries the stopwords the
#: language tagger and quality filters key on
DOC_VOCAB = {
    "en": "the a and of to is in it on for data table query spark join scan row column "
    "merge batch stream window order group filter sort key value part line customer "
    "vector hash agg fast slow big small".split(),
    "es": "el la de que los y en un una datos tabla consulta fila columna orden grupo "
    "valor parte linea cliente rapido lento grande".split(),
    "fr": "le les des est une et en un de donnees table requete ligne colonne ordre "
    "groupe valeur partie client rapide lent grand".split(),
    "de": "der die und ist das ein eine mit daten tabelle abfrage zeile spalte ordnung "
    "gruppe wert teil kunde schnell langsam gross".split(),
}

#: synthetic words per language beside the vocabulary above, so random
#: texts share few word 3-grams and the near-duplicate graph stays empty
DOC_EXTRA_WORDS = 400

_DAY_US = 86_400 * 1_000_000


def _ts(d: datetime) -> int:
    return (d - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def _letters(k: int) -> str:
    """``k`` spelled in base 26 with letters, so synthetic words stay
    alphabetic (the curation quality filters count letters)."""
    out = ""
    while True:
        k, r = divmod(k, 26)
        out += chr(97 + r)
        if not k:
            return out


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def write_tpch(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """TPC-H-shaped star schema plus ``events`` at scale factor ``sf``
    (lineitem ~6M x sf rows). Returns table -> bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_events = int(200_000 * sf), int(1_500_000 * sf), int(1_000_000 * sf)
    out = {}
    out["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)})
    out["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    out["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    names = np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                        np.array(PART_NOUN)[rng.integers(0, 8, n_part)])
    out["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price)})
    odate = rng.integers(_ts(datetime(1995, 1, 1)) // _DAY_US, _ts(datetime(2001, 8, 1)) // _DAY_US + 1, n_ord)
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * price[l_part], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = odate[l_order] + rng.integers(1, 122, n_li)
    total = np.round(np.bincount(l_order, weights=ext * (1 - disc) * (1 + tax), minlength=n_ord), 2)
    out["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(total),
        "o_orderdate": pa.array(odate * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    out["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(l_part.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(tax),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship * _DAY_US, pa.timestamp("us"))})
    ev_ts = _ts(datetime(2024, 1, 1)) + np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    out["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1000, n_events).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.uniform(0, 100, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})
    return out


def write_documents(out_dir: str, seed: int, n_distinct: int, replicas: int) -> int:
    """``documents.parquet``: ``n_distinct`` seeded bag-of-words texts, each
    stored ``replicas`` times under fresh ids, so (replicas-1)/replicas of
    the rows are exact duplicates. Returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    langs = np.array(["en"] * 6 + ["es", "fr", "de"])[rng.integers(0, 9, n_distinct)]
    texts = []
    for lang in langs:
        vocab = DOC_VOCAB[lang] + [lang + _letters(k) for k in range(DOC_EXTRA_WORDS)]
        texts.append(" ".join(vocab[k] for k in rng.integers(0, len(vocab), int(rng.integers(40, 100)))))
    order = np.argsort(rng.random(n_distinct * replicas), kind="stable")
    src = np.tile(np.arange(n_distinct), replicas)[order]
    text_col = [texts[i] for i in src]
    return _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(len(src), dtype=np.int64)),
        "text": pa.array(text_col),
        "lang": pa.array(langs[src]),
        "source": pa.array([f"src{i % 20}" for i in src]),
        "n_chars": pa.array(np.array([len(t) for t in text_col], dtype=np.int64))})


def dir_bytes(root: str) -> dict[str, int]:
    """Relative path -> size for every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out
