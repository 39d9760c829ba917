"""Deterministic query tables for the ``curation_corpus`` and
``warehouse_queries`` workloads.

Writes one parquet file per table with the schemas, row counts per scale
factor and value domains of the engine's reference test data. As in that
data, every column is an independent draw (uniform over its domain unless
noted), so ``l_shipdate`` is not tied to ``o_orderdate``:

- TPC-H-shaped ``region``, ``nation``, ``customer``, ``supplier``, ``part``,
  ``orders`` and ``lineitem`` (6M x sf lineitem rows);
- ``events``: a 30-day click stream, five event types, exponential
  ``value`` (mean 50), a ``{"k": n}`` JSON ``props`` string (1M x sf rows);
- ``documents``: a 30-word vocabulary with a rare ``dup`` token, 10-100
  words per document, five languages (``en`` 40%), twenty sources, a few
  exact duplicate texts (50k x sf rows);
- ``embeddings``: unit-norm 64-dimensional float vectors with ten labels
  (20k x sf rows).

The tables depend on ``sf`` and ``DATA_SEED`` only, never on a run's
``--seed`` (which permutes query order), so one set of recorded output
digests checks every run.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = 3   # bump when the generated content changes

_WORDS = ("a the data spark stream batch window join group agg key value row "
          "column table part order line customer query scan filter sort "
          "hash merge vector fast slow big small").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _pick(rng, values, n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from ``start``..``end``."""
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _corpus(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    k = int(50_000 * sf)
    words = np.array(_WORDS)
    texts = []
    for _ in range(k):
        doc = words[rng.integers(0, len(words), int(rng.integers(10, 101)))]
        doc[rng.random(len(doc)) < 0.001] = "dup"
        texts.append(" ".join(doc))
    for i in rng.choice(k, max(1, k // 600), replace=False):
        texts[i] = texts[(i + 1) % k]          # exact duplicate documents
    documents = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), k, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    k = int(20_000 * sf)
    v = rng.standard_normal((k, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, k).astype(np.int32)})
    return {"documents": documents, "embeddings": embeddings}


def _warehouse(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED + 1)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = np.int32
    region = pa.table({"r_regionkey": np.arange(5, dtype=i32),
                       "r_name": _REGIONS})
    nation = pa.table({"n_nationkey": np.arange(25, dtype=i32),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": (np.arange(25) % 5).astype(i32)})
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(_pick(rng, _ADJ, n_part), " "),
                              _pick(rng, _NOUN, n_part)),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_evt))
    events = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(t0 + offsets.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_evt)
        .astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}


def build(sf: float) -> dict[str, pa.Table]:
    return {**_corpus(sf), **_warehouse(sf)}


def ensure(root: str, sf: float) -> str:
    """The table directory for ``sf`` under ``root``, generated once per
    checkout (written beside, then renamed into place)."""
    path = os.path.join(root, f"sf{sf}-v{VERSION}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, path)
    return path
