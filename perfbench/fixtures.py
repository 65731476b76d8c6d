"""Deterministic TPC-H-shaped fixture tables for the benchmark.

The benchmark owns its inputs so that a change to the program's own
fixture tools cannot change what the benchmark measures. Tables have the
schemas the registry queries read (``gpdb_spark.catalog.FIXTURE_TABLES``);
``scale=1.0`` gives the row counts of the sf0.01 fixtures. Every value
comes from ``numpy.random.default_rng(DATA_SEED)``, so two checkouts
write identical tables.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261016

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PNOUNS = ["bolt", "widget", "rod", "anvil", "ring", "gear", "plate", "cog"]
PADJS = ["small", "old", "new", "blue", "cold", "big", "red", "dim"]
ETYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
# 'vector' and 'dup' are predicate words of the fulltext and near-dup
# queries; without them those queries return no rows.
WORDS = (
    "key agg row scan slow fast table value part hash merge batch line sort "
    "window spark order data column join small customer query big the a group "
    "filter stream vector"
).split()

DAY_US = 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(scale: float) -> dict[str, dict]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = int(500 * scale), int(500 * scale)
    out: dict[str, dict] = {}
    out["region"] = dict(
        r_regionkey=pa.array(range(5), pa.int32()), r_name=REGIONS)
    out["nation"] = dict(
        n_nationkey=pa.array(range(25), pa.int32()),
        n_name=[f"NATION_{i}" for i in range(25)],
        n_regionkey=pa.array([i % 5 for i in range(25)], pa.int32()),
    )
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    out["customer"] = dict(
        c_custkey=ck,
        c_name=[f"Customer#{k:09d}" for k in ck],
        c_nationkey=pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        c_acctbal=_money(rng, n_cust, -999.99, 9999.99),
        c_mktsegment=[SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    )
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    out["supplier"] = dict(
        s_suppkey=sk,
        s_name=[f"Supplier#{k:09d}" for k in sk],
        s_nationkey=pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        s_acctbal=_money(rng, n_supp, -999.99, 9999.99),
    )
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    out["part"] = dict(
        p_partkey=pk,
        p_name=[f"{PADJS[a]} {PNOUNS[b]}" for a, b in
                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        p_brand=[f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        p_type=[PTYPES[i] for i in rng.integers(0, 6, n_part)],
        p_size=pa.array(rng.integers(1, 51, n_part), pa.int32()),
        p_retailprice=_money(rng, n_part, 900.0, 2100.0),
    )
    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    epoch_1995 = np.datetime64("1995-01-01", "us").astype("int64")
    odate = epoch_1995 + rng.integers(0, 2405, n_ord) * DAY_US
    out["orders"] = dict(
        o_orderkey=ok,
        o_custkey=rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        o_orderstatus=[["F", "O", "P"][i] for i in
                       rng.choice(3, n_ord, p=[0.48, 0.48, 0.04])],
        o_totalprice=_money(rng, n_ord, 900.0, 480000.0),
        o_orderdate=pa.array(odate, pa.timestamp("us")),
        o_orderpriority=[PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    )
    li_ok = np.sort(rng.integers(1, n_ord + 1, n_li).astype(np.int64))
    # line numbers restart at 1 for every order key
    starts = np.r_[0, np.flatnonzero(np.diff(li_ok)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n_li]))
    linenumber = (np.arange(n_li) - run_start + 1).astype(np.int32)
    out["lineitem"] = dict(
        l_orderkey=li_ok,
        l_partkey=rng.integers(1, n_part + 1, n_li).astype(np.int64),
        l_suppkey=rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        l_linenumber=pa.array(linenumber, pa.int32()),
        l_quantity=rng.integers(1, 51, n_li).astype(np.float64),
        l_extendedprice=_money(rng, n_li, 900.0, 105000.0),
        l_discount=np.round(rng.uniform(0.0, 0.10, n_li), 2),
        l_tax=np.round(rng.uniform(0.0, 0.08, n_li), 2),
        l_returnflag=[["R", "A", "N"][i] for i in
                      rng.choice(3, n_li, p=[0.25, 0.25, 0.5])],
        l_linestatus=[["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        l_shipdate=pa.array(odate[li_ok - 1] + rng.integers(1, 122, n_li) * DAY_US,
                            pa.timestamp("us")),
    )
    epoch_2024 = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(epoch_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = dict(
        event_id=np.arange(1, n_ev + 1, dtype=np.int64),
        ts=pa.array(ts, pa.timestamp("us")),
        user_id=rng.integers(1, 301, n_ev).astype(np.int64),
        event_type=[ETYPES[i] for i in rng.integers(0, 5, n_ev)],
        value=_money(rng, n_ev, 0.01, 490.02),
        props=[json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    )
    texts = []
    for _ in range(n_doc):
        words = rng.integers(0, len(WORDS), int(rng.integers(5, 120)))
        texts.append(" ".join(WORDS[j] for j in words))
    # exact duplicate pairs carrying the rare 'dup' marker token, so the
    # near-duplicate queries have real positives to find
    for i in range(0, n_doc, 37):
        j = (i + 11) % n_doc
        texts[j] = texts[j] + " dup"
        texts[i] = texts[j]
    out["documents"] = dict(
        doc_id=np.arange(1, n_doc + 1, dtype=np.int64),
        text=texts,
        lang=[LANGS[i] for i in rng.integers(0, 5, n_doc)],
        source=[f"src{i}" for i in rng.integers(0, 20, n_doc)],
        n_chars=np.array([len(t) for t in texts], dtype=np.int64),
    )
    emb = rng.normal(0, 1, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = dict(
        vec_id=np.arange(1, n_emb + 1, dtype=np.int64),
        embedding=pa.array([list(map(float, row)) for row in emb],
                           pa.list_(pa.float32())),
        label=pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    )
    return out


def ensure(root: str, scale: float) -> str:
    """Write the fixture set for ``scale`` under ``root`` once and return
    its directory. The set is written to a temporary directory and renamed
    into place, so an interrupted run never leaves a partial set behind."""
    final = os.path.join(root, f"scale{scale:g}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in _tables(scale).items():
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, final)
    return final
