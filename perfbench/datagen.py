"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of ``(seed, sizes)``:

* ``write_tables`` writes the ten tables the registry queries read
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``) as
  one parquet file each, with the schemas and value ranges of the
  repository's testdata (TESTDATA.md), so the registry queries and their
  DuckDB oracles run on them unchanged.
* ``write_raw_model_output`` writes daily classic NetCDF-3 files of
  three-hourly ``temp``/``salt`` fields with the package's own codec and
  returns the daily means of ``temp - 0.5*salt`` the CMOR pipeline must
  reproduce.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["key", "agg", "row", "scan", "slow", "fast", "table", "value",
         "part", "hash", "merge", "batch", "spark", "a", "the", "line",
         "sort", "window", "join", "filter", "group", "order", "query",
         "stream", "vector", "column", "data", "big", "small", "customer"]
LANGS = ["en", "en", "en", "en", "fr", "de", "es", "zh"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLOURS = ["red", "blue", "green", "small", "large", "black", "white",
           "steel", "brass", "tin", "shiny", "matte", "rough"]
NOUNS = ["ring", "widget", "bolt", "anvil", "gear"]

#: table sizes of the sf0.001 testdata; workloads override some
SMOKE_SIZES = {"customer": 150, "supplier": 10, "part": 200,
               "orders": 1500, "lineitem": 6000, "events": 1000,
               "documents": 500, "embeddings": 500}

_DAY_US = 86_400_000_000


def _days(start: date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"),
                    pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-VOCAB texts, 8-100 words, with exact and one-word-edit
    duplicate families so the dedup and near-dup rows find pairs."""
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < 0.08:
            text = texts[rng.integers(len(texts))]
        elif texts and r < 0.16:
            words = texts[rng.integers(len(texts))].split(" ")
            words[rng.integers(len(words))] = VOCAB[rng.integers(len(VOCAB))]
            text = " ".join(words)
        else:
            idx = rng.integers(len(VOCAB), size=rng.integers(8, 101))
            text = " ".join(VOCAB[i] for i in idx)
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(len(LANGS), size=n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(seed: int, sizes: dict) -> dict[str, pa.Table]:
    """The ten registry tables for ``seed`` at ``sizes`` (rows per table;
    region and nation are fixed)."""
    rng = np.random.default_rng(seed)
    n = {**SMOKE_SIZES, **sizes}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(25, size=nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(5, size=nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(25, size=ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    keys = np.arange(npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{COLOURS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(len(COLOURS), size=npart),
                       rng.integers(len(NOUNS), size=npart))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, size=npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(6, size=npart)],
        "p_size": pa.array(rng.integers(1, 51, size=npart), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(nc, size=no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(3, size=no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(date(1995, 1, 1), rng.integers(0, 2404, size=no)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(5, size=no)]})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(no, size=nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(npart, size=nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(ns, size=nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, size=nl).astype("f8"),
        "l_extendedprice": _money(rng, 901.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, size=nl) / 100.0,
        "l_tax": rng.integers(0, 9, size=nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(3, size=nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(2, size=nl)],
        "l_shipdate": _days(date(1995, 1, 2), rng.integers(0, 2498, size=nl))})
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, size=ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(150, size=ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(5, size=ne)],
        "value": np.clip(np.round(rng.exponential(50.0, ne), 2), 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(100, size=ne)]})
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype("f4")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(10, size=nv), pa.int32())})
    return t


def write_tables(seed: int, sizes: dict, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in make_tables(seed, sizes).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def write_raw_model_output(seed: int, out_dir: str, n_days: int,
                           steps: int, levels: int, nj: int, ni: int):
    """Write ``n_days`` daily files ``ocean_daily_YYYYMMDD.nc``, each with
    ``steps`` equally spaced time steps of ``temp`` and ``salt`` on a
    (levels, nj, ni) grid.  Returns ``(paths, expected)`` where
    ``expected[d]`` is day ``d``'s mean of ``temp - 0.5*salt``."""
    from access_mopper_spark.sources.netcdf3 import write_netcdf3

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    shape = (steps, levels, nj, ni)
    epoch_day = (date(1996, 1, 1) - date(1970, 1, 1)).days
    paths, expected = [], []
    for d in range(n_days):
        temp = 15.0 + rng.standard_normal(shape)
        salt = 35.0 + rng.standard_normal(shape)
        day = date(1996, 1, 1) + timedelta(days=d)
        path = os.path.join(out_dir, f"ocean_daily_{day:%Y%m%d}.nc")
        write_netcdf3(
            path,
            dims={"time": steps, "lev": levels, "j": nj, "i": ni},
            variables={
                "time": (("time",), epoch_day + d + np.arange(steps) / steps,
                         {"units": "days since 1970-01-01"}),
                "lev": (("lev",), np.arange(levels, dtype="i4"), {}),
                "j": (("j",), np.arange(nj, dtype="i4"), {}),
                "i": (("i",), np.arange(ni, dtype="i4"), {}),
                "temp": (("time", "lev", "j", "i"), temp, {"units": "degC"}),
                "salt": (("time", "lev", "j", "i"), salt, {"units": "psu"}),
            },
            gatts={"title": "perfbench raw model output"},
            record_dim="time")
        paths.append(path)
        expected.append((temp - 0.5 * salt).mean(axis=0))
    return paths, np.stack(expected)
