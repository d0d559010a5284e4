"""Seeded input generation for the benchmark workloads.

Every table is synthesized from the ``--seed`` argument alone; the
program under test only ever sees the files written here. Two families:

- ``survey``: a wide respondent table (CSV) plus its codebook, shaped
  like FIXTURES.md sections A1-A3 and widened to many brands per flag
  family. Weights are drawn from multiples of 1/4 so weighted sums are
  exact in binary floating point: Spark and the pandas reference then
  agree on every rounded percentage regardless of summation order.
- ``fixtures``: the ten TPC-H-ish tables the ``queries()`` contract
  reads (FIXTURES.md section B), with the reference fixtures' schemas,
  value domains and shape: 4 lineitems per order, events ordered by
  time, about 5 % near-duplicate documents (an earlier document's text
  with `` dup`` appended), unit-norm 64-d embeddings in 10 labels.

Generation is deterministic per seed (numpy ``default_rng``), and
:func:`content_hash` fingerprints what was written so a run can show
that the same seed gave the same inputs.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

# --- survey ---------------------------------------------------------------

SURVEY_FAMILIES = ("ua_", "aa_", "ever_used_", "consider_")
# the sel-predicate sentinels of FIXTURES.md A1: None and "" are NULL in
# CSV; "0" is the only non-blank unselected code; "0.0"/"False" select
FLAG_VALUES = np.array(["1", "0", "0.0", "yes", "False", "", "  ", None], dtype=object)
FLAG_P = np.array([0.30, 0.40, 0.04, 0.06, 0.04, 0.06, 0.04, 0.06])
GENDER_CODES = np.array(["m", "f", "x", None], dtype=object)   # "x" has no code
SEC_CODES = np.array(["A", "B", "C", "D", "E"], dtype=object)
REGIONS = np.array(["north", "south", "east", "west", "central", "islands"], dtype=object)
OCCUPATIONS = np.array(["student", "employee", "self", "retired", "other"], dtype=object)
CODEBOOK = [
    ("gender", "m", "Male"), ("gender", "f", "Female"),
    ("gender", "9", "Unknown"),                     # matches no cell
    ("sec", "A", "Upper"), ("sec", "B", "Upper middle"), ("sec", "C", "Middle"),
    ("sec", "D", "Lower middle"), ("sec", "E", "Lower"),
]


def brand_names(n: int) -> list[str]:
    return [f"brand{i:02d}" for i in range(n)]


def make_survey(rng: np.random.Generator, n_rows: int, n_brands: int):
    """The wide respondent table as a pandas frame (string flags)."""
    import pandas as pd

    brands = brand_names(n_brands)
    cols: dict[str, object] = {
        "resp_id": np.array([f"R{i:07d}" for i in range(n_rows)], dtype=object),
        "gender": rng.choice(GENDER_CODES, n_rows, p=[0.47, 0.47, 0.02, 0.04]),
        "age": rng.integers(16, 70, n_rows),
        "region": rng.choice(REGIONS, n_rows),
        "sec": rng.choice(SEC_CODES, n_rows),
        "occupation": rng.choice(OCCUPATIONS, n_rows),
    }
    w = (rng.integers(2, 9, n_rows) / 4.0).astype(object)
    w[rng.random(n_rows) < 0.02] = None
    w = np.array([None if v is None else repr(v) for v in w], dtype=object)
    w[rng.integers(0, n_rows)] = "x"                    # non-numeric -> 0.0
    cols["weight"] = w
    tom_pool = np.array(
        brands + [f" {b} " for b in brands[:3]] + ["", None], dtype=object
    )
    cols["tom"] = rng.choice(tom_pool, n_rows)
    for fam in SURVEY_FAMILIES:
        for b in brands:
            vals = rng.choice(FLAG_VALUES, n_rows, p=FLAG_P)
            # every sentinel appears in every flag column
            vals[: len(FLAG_VALUES)] = FLAG_VALUES
            cols[f"{fam}{b}"] = vals
    cols["bumo"] = rng.choice(np.array(brands + [None], dtype=object), n_rows)
    osat = rng.integers(1, 6, n_rows).astype(float)
    osat[rng.random(n_rows) < 0.05] = np.nan
    cols["osat"] = osat
    nps = rng.integers(0, 11, n_rows).astype(float)
    nps[rng.random(n_rows) < 0.05] = np.nan
    nps[rng.integers(0, n_rows, 2)] = [-1.0, 11.0]      # in n, in no bucket
    cols["nps"] = nps
    return pd.DataFrame(cols)


def write_survey(out_dir: str, seed: int, n_rows: int, n_brands: int) -> dict[str, str]:
    import pandas as pd

    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "survey": os.path.join(out_dir, "survey.csv"),
        "codebook": os.path.join(out_dir, "codebook.csv"),
    }
    make_survey(rng, n_rows, n_brands).to_csv(paths["survey"], index=False)
    pd.DataFrame(CODEBOOK, columns=["column", "value", "label"]).to_csv(
        paths["codebook"], index=False
    )
    return paths


# --- fixtures -------------------------------------------------------------

REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "green", "big", "steel"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, offsets):
    return (np.datetime64(base, "D") + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def make_fixtures(rng: np.random.Generator, n_orders: int, n_docs: int, n_vecs: int):
    """Return {table: pyarrow.Table} at a TPC-H-like ratio to ``n_orders``."""
    import pyarrow as pa

    n_cust = max(n_orders // 10, 20)
    n_supp = max(n_orders // 150, 5)
    n_part = max(n_orders * 2 // 15, 20)
    n_line = n_orders * 4
    n_users = max(n_cust // 10, 10)
    n_events = n_orders * 2 // 3
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": REGION_NAMES,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": retail,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_orders)),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), i64),
        "l_partkey": pa.array(partkey, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.98, 1.02, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_line)),
    })
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = rng.normal(0.0, 1.0, (n_vecs, EMB_DIM)) + 0.6 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_fixtures(out_dir: str, seed: int, n_orders: int, n_docs: int, n_vecs: int) -> dict[str, str]:
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in make_fixtures(rng, n_orders, n_docs, n_vecs).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


# --- fingerprint ----------------------------------------------------------

def content_hash(paths: dict[str, str]) -> str:
    """sha256 over every generated file's name and bytes."""
    h = hashlib.sha256()
    for name in sorted(paths):
        h.update(name.encode())
        with open(paths[name], "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def generate(kind: str, out_dir: str, seed: int, size: dict) -> dict:
    """Write one workload's inputs and a manifest; returns the manifest."""
    if kind == "survey":
        paths = write_survey(out_dir, seed, **size)
    elif kind == "fixtures":
        paths = write_fixtures(out_dir, seed, **size)
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    manifest = {
        "kind": kind, "seed": seed, "size": size, "paths": paths,
        "bytes": sum(os.path.getsize(p) for p in paths.values()),
        "sha256": content_hash(paths),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
