"""Seeded input generators for the benchmark.

Every input is made from ``--seed`` inside the run's scratch root, so a
run reads nothing outside its checkout and the same seed gives the same
bytes.

``write_star_schema`` writes the ten tables the registry queries read
(``region`` .. ``embeddings``), with the column names, types and value
distributions of the engine's TPC-H-like test tables: uniform keys and
categories, a 30-day event stream, a 30-word document vocabulary with
about 5 % planted near-duplicate twins, and random unit embeddings.

``footprint_payloads`` makes the REST payloads of the footprint ETL: one
array of camelCase records per year, the shape ``rest_extractor``
lands in the raw zone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_EVENTS = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _days(rng: np.random.Generator, start: np.datetime64, span: int, n: int) -> pa.Array:
    us = start + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        # ~5 % of documents are a twin of an earlier one plus a marker
        # token: the planted near-duplicates the dedup operators find
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten query tables at scale factor ``sf`` (sf 0.01 = 60k
    lineitems, 10k events, 500 documents and 500 embeddings)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)

    def keys(n: int) -> pa.Array:
        return pa.array(np.arange(n), pa.int64())

    def nations(n: int) -> pa.Array:
        return pa.array(rng.integers(0, 25, n), pa.int32())

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": keys(n_cust),
                "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
                "c_nationkey": nations(n_cust),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": keys(n_supp),
                "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
                "s_nationkey": nations(n_supp),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": keys(n_part),
                "p_name": pa.array(
                    [
                        f"{ADJECTIVES[a]} {NOUNS[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": _choice(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": keys(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, EPOCH_1995, 2404, n_ord),
                "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _choice(rng, ["F", "O"], n_line),
                "l_shipdate": _days(rng, EPOCH_1995 + 1, 2499, n_line),
            }
        ),
    }
    gaps = rng.exponential(1.0, n_ev)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * DAY_US - 1)
    tables["events"] = pa.table(
        {
            "event_id": keys(n_ev),
            "ts": pa.array(EPOCH_EVENTS + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)
    return tables


def write_star_schema(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write :func:`star_schema` as one parquet file per table; returns
    the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star_schema(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


COUNTRIES = ["Brazil", *(f"Country {i:03d}" for i in range(1, 160))]
RECORDS = ["BiocapPerCap", "BiocapTotGHA", "EFConsPerCap", "EFConsTotGHA"]
LAND_FIELDS = [
    "cropLand", "grazingLand", "forestLand", "fishingGround", "builtupLand",
    "carbon", "value",
]


def footprint_payloads(seed: int, years: range) -> dict[int, list[dict]]:
    """One REST payload per year: every country x record type, with the
    API's camelCase fields."""
    rng = np.random.default_rng(seed)
    out = {}
    for year in years:
        vals = np.round(rng.gamma(2.0, 0.5, (len(COUNTRIES) * len(RECORDS), 7)), 6)
        recs = []
        for c, country in enumerate(COUNTRIES):
            for j, record in enumerate(RECORDS):
                row = vals[c * len(RECORDS) + j]
                recs.append(
                    {
                        "year": year,
                        "countryCode": c + 1,
                        "countryName": country,
                        "shortName": country[:12],
                        "isoa2": f"{chr(65 + c // 26 % 26)}{chr(65 + c % 26)}",
                        "record": record,
                        **{f: float(v) for f, v in zip(LAND_FIELDS, row)},
                        "score": "3A",
                    }
                )
        out[year] = recs
    return out
