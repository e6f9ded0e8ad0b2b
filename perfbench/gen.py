"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` (and the size knobs), so
the same seed gives the same inputs; the library only ever sees the
tables written from these arrays.

The vector corpus is a Gaussian mixture in the style of
``tools/scale_probe.py`` (``n // 50`` centres drawn from N(0, I)), with
the cluster spread ``sigma`` raised until neighbours of a point often
sit in other clusters, so recall@10 of the default forest stays clearly
below 1.0. The analytics tables copy the schema and value domains of
the tiny fixture star schema described in FIXTURES.md.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

DIM = 64
SIGMA = 1.4


@dataclass
class Mixture:
    """One seeded mixture: its centres and the generator that draws from it."""

    centers: np.ndarray
    sigma: float
    rng: np.random.Generator

    def draw(self, n: int) -> np.ndarray:
        which = self.rng.integers(0, len(self.centers), n)
        noise = self.sigma * self.rng.standard_normal((n, self.centers.shape[1]))
        return (self.centers[which] + noise).astype(np.float32)


def mixture(seed: int, n: int, dim: int = DIM, sigma: float = SIGMA) -> Mixture:
    rng = np.random.default_rng(seed)
    return Mixture(rng.standard_normal((max(n // 50, 1), dim)), sigma, rng)


def with_duplicates(
    x: np.ndarray, frac: float, rng: np.random.Generator
) -> "tuple[np.ndarray, np.ndarray]":
    """Append exact copies of ``frac`` of the rows of ``x``. Returns the
    grown matrix and the row indices that were copied. Copies get the
    highest ids, so first-occurrence dedup keeps every original row."""
    src = np.sort(rng.choice(len(x), int(len(x) * frac), replace=False))
    return np.concatenate([x, x[src]]), src


def vectors_frame(ids: np.ndarray, x: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"vec_id": ids.astype(np.int64), "embedding": list(x)})


def queries_frame(x: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame(
        {"query_id": np.arange(len(x), dtype=np.int64), "query_vec": list(x)}
    )


# ---------------------------------------------------------------- analytics

_WORDS = (
    "the a data query table row column key value join filter sort merge "
    "hash group agg window scan batch stream spark part line order customer "
    "vector fast slow big small"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, lo: str, hi: str, n: int) -> pd.Series:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return pd.Series(lo_d + rng.integers(0, span, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def analytics_tables(seed: int, scale: float = 1.0) -> "dict[str, pd.DataFrame]":
    """The ten tables the registry queries read, at ``scale`` × the row
    counts of the smallest fixture tier (6000 lineitem rows at 1.0)."""
    rng = np.random.default_rng(seed)

    def n(base: int) -> int:
        return max(int(base * scale), 10)

    n_cust, n_supp, n_part = n(150), n(10), n(200)
    n_ord, n_line, n_ev, n_doc, n_emb = n(1500), n(6000), n(1000), n(500), n(500)

    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    adjectives = ["small", "blue", "cold", "old", "new", "hot", "big", "red"]
    nouns = ["widget", "rod", "ring", "anvil", "plate", "gear", "bolt", "valve"]
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["N", "A", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.Series(ts),
            "user_id": rng.integers(0, 15, n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.uniform(0, 330, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))) for _ in range(n_doc)
    ]
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.uniform(-0.3, 0.3, (10, DIM))
    emb = centers[labels] + 0.05 * rng.standard_normal((n_emb, DIM))
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_analytics_tables(sf_dir: str, seed: int, scale: float = 1.0) -> None:
    """One single-row-group parquet file per table, as the fixture tiers
    ship them (``{sf_dir}/{table}.parquet``)."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in analytics_tables(seed, scale).items():
        df.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)
