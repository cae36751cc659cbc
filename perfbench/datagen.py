"""The project's test corpus, regenerated for the benchmark.

Writes the ten tables ``tables.TABLES`` names, one Parquet file each, at a
scale factor: the same values, in the same order, written the same way as
the corpus the repository's tests and ``bench.py`` read (numpy's PCG64
seeded with 42, one stream drawn table by table, pandas ``to_parquet``).
``write`` checks every file against the SHA-256 digests below, so the
benchmark runs on byte-identical inputs or not at all.

Run alone to inspect: ``python3 perfbench/datagen.py OUT_DIR [SF]``.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd

DATA_SEED = 42
#: SHA-256 of each file of the corpus, per scale factor the benchmark reads
DIGESTS = {
    "0.1": {
        "customer": "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
        "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
        "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
        "events": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
        "lineitem": "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
        "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
        "orders": "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
        "part": "082525b9eb5098fe7b841e66b5a3e156808d32230202bc11cbafd85eb2443ea1",
        "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
        "supplier": "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a",
    },
}

WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
P_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
P_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
P_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "s")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    words = np.array(WORDS, dtype=object)
    out = [
        " ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 100))])
        for _ in range(n)
    ]
    # 5% near-duplicates: another document plus a marker word
    for i in rng.choice(n, int(0.05 * n), replace=False):
        out[i] = out[int(rng.integers(0, n))] + " dup"
    return out


def tables(sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(DATA_SEED)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS, dtype=object)[
                rng.integers(0, len(SEGMENTS), n_cust)
            ],
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(P_ADJ, dtype=object)[rng.integers(0, len(P_ADJ), n_part)]
    noun = np.array(P_NOUN, dtype=object)[rng.integers(0, len(P_NOUN), n_part)]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": adj + " " + noun,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(P_TYPES, dtype=object)[
                rng.integers(0, len(P_TYPES), n_part)
            ],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "F", "P"], dtype=object)[
                rng.integers(0, 3, n_ord)
            ],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
            "o_orderpriority": np.array(PRIORITIES, dtype=object)[
                rng.integers(0, len(PRIORITIES), n_ord)
            ],
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": _money(rng, 0.0, 0.1, n_li),
            "l_tax": _money(rng, 0.0, 0.08, n_li),
            "l_returnflag": np.array(["R", "A", "N"], dtype=object)[
                rng.integers(0, 3, n_li)
            ],
            "l_linestatus": np.array(["O", "F"], dtype=object)[
                rng.integers(0, 2, n_li)
            ],
            "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
        }
    )
    ev_s = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    ev_ts = np.datetime64("2024-01-01", "ns") + (ev_s * 1e9).astype("timedelta64[ns]")
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES, dtype=object)[
                rng.integers(0, len(EVENT_TYPES), n_ev)
            ],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _texts(rng, n_doc)
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write(out_dir: str, sf: float) -> None:
    """Write the corpus into ``out_dir`` atomically (a finished directory
    is never half-written, so an interrupted run regenerates it)."""
    tmp = out_dir.rstrip("/") + ".partial"
    os.makedirs(tmp, exist_ok=True)
    digests = DIGESTS.get(f"{sf:g}", {})
    for name, df in tables(sf).items():
        path = os.path.join(tmp, f"{name}.parquet")
        df.to_parquet(
            path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        with open(path, "rb") as fh:
            got = hashlib.sha256(fh.read()).hexdigest()
        if name in digests and got != digests[name]:
            raise RuntimeError(f"{path}: sha256 {got} is not the corpus's {digests[name]}")
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
