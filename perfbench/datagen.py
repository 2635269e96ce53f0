"""Seeded input generators for the benchmark.

Everything a run reads is made here from ``--seed``, under the run's own
temp root: the star-schema tables the declared queries read (same names,
column types and value domains as the engine's test tables), SPEC scan
files for the ingest workload, the corrections applied to them, and the
document chunks fed to the streaming path.  The same seed always gives
byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
PART_NOUN = ["ring", "widget", "bolt", "rod", "plate", "gear", "gizmo", "anvil"]
SEGMENTS = ["HOUSEHOLD", "FURNITURE", "BUILDING", "MACHINERY", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = np.array(["error", "view", "purchase", "signup", "click"])
P_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n).astype("datetime64[D]")).astype(
        "datetime64[us]"
    )


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def documents(rng: np.random.Generator, n: int, first_id: int = 0) -> pd.DataFrame:
    """Word-salad documents over a 30-word vocabulary; every 20th is a
    near-duplicate (an earlier text plus ' dup'), a few are exact copies."""
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    for i in range(n):
        if i % 20 == 11 and i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif i % 625 == 300:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def write_tables(out: str, seed: int, sf: float, n_docs: int) -> str:
    """Write the ten star-schema tables at scale ``sf`` (sf 0.01 is 60k
    lineitems) with ``n_docs`` documents; returns ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(15000 * sf))
    n_supp = max(10, int(1000 * sf))
    n_part = max(20, int(20000 * sf))
    n_ord = max(150, int(150000 * sf))
    n_li = max(600, int(600000 * sf))
    n_ev = max(100, int(100000 * sf))
    n_emb = max(100, n_docs // 2)

    _write(
        pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        f"{out}/region.parquet",
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    )
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        f"{out}/nation.parquet",
        pa.schema(
            [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
        ),
    )
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        f"{out}/customer.parquet",
        pa.schema(
            [
                ("c_custkey", pa.int64()),
                ("c_name", pa.string()),
                ("c_nationkey", pa.int32()),
                ("c_acctbal", pa.float64()),
                ("c_mktsegment", pa.string()),
            ]
        ),
    )
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        f"{out}/supplier.parquet",
        pa.schema(
            [
                ("s_suppkey", pa.int64()),
                ("s_name", pa.string()),
                ("s_nationkey", pa.int32()),
                ("s_acctbal", pa.float64()),
            ]
        ),
    )
    pk = np.arange(n_part, dtype=np.int64)
    _write(
        pd.DataFrame(
            {
                "p_partkey": pk,
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(P_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
            }
        ),
        f"{out}/part.parquet",
        pa.schema(
            [
                ("p_partkey", pa.int64()),
                ("p_name", pa.string()),
                ("p_brand", pa.string()),
                ("p_type", pa.string()),
                ("p_size", pa.int32()),
                ("p_retailprice", pa.float64()),
            ]
        ),
    )
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        f"{out}/orders.parquet",
        pa.schema(
            [
                ("o_orderkey", pa.int64()),
                ("o_custkey", pa.int64()),
                ("o_orderstatus", pa.string()),
                ("o_totalprice", pa.float64()),
                ("o_orderdate", pa.timestamp("us")),
                ("o_orderpriority", pa.string()),
            ]
        ),
    )
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
        f"{out}/lineitem.parquet",
        pa.schema(
            [
                ("l_orderkey", pa.int64()),
                ("l_partkey", pa.int64()),
                ("l_suppkey", pa.int64()),
                ("l_linenumber", pa.int32()),
                ("l_quantity", pa.float64()),
                ("l_extendedprice", pa.float64()),
                ("l_discount", pa.float64()),
                ("l_tax", pa.float64()),
                ("l_returnflag", pa.string()),
                ("l_linestatus", pa.string()),
                ("l_shipdate", pa.timestamp("us")),
            ]
        ),
    )
    span_us = 30 * 86400 * 10**6
    gaps = rng.exponential(1.0, n_ev)
    ts_us = (np.cumsum(gaps) / gaps.sum() * (span_us - 10**6)).astype(np.int64)
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]"),
                "user_id": rng.integers(0, max(2, n_ev * 15 // 1000), n_ev).astype(np.int64),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        f"{out}/events.parquet",
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
    )
    _write(documents(rng, n_docs), f"{out}/documents.parquet", DOC_SCHEMA)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
            }
        ),
        f"{out}/embeddings.parquet",
    )
    return out


# --------------------------------------------------------------------------
# SPEC scan files (ingest workload)
# --------------------------------------------------------------------------
SPEC_COLUMNS = ["H", "K", "L", "Epoch", "Seconds", "Monitor", "Detector"]


def spec_file(path: str, rng: np.random.Generator, first_scan: int, n_scans: int,
              n_points: int) -> pd.DataFrame:
    """Write one SPEC file of ``n_scans`` ``#S`` blocks (scan numbers
    ``first_scan``...) and return its points as the closed-form truth
    (scan_number, point_index and the seven #L columns)."""
    name = os.path.basename(path)
    lines = [f"#F {name}", "#E 1300000000", "#D Thu Feb 24 14:05:35 2011",
             "#O0 Theta  TwoTheta  Chi  Phi", ""]
    rows = []
    for s in range(first_scan, first_scan + n_scans):
        h0, k0, l0 = rng.uniform(-1.0, 1.0, 3)
        amp, mu, sig = rng.uniform(500, 5000), rng.uniform(0.3, 0.7), 0.1
        monitor = round(float(1e5 * (1 + 0.01 * rng.standard_normal())), 1)
        lines += [
            f"#S {s} hklscan {h0:.4f} {h0 + 0.2:.4f} {k0:.4f} {k0:.4f} {l0:.4f} "
            f"{l0 + 0.2:.4f} {n_points - 1} 1",
            "#D Thu Feb 24 15:01:35 2011",
            "#T 1 (Seconds)",
            f"#M {monitor} (Monitor)",
            "#G4 1.5405 0 0",
            f"#Q {h0:.4f} {k0:.4f} {l0:.4f}",
            "#N 7",
            "#L " + "  ".join(SPEC_COLUMNS),
        ]
        t = np.linspace(0.0, 1.0, n_points)
        det = np.round(amp * np.exp(-((t - mu) ** 2) / (2 * sig**2))
                       + rng.poisson(20, n_points))
        for i in range(n_points):
            h = round(h0 + 0.2 * t[i], 5)
            k = round(k0, 5)
            l_ = round(l0 + 0.2 * t[i], 5)
            vals = [h, k, l_, 1300000000 + s * 1000 + i, 1.0, monitor, float(det[i])]
            lines.append(" ".join(repr(float(v)) for v in vals))
            rows.append((s, i, *vals))
        lines.append("")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return pd.DataFrame(rows, columns=["scan_number", "point_index", *SPEC_COLUMNS])
