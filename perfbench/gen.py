"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (seed, size): the same seed
writes byte-identical inputs. Nothing is read from outside the
benchmark's work directory, and nothing is written outside it.

- ``write_corpus``: the ten TPC-H-ish + LLM-corpus tables the batch
  queries read (the schema and value distributions of the repo's
  synthetic test tables), as one parquet file per table. ``events.ts``
  is written as TIMESTAMP(NANOS), as the repo's event tables are, so
  ``mito_spark.engine.load_table``'s nanosecond path is measured.
- ``event_file_rows``: the rows of one file of the event stream.
"""

from __future__ import annotations

import json
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = ["red", "hot", "small", "new", "cold", "large", "green", "old"]
NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "spring"]
TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table): adding a table
    never shifts another table's values."""
    return np.random.default_rng([seed, int.from_bytes(stream.encode()[:8], "little")])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (sf=1 ~ 6M lineitems)."""
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 20)
    n_emb = max(int(20_000 * sf), 20)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
        }
    )

    r = _rng(seed, "supplier")
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = _rng(seed, "part")
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
            "p_type": [TYPES[i] for i in r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )

    r = _rng(seed, "orders")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("P", "O", "F")[i] for i in r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(
                _EPOCH_1995 + r.integers(0, 2405, n_ord) * np.timedelta64(1, "D"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
        }
    )

    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                _EPOCH_1995
                + (1 + r.integers(0, 2499, n_li)) * np.timedelta64(1, "D"),
                pa.timestamp("us"),
            ),
        }
    )

    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("ns")),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)],
        }
    )

    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_doc):
        roll = r.random()
        if i > 10 and roll < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.055:  # exact duplicate
            texts.append(texts[int(r.integers(0, i))])
        else:
            texts.append(_text(r, int(r.integers(10, 101))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in r.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )

    r = _rng(seed, "embeddings")
    centers = r.normal(0.0, 1.0, (10, 64))
    labels = r.integers(0, 10, n_emb)
    vec = centers[labels] + r.normal(0.0, 0.8, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_corpus(seed: int, sf: float, out_dir: str) -> str:
    """Write the corpus tables under ``out_dir`` (one
    ``<table>.parquet`` each) and return the directory."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("user_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
        ("event_type", pa.string()),
        ("props", pa.string()),
        ("created_us", pa.int64()),
    ]
)


def event_file_rows(
    seed: int, file_no: int, n_events: int, n_users: int
) -> dict[str, np.ndarray | list]:
    """Columns of stream file ``file_no`` minus ``created_us`` (the
    creation stamp, added by the generator when it writes the file).
    Event times advance by one second per event across files, so the
    per-key cursor has a deterministic answer. ``props`` carries a
    key and 1-3 tags, for the transform spec to parse and collate."""
    r = _rng(seed, f"ev{file_no}")
    first = file_no * n_events
    props = []
    for k, n_tags in zip(r.integers(0, 100, n_events), r.integers(1, 4, n_events)):
        tags = [{"src": f"s{int(t)}", "lvl": int(t) % 3} for t in r.integers(0, 7, n_tags)]
        props.append(json.dumps({"k": int(k), "tags": tags}))
    return {
        "event_id": np.arange(first, first + n_events, dtype=np.int64),
        "user_id": r.integers(0, n_users, n_events).astype(np.int64),
        "ts": _EPOCH_2024 + np.arange(first, first + n_events) * np.timedelta64(1_000_000, "us"),
        "value": np.round(r.exponential(50.0, n_events), 2),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_events)],
        "props": props,
    }
