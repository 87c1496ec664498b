"""Benchmark inputs: the pages corpora the CLI reads and the tables the
query suite reads, each a pure function of the seed, plus fingerprints
that pin them.

The pages corpora come from the program's own generator
(``qwen_ocr_spark.sources.pages``), so a change to that generator moves
the workload; ``check_inputs`` catches such a change on every run by
comparing a small default-seed sample against ``fingerprints.json``.  The
query tables are generated here with the schemas of the TPC-H-style test
data the queries were written against, at a size where one pass of the
suite fits a benchmark run.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FINGERPRINTS = Path(__file__).with_name("fingerprints.json")

# The seed whose full-corpus fingerprints are recorded in fingerprints.json.
DEFAULT_SEED = 0
# Docs of the default-seed generator sample checked on every run.
GENERATOR_SAMPLE = 24


def read_pages_table(path: str) -> pa.Table:
    """All rows of a pages parquet directory, sorted by url."""
    t = pq.read_table(path, columns=["url", "html"])
    return t.sort_by("url")


def fingerprint(path: str, seed: int, n_docs: int, profile: str) -> dict:
    """Identity of a generated pages corpus: sizes plus a digest over every
    (url, sha256(payload)) pair in url order."""
    t = read_pages_table(path)
    h = hashlib.sha256()
    payload_bytes = 0
    for url, payload in zip(t.column("url").to_pylist(), t.column("html").to_pylist()):
        payload_bytes += len(payload)
        h.update(url.encode())
        h.update(hashlib.sha256(payload).digest())
    return {"seed": seed, "size": n_docs, "profile": profile,
            "rows": t.num_rows, "payload_bytes": payload_bytes,
            "digest": h.hexdigest()}


def generator_sample_digest(profile: str) -> str:
    """Digest of the first GENERATOR_SAMPLE default-seed pages, computed in
    this process from the program's pure per-row generator."""
    from qwen_ocr_spark.sources.pages import gen_page
    h = hashlib.sha256()
    for i in range(GENERATOR_SAMPLE):
        url, ts, payload, text, lang = gen_page(DEFAULT_SEED, i, profile)
        h.update(f"{url}|{ts.isoformat()}|{lang}|".encode())
        h.update(hashlib.sha256(payload).digest())
        h.update(hashlib.sha256(text.encode()).digest())
    return h.hexdigest()


def recorded(workload: str) -> dict | None:
    if not FINGERPRINTS.exists():
        return None
    return json.loads(FINGERPRINTS.read_text()).get(workload)


def check_inputs(workload: str, fp: dict, profile: str | None = None) -> list[str]:
    """Failures of the input pins: the pages generator sample of
    ``profile`` always, the full fingerprint when the run uses the default
    seed."""
    rec = recorded(workload)
    if rec is None:
        return [f"{workload}: no recorded fingerprint"]
    failures = []
    if profile is not None and generator_sample_digest(profile) != rec["generator_sample"]:
        failures.append(f"{workload}: pages generator output changed")
    if fp["seed"] == DEFAULT_SEED and fp != rec["corpus"]:
        failures.append(f"{workload}: default-seed input fingerprint changed")
    return failures


# ---------------------------------------------------------------------------
# query-suite tables
# ---------------------------------------------------------------------------

TABLE_ROWS = {"customer": 1500, "supplier": 100, "orders": 15000,
              "lineitem": 60000, "events": 10000, "documents": 500,
              "embeddings": 500}

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
DOC_LANGS = ["en"] * 4 + ["zh", "es", "de", "fr"]


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i % 97 == 96:            # exact duplicate of the predecessor
            texts.append(texts[-1])
        elif i % 53 == 52:          # near duplicate of the predecessor
            texts.append(texts[-1] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [DOC_LANGS[j] for j in rng.integers(0, len(DOC_LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.normal(size=(n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def query_tables(seed: int) -> dict[str, pa.Table]:
    """Every table the query suite reads, as a pure function of ``seed``."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n["customer"])],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2),
    })
    no = n["orders"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(260.0, ne)   # seconds between consecutive events
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": start + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)],
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "orders": orders, "lineitem": lineitem,
            "events": events, "documents": _documents(rng, n["documents"]),
            "embeddings": _embeddings(rng, n["embeddings"])}


def query_tables_names() -> list[str]:
    return ["region", "nation", *TABLE_ROWS]


def write_query_tables(out_dir: str, seed: int) -> dict:
    """Write every query table as ``<out_dir>/<name>.parquet``; return the
    tables' fingerprint."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    rows = {}
    for name, t in sorted(query_tables(seed).items()):
        pq.write_table(t, f"{out_dir}/{name}.parquet")
        rows[name] = t.num_rows
        for batch in t.to_batches():
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, batch.schema) as w:
                w.write_batch(batch)
            h.update(sink.getvalue().to_pybytes())
    return {"seed": seed, "rows": rows, "digest": h.hexdigest()}
