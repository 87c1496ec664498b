"""Correctness checks run outside the timed spans, and the single-thread
kernel pass that gives the per-document cost of each pure kernel."""

from __future__ import annotations

import hashlib
import math
import time

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from corpus import read_pages_table

# urls whose digest is recomputed in this process after every pass
DIGEST_SAMPLE = 12
KERNEL_SAMPLE = 40


def sample_urls(urls: list[str], k: int) -> list[str]:
    """A fixed, seed-independent choice of ``k`` urls: smallest sha1."""
    return sorted(urls, key=lambda u: hashlib.sha1(u.encode()).digest())[:k]


def reference_digest(payload: bytes) -> str:
    """sha256 of the extracted text, computed by the pure kernels."""
    from qwen_ocr_spark.functions import htmlx, pdfx
    if payload[:5] == b"%PDF-":
        res = pdfx.extract_pdf(payload)
    else:
        res = htmlx.extract_html(htmlx.decode_html_bytes(payload))
    return hashlib.sha256(res.extracted_text.encode("utf-8")).hexdigest()


def _parquet_dataset(path: str) -> ds.Dataset:
    return ds.dataset(path, format="parquet", partitioning="hive",
                      exclude_invalid_files=True)


def check_crawl(out: str, manifest: str, n: int, digests: dict[str, str]) -> list[str]:
    """The committed output of one CLI pass against its ``n``-row corpus;
    ``digests`` maps sampled urls to their reference digests."""
    failures = []
    t = _parquet_dataset(out).to_table(columns=["url", "digest", "error"])
    if t.num_rows != n:
        failures.append(f"committed rows {t.num_rows} != corpus {n}")
    urls = t.column("url").to_pylist()
    if len(set(urls)) != len(urls):
        failures.append(f"{len(urls) - len(set(urls))} duplicate urls in output")
    errors = t.num_rows - t.column("error").null_count
    if errors:
        failures.append(f"{errors} error rows")
    man = pq.read_table(manifest, columns=["row_count"])
    man_rows = sum(man.column("row_count").to_pylist())
    if man_rows != t.num_rows:
        failures.append(f"manifest row_count sum {man_rows} != rows {t.num_rows}")
    got = dict(zip(urls, t.column("digest").to_pylist()))
    for url, want in digests.items():
        if got.get(url) != want:
            failures.append(f"digest mismatch for {url}")
    return failures


def expected_for(pages_path: str) -> tuple[int, dict[str, str]]:
    """The corpus row count and the reference digests of its sampled urls."""
    t = read_pages_table(pages_path)
    urls = t.column("url").to_pylist()
    payloads = dict(zip(urls, t.column("html").to_pylist()))
    return t.num_rows, {u: reference_digest(payloads[u])
                        for u in sample_urls(urls, DIGEST_SAMPLE)}


def check_read_output(spark, out: str) -> list[str]:
    """``read_output`` (no dedup) must hold each url exactly once."""
    from pyspark.sql import functions as F
    from qwen_ocr_spark.sinks import manifest
    df = manifest.read_output(spark, out)
    if df is None:
        return ["read_output found no table"]
    row = df.agg(F.count("*").alias("n"),
                 F.countDistinct("url").alias("d")).collect()[0]
    if row["n"] != row["d"]:
        return [f"read_output: {row['n']} rows but {row['d']} distinct urls"]
    return []


def kernel_pass(pages_path: str) -> dict:
    """Time each pure kernel, single-threaded, over a fixed sample of the
    corpus payloads; returns mean microseconds per document and counts."""
    from qwen_ocr_spark.functions import blocks, htmlx, pdfx
    t = read_pages_table(pages_path)
    urls = t.column("url").to_pylist()
    payloads = dict(zip(urls, t.column("html").to_pylist()))
    acc = {"decode": 0.0, "html": 0.0, "parse": 0.0, "blocks": 0.0,
           "assemble": 0.0, "n_html": 0, "n_pdf": 0, "pages": 0, "figures": 0}
    for url in sample_urls(urls, KERNEL_SAMPLE):
        payload = payloads[url]
        if payload[:5] == b"%PDF-":
            t0 = time.perf_counter()
            pages = pdfx.parse_pdf(payload)
            t1 = time.perf_counter()
            pb = pdfx.pdf_pages_to_blocks(pages)
            t2 = time.perf_counter()
            res = blocks.assemble_document(pb)
            t3 = time.perf_counter()
            acc["parse"] += t1 - t0
            acc["blocks"] += t2 - t1
            acc["assemble"] += t3 - t2
            acc["n_pdf"] += 1
            acc["pages"] += len(pages)
        else:
            t0 = time.perf_counter()
            text = htmlx.decode_html_bytes(payload)
            t1 = time.perf_counter()
            res = htmlx.extract_html(text)
            t2 = time.perf_counter()
            acc["decode"] += t1 - t0
            acc["html"] += t2 - t1
            acc["n_html"] += 1
        acc["figures"] += len(res.figures)
    nh, npdf = max(acc["n_html"], 1), max(acc["n_pdf"], 1)
    n_pdf_corpus = sum(1 for p in payloads.values() if p[:5] == b"%PDF-")
    return {
        "functions.htmlx.decode_html_bytes_us": acc["decode"] / nh * 1e6,
        "functions.htmlx.extract_html_us": acc["html"] / nh * 1e6,
        "functions.pdfx.parse_pdf_us": acc["parse"] / npdf * 1e6,
        "functions.pdfx.pdf_pages_to_blocks_us": acc["blocks"] / npdf * 1e6,
        "functions.blocks.assemble_document_us": acc["assemble"] / npdf * 1e6,
        "functions.pdfx.pages": acc["pages"],
        "functions.figures.emitted": acc["figures"],
        "functions.docs_html": len(payloads) - n_pdf_corpus,
        "functions.docs_pdf": n_pdf_corpus,
        # per-document kernel seconds by kind, for kernel_frac
        "_html_s": (acc["decode"] + acc["html"]) / nh,
        "_pdf_s": (acc["parse"] + acc["blocks"] + acc["assemble"]) / npdf,
    }


# ---------------------------------------------------------------------------
# query oracle (the rules of tests/test_entry_oracle.py)
# ---------------------------------------------------------------------------

_TYPE_ALIASES = {"large_string": "string", "large_binary": "binary",
                 "string_view": "string", "binary_view": "binary"}


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows(arrow_table) -> list[tuple]:
    cols = arrow_table.column_names
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r.values()) for r in arrow_table.to_pylist()]
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _typed_schema(arrow_table) -> list[tuple[str, str]]:
    return sorted((f.name, _TYPE_ALIASES.get(str(f.type), str(f.type)))
                  for f in arrow_table.schema)


def oracle_mismatch(spark_arrow, duck_arrow) -> str | None:
    """Row count, typed schema and order-insensitive values; None if equal."""
    if _typed_schema(spark_arrow) != _typed_schema(duck_arrow):
        return (f"schema {_typed_schema(spark_arrow)} != "
                f"{_typed_schema(duck_arrow)}")
    if spark_arrow.num_rows != duck_arrow.num_rows:
        return f"rows {spark_arrow.num_rows} != {duck_arrow.num_rows}"
    if _rows(spark_arrow) != _rows(duck_arrow):
        return "values differ"
    return None
