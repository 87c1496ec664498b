"""The workloads: runs of the production CLI and the query suite.

Every workload fills ``Run.e2e`` (the end-to-end metrics, measured with
tracing off) and, in a traced run, ``Run.layer`` (the per-layer metrics).

A timed CLI pass is one call of ``scripts/run_extract.py:main`` in this
process.  The session is created first, outside the timed span (``main``
gets it from ``getOrCreate`` and stops it on exit), so every pass starts
a new SparkContext and its Python workers, as a production run does.
Timed passes follow untimed CLI calls in the same JVM (a warm-up call,
or the prior runs that write the ``crawl_resume`` pre-state): the first
call of a JVM pays the JIT and code generation for the whole job.
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import importlib.util
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

import checks
import corpus
import tracing

CORES = 4
MASTER = f"local[{CORES}]"

CRAWL_DOCS = 3000           # default profile: 85% HTML, 15% PDF, hot host
RESUME_DOCS = 1000          # the same profile; 90% committed before the pass
HEAVY_DOCS = 300            # heavy profile: 50% PDF, up to 30 pages
SETUP_REPS = 3
# pages corpus (docs, generator profile) of each CLI workload
PAGES_INPUTS = {"crawl_batch": (CRAWL_DOCS, "default"),
                "crawl_resume": (RESUME_DOCS, "default"),
                "pdf_heavy": (HEAVY_DOCS, "heavy")}
RESUME_SLICES = 10          # url-hash slices: 9 committed before the pass, 1 new
RESUME_PRIOR = 2            # prior CLI runs over the 9; the last loses its manifest rows
WARMUP_CALLS = 1            # untimed CLI calls before the timed ones (fresh output)
CLI_SPAN = "scripts.run_extract.main"


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:7.1f} s] {msg}", file=sys.stderr, flush=True)


_T0 = time.perf_counter()


class Run:
    """State of one benchmark invocation."""

    def __init__(self, root: Path, work: Path, seed: int, seconds: float,
                 tracer: tracing.Tracer, sampler: tracing.RssSampler):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.sampler = sampler
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.fingerprint: dict | None = None
        self.pass_traces: list[dict] = []
        self.cli_main = _load_cli_main(root)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def check(self, failures: list[str]) -> None:
        """Count one checked attempt, failed if ``failures`` is non-empty."""
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures.extend(failures)


def _session(master: str = MASTER, extra_conf: dict | None = None):
    from qwen_ocr_spark.plans import session
    return session.get_spark(master=master, app_name="qwen-ocr-spark-extract",
                             extra_conf=extra_conf)


def shutdown_jvm() -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _du(path: Path) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _load_cli_main(root: Path):
    """``main`` of scripts/run_extract.py, loaded from the checkout."""
    spec = importlib.util.spec_from_file_location(
        "run_extract", root / "scripts" / "run_extract.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def call_cli(main, args: list[str], master: str) -> float:
    """Call the CLI's ``main`` with ``args``; returns its wall time."""
    argv = sys.argv
    sys.argv = ["run_extract.py", *args, "--master", master]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            t0 = time.perf_counter()
            main()
            return time.perf_counter() - t0
    finally:
        sys.argv = argv


def cli_pass(run: Run, args: list[str], traced: bool = False,
             master: str = MASTER) -> dict:
    """One timed call of the CLI's ``main`` in this process.  A traced pass
    records spans around the program's public calls and Spark's event log,
    and returns its per-layer row."""
    events = run.work / "events" / f"pass-{len(run.pass_traces)}"
    conf = tracing.event_log_conf(events) if traced else None
    if traced:
        events.mkdir(parents=True)
        run.tracer.resume()
        run.tracer.pass_id = events.name
    first_span = len(run.tracer.spans)
    try:
        # every call starts from a collected heap, whatever the calls and
        # checks before it left behind
        _session(master, conf)._jvm.System.gc()
        gc.collect()
        with run.sampler.measuring(), run.tracer.span(CLI_SPAN):
            dt = call_cli(run.cli_main, args, master)
    finally:
        run.tracer.pause()
        run.tracer.pass_id = None
    res = {"s": dt}
    if traced:
        spans = run.tracer.spans[first_span:]
        run.pass_traces.append({"pass": events.name, "master": master, "seconds": dt})
        res["row"] = tracing.pass_row(spans, tracing.read_event_log(events),
                                      CLI_SPAN, int(master[6:-1]))
    return res


def setup_corpus(run: Run, workload: str) -> Path:
    """Session start + corpus generation + session stop, SETUP_REPS times;
    ``setup_s`` is the median.  Returns the last corpus; pins its inputs."""
    from qwen_ocr_spark.sources import pages
    n_docs, profile = PAGES_INPUTS[workload]
    times = []
    for k in range(SETUP_REPS):
        path = run.work / f"pages{k}"
        t0 = time.perf_counter()
        spark = _session()
        pages.write_pages(spark, str(path), n_docs, seed=run.seed, profile=profile)
        spark.stop()
        times.append(time.perf_counter() - t0)
        if k < SETUP_REPS - 1:
            shutil.rmtree(path)
    run.e2e["setup_s"] = statistics.median(times)
    log(f"set-up x{SETUP_REPS}: {' '.join(f'{t:.2f}' for t in times)} s")
    run.fingerprint = corpus.fingerprint(str(path), run.seed, n_docs, profile)
    run.check(corpus.check_inputs(workload, run.fingerprint, profile))
    log("inputs pinned")
    run.tracer.pause()      # warm-up and pre-state calls are not traced
    return path


def _kinds(table) -> dict[str, int]:
    n_pdf = sum(1 for p in table.column("html").to_pylist() if p[:5] == b"%PDF-")
    return {"pdf": n_pdf, "html": table.num_rows - n_pdf}


def _passes(run: Run, one_pass) -> list[dict]:
    """``one_pass()`` until ``run.seconds`` of timed CLI calls have elapsed
    (at least twice); the workload reports their median."""
    done: list[dict] = []
    while len(done) < 2 or sum(r["s"] for r in done) < run.seconds:
        done.append(one_pass())
        log(f"pass {len(done)}: {done[-1]['s']:.3f} s")
    return done


def _cli_workload(run: Run, pages_path: Path, extra_args: list[str], prepare,
                  processed, warmups: int = WARMUP_CALLS):
    """``warmups`` untimed, then timed CLI passes over ``pages_path``, each
    into a directory ``prepare(d)`` readies and checked after the pass.
    ``processed`` is the pages table the pass extracts (all of it, or the
    part not yet committed).  Returns the pass function, for further
    traced passes."""
    n_docs, digests = checks.expected_for(str(pages_path))
    log("reference digests computed")
    d = run.work / "pass"
    stored: list[tuple[int, int]] = []

    def one_pass(traced: bool = False, master: str = MASTER) -> dict:
        shutil.rmtree(d, ignore_errors=True)
        prepare(d)
        before = _du(d)
        args = ["--pages", str(pages_path), "--out", str(d / "out"),
                "--manifest", str(d / "man")] + extra_args
        if "--figures" in extra_args:
            args.insert(args.index("--figures") + 1, str(d / "figs"))
        res = cli_pass(run, args, traced, master)
        after = _du(d)
        stored.append((after[0] - before[0], after[1] - before[1]))
        run.check(checks.check_crawl(str(d / "out"), str(d / "man"), n_docs, digests))
        return res

    for k in range(warmups):
        log(f"warm-up {k + 1}: {one_pass()['s']:.3f} s")
    # a traced run times the same calls, traced, in place of the untraced ones
    timed = _passes(run, lambda: one_pass(traced=run.traced))
    run.e2e["job_s"] = statistics.median(r["s"] for r in timed)
    run.e2e["docs_per_s"] = n_docs / run.e2e["job_s"]
    run.layer["peak_rss_mb"] = run.sampler.peak_mb
    spark = _session()
    run.check(checks.check_read_output(spark, str(d / "out")))
    spark.stop()
    if not run.traced:
        return one_pass
    kernel = checks.kernel_pass(str(pages_path))
    kinds = _kinds(processed)
    rows = []
    for r in timed:
        row = dict(r["row"])
        row["functions.kernel_frac"] = (
            kinds["html"] * kernel["_html_s"] + kinds["pdf"] * kernel["_pdf_s"]
        ) / (CORES * r["s"])
        rows.append(row)
    for key in sorted({k for row in rows for k in row}):
        run.layer[key] = statistics.mean(row.get(key, 0.0) for row in rows)
    run.layer.update({k: v for k, v in kernel.items() if not k.startswith("_")})
    payload = sum(len(p) for p in processed.column("html").to_pylist())
    run.layer["sinks.files_written"] = statistics.mean(f for f, _ in stored)
    run.layer["sinks.bytes_written"] = statistics.mean(b for _, b in stored)
    run.layer["sinks.stored_bytes_ratio"] = run.layer["sinks.bytes_written"] / payload
    run.layer["trace.docs_per_s_traced"] = run.e2e["docs_per_s"]
    return one_pass


def _setup_layers(run: Run) -> None:
    """Median wall time of the set-up calls (set-up runs without the event
    log, so a span's whole duration is its own)."""
    for name in ("plans.session.get_spark", "sources.pages.write_pages"):
        ts = [s["end"] - s["start"] for s in run.tracer.spans
              if s["name"] == name and s["pass"] is None]
        run.layer[f"{name}_s"] = statistics.median(ts) if ts else 0.0


def crawl_batch(run: Run) -> None:
    pages_path = setup_corpus(run, "crawl_batch")
    _cli_workload(run, pages_path, ["--figures"],
                  prepare=lambda d: d.mkdir(parents=True),
                  processed=pq.read_table(pages_path, columns=["html"]))
    _setup_layers(run)


def crawl_resume(run: Run) -> None:
    """The timed calls resume into a pre-state the CLI writes itself (see
    ``_write_prestate``); writing it also warms the JVM, so no warm-up
    call precedes them."""
    pages_path = setup_corpus(run, "crawl_resume")
    pre = run.work / "pre"
    t0 = time.perf_counter()
    rest_urls = _write_prestate(run, pages_path, pre)
    prestate_s = time.perf_counter() - t0
    log(f"pre-state written: {prestate_s:.2f} s")
    table = pq.read_table(pages_path, columns=["url", "html"])
    rest = table.filter([u in rest_urls for u in table.column("url").to_pylist()])
    restore: list[float] = []

    def prepare(d: Path) -> None:
        t = time.perf_counter()
        shutil.copytree(pre, d)
        restore.append(time.perf_counter() - t)

    _cli_workload(run, pages_path, ["--figures"], prepare, processed=rest, warmups=0)
    _setup_layers(run)
    if run.traced:
        run.layer["setup.prestate_s"] = prestate_s
        run.layer["setup.restore_s"] = statistics.median(restore)
        run.layer["sinks.manifest.resume_scan_rows"] = table.num_rows - rest.num_rows


def _url_slice(url: str) -> int:
    return int.from_bytes(hashlib.sha1(url.encode()).digest()[:4], "big") % RESUME_SLICES


def _write_prestate(run: Run, pages_path: Path, pre: Path) -> set[str]:
    """Write the ``crawl_resume`` pre-state with the CLI itself: RESUME_PRIOR
    committed runs, with ``--figures``, over 9 of the corpus's 10 url-hash
    slices, the last of which lost its manifest rows (the crash window
    between the output commit and the manifest append).  Returns the urls
    left for the timed calls."""
    table = pq.read_table(pages_path)
    slices = [_url_slice(u) for u in table.column("url").to_pylist()]
    man = pre / "man"
    committed = RESUME_SLICES - 1
    for k in range(RESUME_PRIOR):
        lo, hi = k * committed // RESUME_PRIOR, (k + 1) * committed // RESUME_PRIOR
        part = pre / "prior-pages" / str(k)
        part.mkdir(parents=True)
        # INT96 timestamps, as Spark wrote the corpus
        pq.write_table(table.filter([lo <= s < hi for s in slices]),
                       part / "part-0.parquet", use_deprecated_int96_timestamps=True)
        had = set(os.listdir(man)) if man.exists() else set()
        _session()
        dt = call_cli(run.cli_main, ["--pages", str(part), "--out", str(pre / "out"),
                                     "--manifest", str(man), "--figures",
                                     str(pre / "figs")], MASTER)
        log(f"prior run {k + 1}: {dt:.3f} s")
        if k == RESUME_PRIOR - 1:
            for name in set(os.listdir(man)) - had:
                os.remove(man / name)
    shutil.rmtree(pre / "prior-pages")
    return {u for u, s in zip(table.column("url").to_pylist(), slices)
            if s == committed}


def pdf_heavy(run: Run) -> None:
    """The heavy corpus at local[4]; a traced run adds traced passes at
    local[1] after the local[4] ones, in the same (by then warm) JVM: the
    N→4N pair compares the two traced rates."""
    pages_path = setup_corpus(run, "pdf_heavy")
    one_pass = _cli_workload(run, pages_path, ["--no-repartition"],
                             prepare=lambda d: d.mkdir(parents=True),
                             processed=pq.read_table(pages_path, columns=["html"]))
    _setup_layers(run)
    if run.traced:
        one_core = _passes(run, lambda: one_pass(traced=True, master="local[1]"))
        rate = HEAVY_DOCS / statistics.median(r["s"] for r in one_core)
        run.layer["pdf.docs_per_s_1core"] = rate
        run.layer["pdf.scaling_eff"] = (
            run.layer["trace.docs_per_s_traced"] / (CORES * rate))


# ---------------------------------------------------------------------------
# query suite
# ---------------------------------------------------------------------------

# bench.py's HEADLINE queries by family; each query's span is named after
# the module that implements it.
FAMILIES = {
    "extract_q": [("operators.extract", q) for q in ("extract_docs", "extract_markdown")],
    "dedup": [("operators.dedup", q) for q in (
        "dedup_exact", "lsh_pairs", "ngram_jaccard", "jaccard_verified", "simhash")],
    "ann": [("operators.similarity", q) for q in ("ann_cosine_topk", "ann_lsh_topk")],
    "textstats": [("operators.textstats", q) for q in ("lang_id", "quality_score")],
    "relational": [("entry", q) for q in (
        "tpch_q1", "tpch_q3", "tpch_q5", "events_sessionize")],
}
# The textstats pair costs ~22 s per warm pass (most of it per action, not
# per row), more than an untraced run can spend on top of the rest; it
# runs only in traced runs, once, with the oracle check on that execution.
TRACED_ONLY = {"textstats"}
PHASES = ("parsing", "analysis", "optimization", "planning")


def _plan_s(df) -> float:
    """Catalyst phase time of ``df``'s own QueryExecution."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return sum(phases.get(p).get().durationMs() for p in PHASES
               if phases.contains(p)) / 1000.0


def query_suite(run: Run) -> None:
    """Every timed query is checked against its DuckDB oracle (this pass
    also warms every plan and Python worker), then timed with a ``noop``
    write until ``run.seconds`` have elapsed.  A traced run adds a pass
    with spans on, then runs the textstats queries once each, timed and
    oracle-checked.  Its session logs events from the start, so its
    overhead figure covers the spans only."""
    import duckdb

    import __spark_entry__ as entry

    times = []
    for k in range(SETUP_REPS):
        sf = run.work / f"sf{k}"
        t0 = time.perf_counter()
        _session().stop()
        fp = corpus.write_query_tables(str(sf), run.seed)
        times.append(time.perf_counter() - t0)
        if k < SETUP_REPS - 1:
            shutil.rmtree(sf)
    run.e2e["setup_s"] = statistics.median(times)
    run.fingerprint = fp
    run.check(corpus.check_inputs("query_suite", fp))
    run.tracer.pause()
    spark = _session(extra_conf=tracing.event_log_conf(run.work / "events")
                     if run.traced else None)

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for name in corpus.query_tables_names():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")

    def oracle_check(q: str, got) -> None:
        bad = checks.oracle_mismatch(got, con.execute(oracles[q]).fetch_arrow_table())
        run.check([f"{q}: {bad}"] if bad else [])

    timed = [(f, mod, q) for f, items in FAMILIES.items() for mod, q in items
             if f not in TRACED_ONLY]
    cold = {}
    for _, _, q in timed:
        t0 = time.perf_counter()
        got = queries[q](spark, str(sf)).toArrow()
        cold[q] = time.perf_counter() - t0
        oracle_check(q, got)
        spark.catalog.clearCache()
    log("cold pass: " + " ".join(f"{q}={t:.2f}" for q, t in cold.items()))

    passes: list[dict[str, float]] = []
    while not passes or sum(sum(p.values()) for p in passes) < run.seconds:
        passes.append(_query_pass(run, spark, queries, str(sf), timed))
    med = {q: statistics.median(p[q] for p in passes) for _, _, q in timed}
    n_docs = corpus.TABLE_ROWS["documents"]
    run.e2e["job_s"] = sum(med.values())
    run.e2e["docs_per_s"] = 2 * n_docs / (med["extract_docs"] + med["extract_markdown"])
    run.layer["peak_rss_mb"] = run.sampler.peak_mb
    if run.traced:
        run.tracer.resume()
        traced = _query_pass(run, spark, queries, str(sf), timed, plan=True)
        run.layer["trace.overhead_frac"] = sum(traced.values()) / run.e2e["job_s"] - 1.0
        for f in TRACED_ONLY:
            for mod, q in FAMILIES[f]:
                run.layer[f"{mod}.{q}.plan_s"] = _plan_s(queries[q](spark, str(sf)))
                with run.tracer.span(f"{mod}.{q}"):
                    t0 = time.perf_counter()
                    got = queries[q](spark, str(sf)).toArrow()
                    traced[q] = time.perf_counter() - t0
                oracle_check(q, got)
        run.tracer.pause()
        _query_layers(run, traced, med)
    con.close()
    spark.stop()
    _setup_layers(run)


def _query_pass(run: Run, spark, queries, sf: str, suite, plan: bool = False) -> dict:
    """Each query once, fully materialised by a ``noop`` write; returns
    seconds per query.  With ``plan``, also records Catalyst phase time."""
    from qwen_ocr_spark.plans.session import gc_hint
    out = {}
    for _, mod, q in suite:
        gc_hint(spark)
        if plan:
            run.layer[f"{mod}.{q}.plan_s"] = _plan_s(queries[q](spark, sf))
        with run.sampler.measuring(), run.tracer.span(f"{mod}.{q}"):
            t0 = time.perf_counter()
            queries[q](spark, sf).write.format("noop").mode("overwrite").save()
            out[q] = time.perf_counter() - t0
        spark.catalog.clearCache()
    log("query pass: " + " ".join(f"{q}={t:.2f}" for q, t in out.items()))
    return out


def _query_layers(run: Run, traced: dict[str, float], med: dict[str, float]) -> None:
    """Per-query and per-family metrics of the traced pass, with Spark's
    accounting attributed to each query's span."""
    log = tracing.read_event_log(run.work / "events")
    by_span = tracing.stages_by_span(log)
    for fam, items in FAMILIES.items():
        run.layer[f"query.{fam}_s"] = sum(med.get(q, traced[q]) for _, q in items)
    for s in run.tracer.spans:
        q = s["name"].rsplit(".", 1)[-1]
        if q not in traced:
            continue
        tot = tracing.stage_totals(by_span.get(s["id"], []))
        run.layer[f"{s['name']}.s"] = med.get(q, traced[q])
        run.layer[f"{s['name']}.stages"] = tot["stages"]
        run.layer[f"{s['name']}.shuffle_bytes"] = tot["shuffle_write_bytes"]
        run.layer[f"{s['name']}.py_run_s"] = tot["py_run_ms"] / 1000.0


WORKLOADS = {
    "crawl_batch": crawl_batch,
    "crawl_resume": crawl_resume,
    "pdf_heavy": pdf_heavy,
    "query_suite": query_suite,
}
