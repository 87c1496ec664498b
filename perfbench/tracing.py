"""Spans around the program's public calls, Spark's own accounting read
back from its event log, and a process-tree RSS sampler.

A span is recorded by wrapping a public function of the program (the
wrapper replaces the module attribute, and the CLI imports its functions
at call time, so its calls go through the wrapper).  The wrapper also
sets the Spark job group to the span id, so every Spark job a span
submits can be attributed to it from the event log.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# (module, function) pairs wrapped in a traced run; the span name is the
# module path below the package plus the function name.
WRAPPED = [
    ("qwen_ocr_spark.plans.session", "get_spark"),
    ("qwen_ocr_spark.sources.pages", "write_pages"),
    ("qwen_ocr_spark.operators.extract", "extract_pages"),
    ("qwen_ocr_spark.sinks.manifest", "reconcile_manifest"),
    ("qwen_ocr_spark.sinks.manifest", "resume_filter"),
    ("qwen_ocr_spark.sinks.manifest", "write_figures"),
    ("qwen_ocr_spark.sinks.manifest", "write_output"),
]

PY_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to start Python workers": "py_start_ms",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
    "shuffle bytes written": "shuffle_write_bytes",
}


def _active_context():
    """The running SparkContext, or None before a session starts and after
    it stops."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is None or sc._jsc is None:
        return None
    return sc


class Tracer:
    """In-memory spans: id, name, parent, start, end (epoch seconds) and
    the id of the benchmark pass they belong to.  Spans are recorded only
    while the tracer is enabled and resumed."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.recording = False
        self.spans: list[dict] = []
        self.pass_id: str | None = None
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._set_group(parent["id"], parent["name"])
            else:
                self._set_group(None, None)

    @staticmethod
    def _set_group(span_id, name) -> None:
        sc = _active_context()
        if sc is None:
            return
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"span-{span_id}", name)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapped

    def resume(self) -> None:
        """Start recording and route the program's public calls through
        span wrappers."""
        if not self.enabled or self.recording:
            return
        self.recording = True
        for mod_name, fn_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            name = f"{mod_name.removeprefix('qwen_ocr_spark.')}.{fn_name}"
            self._saved.append((mod, fn_name, orig))
            setattr(mod, fn_name, self.wrap(orig, name))

    def pause(self) -> None:
        """Stop recording and restore the program's own functions."""
        self.recording = False
        while self._saved:
            mod, fn_name, orig = self._saved.pop()
            setattr(mod, fn_name, orig)

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def event_log_conf(event_dir: Path) -> dict[str, str]:
    """Session conf that writes Spark's event log, uncompressed, to
    ``event_dir``."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def read_event_log(event_dir: Path) -> dict:
    """Jobs and stages of every application logged under ``event_dir``:
    ``{"jobs": [...], "stages": {key: {...}}}`` where each job carries its
    job group (the submitting span) and each completed stage its interval,
    task run times, GC time and the Python/shuffle SQL metrics."""
    jobs, stages = [], {}
    for f in sorted(event_dir.iterdir()) if event_dir.exists() else []:
        if not f.is_file() or f.name.startswith("."):
            continue
        app = f.name
        with f.open() as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs.append({"group": props.get("spark.jobGroup.id"),
                                 "stages": [(app, s) for s in e["Stage IDs"]]})
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((app, e["Stage ID"]), _new_stage())
                    m = e.get("Task Metrics") or {}
                    st["task_run_ms"].append(m.get("Executor Run Time", 0))
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault((app, info["Stage ID"]), _new_stage())
                    st["start"] = info.get("Submission Time", 0) / 1000.0
                    st["end"] = info.get("Completion Time", 0) / 1000.0
                    st["completed"] = True
                    for acc in info.get("Accumulables", []):
                        key = PY_METRICS.get(acc.get("Name"))
                        if key:
                            st[key] += float(acc.get("Value") or 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    d = {"task_run_ms": [], "gc_ms": 0, "start": 0.0, "end": 0.0,
         "completed": False}
    d.update({k: 0.0 for k in PY_METRICS.values()})
    return d


def stages_by_span(log: dict) -> dict[int, list[dict]]:
    """Completed stages keyed by the span id whose job group submitted them."""
    out: dict[int, list[dict]] = {}
    for job in log["jobs"]:
        g = job["group"] or ""
        if not g.startswith("span-"):
            continue
        sid = int(g[len("span-"):])
        for key in job["stages"]:
            st = log["stages"].get(key)
            if st and st["completed"]:
                out.setdefault(sid, []).append(st)
    return out


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    """The span ``root_id`` and every span below it."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(children.get(sid, []))
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur_end:
            continue
        total += b - max(a, cur_end)
        cur_end = b
    return total


def self_times(spans: list[dict], by_span: dict[int, list[dict]]) -> dict[int, float]:
    """A span's duration minus the part covered by its child spans and by
    the Spark stages its own jobs ran."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        iv = [(c["start"], c["end"]) for c in children.get(s["id"], []) if c["end"]]
        iv += [(st["start"], st["end"]) for st in by_span.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(iv, s["start"], s["end"])
    return out


def stage_totals(stages: list[dict]) -> dict:
    """Sums over stages, plus the straggler ratio of the stage that ran
    Python (the extraction UDF): max task time over median task time."""
    tot = {k: sum(st[k] for st in stages) for k in PY_METRICS.values()}
    tot["stages"] = len(stages)
    tot["gc_s"] = sum(st["gc_ms"] for st in stages) / 1000.0
    tot["run_s"] = sum(sum(st["task_run_ms"]) for st in stages) / 1000.0
    py = [st for st in stages if st["py_run_ms"] > 0]
    tot["py_tasks"] = sum(len(st["task_run_ms"]) for st in py)
    heaviest = max(py, key=lambda st: sum(st["task_run_ms"]), default=None)
    if heaviest and heaviest["task_run_ms"]:
        med = statistics.median(heaviest["task_run_ms"]) or 1
        tot["task_max_over_median"] = max(heaviest["task_run_ms"]) / med
    else:
        tot["task_max_over_median"] = 0.0
    return tot


def pass_row(spans: list[dict], log: dict, root_name: str, cores: int) -> dict:
    """Per-layer metrics of one traced pass whose top span is ``root_name``:
    self time per span name and Spark's accounting of every job the pass
    submitted."""
    by_span = stages_by_span(log)
    self_t = self_times(spans, by_span)
    root = next(s for s in spans if s["name"] == root_name)
    tree = descendants(spans, root["id"])
    tot = stage_totals([st for s in tree for st in by_span.get(s["id"], [])])
    groups = {f"span-{s['id']}" for s in tree}
    dur = root["end"] - root["start"]
    row = {
        "operators.extract.py_run_s": tot["py_run_ms"] / 1000.0,
        "operators.extract.py_init_s": tot["py_init_ms"] / 1000.0,
        "operators.extract.py_start_s": tot["py_start_ms"] / 1000.0,
        "operators.extract.bytes_to_py": tot["bytes_to_py"],
        "operators.extract.bytes_from_py": tot["bytes_from_py"],
        "operators.extract.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "operators.extract.tasks": tot["py_tasks"],
        "operators.extract.task_max_over_median": tot["task_max_over_median"],
        "spark.executor_busy_frac": tot["run_s"] / (cores * dur),
        "spark.jobs": sum(1 for j in log["jobs"] if j["group"] in groups),
        "spark.stages": tot["stages"],
        "spark.gc_s": tot["gc_s"],
    }
    for s in tree:
        key = f"{s['name']}_s"
        row[key] = row.get(key, 0.0) + self_t[s["id"]]
    return row


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendant processes."""
    parent_of, rss = {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                resident = int(f.read().split()[1])
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        parent_of[int(d)] = ppid
        rss[int(d)] = resident * page
    total, members = 0, {root}
    changed = True
    while changed:
        changed = False
        for pid, ppid in parent_of.items():
            if ppid in members and pid not in members:
                members.add(pid)
                changed = True
    for pid in members:
        total += rss.get(pid, 0)
    return total


class RssSampler:
    """Samples the RSS of this process tree while ``active`` is set; the
    peak over all active intervals is ``peak_mb``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=10)

    @contextmanager
    def measuring(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self._sample()

    def _sample(self) -> None:
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._active.wait()
            if self._stop.is_set():
                return
            self._sample()
            time.sleep(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
