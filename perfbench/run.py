"""Benchmark of the extraction engine: one workload per invocation.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

Runs from any working directory; the program under test is the checkout
that holds this directory.  Work files live under ``.perfbench_work/`` in
that checkout and are removed on exit; a traced run (``--trace 1``) keeps
its spans in ``.perfbench_out/``.  The last line of standard output is
the result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics of BENCHMARK.json (``--trace 0``) or its per-layer
metrics (``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM = ["qwen_ocr_spark/__init__.py", "scripts/run_extract.py",
           "__spark_entry__.py", "BENCHMARK.json"]


def environment() -> dict:
    """Hardware and software this result was measured on."""
    import pyarrow
    import pyspark
    mem_kb = next((int(line.split()[1]) for line in open("/proc/meminfo")
                   if line.startswith("MemTotal:")), 0)
    try:
        commit = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                                capture_output=True, text=True, timeout=10,
                                check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for p in sorted(ROOT.glob("qwen_ocr_spark/**/*.py")) + [
            ROOT / "scripts" / "run_extract.py", ROOT / "__spark_entry__.py"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024,
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "git_commit": commit,
            "source_digest": h.hexdigest()}


def overhead(history: Path, traced_job_s: float | None) -> float:
    """Traced job time over the median untraced one recorded in this
    checkout, minus 1; 0 when there is no untraced run to compare with.
    The traced and untraced calls sit at the same place in their runs
    (after the same untimed calls), so JIT warm-up does not bias the ratio."""
    if not traced_job_s or not history.exists():
        return 0.0
    untraced = [json.loads(line)["job_s"] for line in history.read_text().splitlines()]
    return traced_job_s / statistics.median(untraced) - 1.0


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let the Python workers import the program."""
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    os.chdir(work)
    sys.path.insert(0, str(ROOT))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not (ROOT / p).exists()]
    if missing:
        print(f"program under test not found in {ROOT}: missing {missing}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {w["name"] for w in spec["workloads"]}
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import tracing
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its work files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    cwd = os.getcwd()
    isolate(work)
    env = environment()
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "benchmark_workload": args.workload in names, "env": env}))
    sys.stdout.flush()
    tracer = tracing.Tracer(bool(args.trace))
    try:
        with tracing.RssSampler() as sampler:
            run = workloads.Run(ROOT, work, args.seed, args.seconds, tracer, sampler)
            tracer.resume()     # spans around set-up; the workload toggles it
            try:
                workloads.WORKLOADS[args.workload](run)
            finally:
                tracer.pause()
    finally:
        workloads.shutdown_jvm()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    run.layer["failed_frac"] = run.failed / max(run.attempted, 1)
    history = ROOT / ".perfbench_out" / f"untraced-{args.workload}.jsonl"
    if not args.trace and not run.failures:
        history.parent.mkdir(exist_ok=True)
        with history.open("a") as f:
            f.write(json.dumps({"seed": args.seed, **run.e2e}) + "\n")
    elif args.trace and "trace.overhead_frac" not in run.layer:
        run.layer["trace.overhead_frac"] = overhead(history, run.e2e.get("job_s"))
    table = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = run.layer if args.trace else run.e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in table}
    if args.trace:
        out = ROOT / ".perfbench_out" / f"trace-{args.workload}-{args.seed}.json"
        tracer.write(out, {"env": env, "metrics": metrics, "all_layer_values": run.layer,
                           "fingerprint": run.fingerprint,
                           "passes": run.pass_traces})
        print(f"spans written to {out}", file=sys.stderr)
    for f in run.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
