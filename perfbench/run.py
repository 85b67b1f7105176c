"""Benchmark entry point.

    python3 perfbench/run.py --workload {search_serve,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One workload per process. Inputs are
generated from ``--seed``; outputs are checked against naive references
and DuckDB oracles outside the timed region. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``). Lines before it give every
workload figure by name with its unit, and the run metadata.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "page_rank_hadoop_spark"
WORKLOADS = ("search_serve", "query_mix")


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 8.0


def pin_host(work: str) -> dict:
    """Size the engine to this host before it is imported: ``session.py``
    reads SPARK_GRAFT_CPUS at import time (default 32 shuffle partitions)
    and the Spark driver heap defaults to 48g. Python workers get the repo on
    their path (they import the package by name), and every scratch path
    points inside the checkout."""
    cpus = host_cpus()
    mem_gb = max(1, min(4, int(host_mem_gb() // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_STREAM_SCRATCH": tmp,
    }
    os.environ.update(env)
    return env


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git work tree of its
    own (``source_digest`` identifies the code then)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the JVM it launched (the JVM
    exits when its stdin closes); ``SparkSession.stop`` leaves it running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


class Run:
    """State of one benchmark process: the session, the tracer, the
    phase clocks and every figure the workload records."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None
        self.setup: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.t_timed = self.t_timed_end = 0.0
        self.units = 1.0  # units of work in the timed region (work_s is per unit)
        self._overhead_setup = 0.0
        self._job_lo = 0

    def start_session(self) -> None:
        from page_rank_hadoop_spark import get_spark

        tmp = os.environ["TMPDIR"]
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                # the tracer reads every job and stage after the run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.setup["session_s"] = time.perf_counter() - T_START
        if self.trace:
            import importlib
            import pkgutil

            from spans import Tracer

            for sub in ("operators", "sources"):
                pkg = importlib.import_module(f"{PACKAGE}.{sub}")
                for m in pkgutil.iter_modules(pkg.__path__):
                    importlib.import_module(f"{PACKAGE}.{sub}.{m.name}")
            importlib.import_module(f"{PACKAGE}.plans.registry")
            self.tracer = Tracer(self.spark, PACKAGE)
            self.report["traced_callables"] = self.tracer.install()
            self._job_lo = self.tracer.next_job_id()
            self._root = self.tracer.open("run")

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def end_setup(self) -> None:
        self.e2e["setup_s"] = sum(self.setup.values())
        if self.tracer:
            self._overhead_setup = self.tracer.overhead_s
        self.t_timed = time.perf_counter()

    def end_timed(self) -> None:
        """Close the timed region. When tracing, attribute every job run
        so far to its span (the checks after this point run no Spark job)."""
        self.t_timed_end = time.perf_counter()
        if self.tracer:
            self._overhead_timed = self.tracer.overhead_s - self._overhead_setup
            self.tracer.close(self._root)
            self.trace_totals = self.tracer.attribute(self._job_lo, self.tracer.next_job_id())

    def fail(self, where: str, problems: list[str]) -> None:
        self.failed += 1
        self.problems.extend(f"{where}: {p}" for p in problems[:3])

    def finish_trace(self) -> bool:
        """Fill the trace-wide layer figures and write the spans. Returns
        whether every job was read back and attributed to a span."""
        tr = self.tracer
        totals = self.trace_totals
        for k in ("setup_s", "work_s"):
            self.layer[f"traced.{k}"] = self.e2e[k]
        self.layer["overhead.setup_s"] = self._overhead_setup
        self.layer["overhead.work_s"] = self._overhead_timed / self.units
        self.layer["trace.spans"] = len(tr.spans)
        self.layer["trace.jobs_total"] = totals["jobs_total"]
        self.layer["trace.jobs_unattributed"] = totals["jobs_unattributed"] + totals["jobs_missing"]
        self.report["trace_totals"] = totals
        spans_path = os.path.join(ROOT, ".perfbench", f"spans-{self.workload}-s{self.seed}.jsonl")
        tr.write(spans_path)
        self.report["spans_file"] = os.path.relpath(spans_path, ROOT)
        return (
            totals["jobs_missing"] == 0
            and totals["jobs_unattributed"] == 0
            and totals["jobs_in_spans"] == totals["jobs_total"]
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (os.path.join(PACKAGE, "__init__.py"), os.path.join("tools", "verify_local.py"), "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_host(work)
    for p in (os.path.join(ROOT, "tools"), os.path.dirname(os.path.abspath(__file__)), ROOT):
        sys.path.insert(0, p)
    import workloads

    load_before = os.getloadavg()
    run = Run(args, work)
    trace_ok = True
    try:
        run.start_session()
        workloads.WORKLOADS[args.workload](run)
        if run.tracer:
            trace_ok = run.finish_trace()
    finally:
        if run.spark is not None:
            run.spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    import duckdb
    import pyarrow
    import pyspark

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
    }
    run.report["setup"] = run.setup
    run.layer.update({f"setup.{k}": v for k, v in run.setup.items()})
    run.report["fail_ratio"] = run.failed / max(run.attempted, 1)
    run.layer["fail_ratio"] = run.report["fail_ratio"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in {**run.e2e, **run.layer}.items():
        print(f"{k:44s} {v:16.6f} {units.get(k, '')}")
    print(workloads.dump({"meta": meta}))
    print(workloads.dump({"report": run.report}))
    for p in run.problems:
        print(f"FAILED {p}")

    section = spec["per_layer"] if run.trace else spec["end_to_end"]
    source = run.layer if run.trace else run.e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in section}
    result = {
        "correct": run.failed == 0 and run.attempted > 0 and trace_ok,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
