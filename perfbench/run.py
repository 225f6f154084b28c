"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_dir --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads: ``catalog_dir``, ``sql_resolve``,
``pipeline_ops`` (see README.md).  Inputs are generated from ``--seed`` under
``.perfbench/`` in a fresh directory per run; ``--trace 1`` records spans and
outside-the-program counters and prints per-layer metrics instead of
end-to-end ones.  The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Exit status is 0 only
when every request returned a correct result.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

from harness import Tracer, fs_type, metric, peak_rss_mb, rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("catalog_dir", "sql_resolve", "pipeline_ops")
LAYERS = ("request", "directory", "sql", "ingest", "operators")

# Every run prints all of these, by name and unit (--trace 0).
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "read_p95_ms": "ms",
    "pass_s": "s",
    "resident_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric (--trace 1) with its unit.

    A traced run prints all of them; a layer its workload does not call
    reads 0 there.
    """
    from wl_catalog import READS, WRITES
    from wl_pipeline import QUERIES

    units = {f"directory.{op}.p50_ms": "ms" for op in READS + WRITES}
    units.update(
        {
            "directory.read_kb_per_op": "KiB",
            "directory.write_kb_per_op": "KiB",
            "directory.build_s": "s",
            "write_p50_ms": "ms",
            "write_p95_ms": "ms",
            "sql.analyze.p50_ms": "ms",
            "sql.execute.p50_ms": "ms",
            "sql.analyze_share": "ratio",
            "sql.jobs_per_query": "count",
            "sql.tasks_per_query": "count",
            "jvm.read_kb_per_query": "KiB",
            "sql.show_tables.p50_ms": "ms",
            "ingest.create_table.p50_ms": "ms",
            "ingest.drop_table.p50_ms": "ms",
            "first_query_s": "s",
            "jvm.peak_rss_mb": "MB",
            "jvm.live_heap_mb": "MB",
        }
    )
    for module, name in QUERIES:
        units[f"{module}.{name}_s"] = "s"
        for counter in ("tasks", "failed_tasks", "error_log_lines"):
            units[f"{name}.{counter}"] = "count"
    units.update({"warmup_s": "s", "steady_ratio": "ratio"})
    units.update({f"self_ms_per_op.{k}": "ms" for k in LAYERS})
    units["trace.spans"] = "count"
    return units


class Ctx:
    """Per-run state handed to a workload: seed, clocks, work dir, tracer."""

    def __init__(self, args, work: str, t0: float):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.size = args.size
        self.work = work
        self.t0 = t0
        self.tracer = Tracer(self.trace)
        self.failures: list[str] = []
        self.spark = None
        self.jvm_pid = None
        self.jvm_log = self.path("jvm-stderr.log")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def warmup(self, load, passes: int) -> float:
        """Run ``passes`` whole passes of ``load``; return their wall time."""
        t = time.perf_counter()
        for _ in range(0 if self.size == "tiny" else passes * load.pass_ops):
            load.step()
        return time.perf_counter() - t

    def measure(self, load, nominal_pass_s: float):
        """Run the measured passes; return per-pass times and total elapsed.

        The pass count is ``--seconds`` over the workload's nominal pass time
        on a 4-core host (at least one), fixed before measuring: every run
        does the same work in the same order, so a JVM that is still warming
        up is sampled at the same point of its curve in every run.
        """
        self.tracer.spans.clear()
        passes = []
        start = time.perf_counter()
        for _ in range(max(1, round(self.seconds / nominal_pass_s))):
            t = time.perf_counter()
            for _ in range(load.pass_ops):
                load.step()
            passes.append(time.perf_counter() - t)
        return passes, time.perf_counter() - start

    def start_spark(self):
        """Start the program's SparkSession with the JVM's stderr in a file."""
        from lance_namespace_impls_spark import get_spark

        saved = os.dup(2)
        fd = os.open(self.jvm_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        try:
            sys.stderr.flush()
            os.dup2(fd, 2)  # inherited by the spark-submit/JVM child
            self.spark = get_spark(app_name="perfbench")
        finally:
            os.dup2(saved, 2)
            os.close(saved)
            os.close(fd)
        self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        return self.spark

    def memory(self) -> tuple[float, dict]:
        """``resident_mb`` and the JVM's memory layers, read after the run.

        ``resident_mb`` is the benchmark process's peak RSS plus, where
        Spark runs, the JVM's RSS once its garbage is collected.  Outside
        timing, Python first drops its proxies of JVM objects, then full
        collections repeat until the live heap stops shrinking (Spark's
        ContextCleaner releases shuffle and broadcast state in between).
        The JVM's peak RSS is kept as a layer only: under the program's
        heap setting it follows how far G1 grew the young generation,
        which differed by 1.4 GB between runs of the same code.
        """
        if self.spark is None:
            return peak_rss_mb(), {}
        peak = peak_rss_mb(self.jvm_pid)
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        live = float("inf")
        for _ in range(8):
            jvm.java.lang.System.gc()
            time.sleep(0.2)
            used = heap.getHeapMemoryUsage().getUsed() / 2**20
            settled = used > 0.98 * live
            live = min(live, used)
            if settled:
                break
        layers = {"jvm.peak_rss_mb": metric(peak, "MB"), "jvm.live_heap_mb": metric(live, "MB")}
        return peak_rss_mb() + rss_mb(self.jvm_pid), layers

    def stop_spark(self) -> None:
        """Stop Spark, then wait for the JVM and its Python workers to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = _descendants(self.jvm_pid)
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in kids:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(k) for k in f.read().split()]
                out += kids
                todo += kids
        except OSError:
            continue
    return out


def _prepare_env(root: str, work: str) -> None:
    """Keep Spark's scratch inside the run directory; export the repo."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Every JVM started below (javac, the Spark launcher, the Spark driver) keeps
    # its temp files in the run directory and writes no hsperfdata.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: smoke test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lance_namespace_impls_spark", "__init__.py")):
        print("perfbench: run from the repository root (lance_namespace_impls_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(root, work)
    try:
        # Input generation and the plugin-jar build run in a child process,
        # so setup_s covers only the program's own imports and set-up.
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), args.workload, work,
             str(args.seed), args.size],
            check=True,
        )
        t0 = time.perf_counter()
        ctx = Ctx(args, work, t0)
        module = __import__(f"wl_{args.workload.split('_')[0]}")
        try:
            result = module.run(ctx)
        finally:
            ctx.stop_spark()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for line in ctx.failures:
        print(f"perfbench: wrong result: {line}", file=sys.stderr)
    if ctx.trace:
        result["layers"].update(_trace_layers(ctx, result))
        units = per_layer_units()
        result["layers"] = {
            name: result["layers"].get(name, metric(0, unit)) for name, unit in units.items()
        }
    _write_summary(base, args, ctx, result)
    correct = result["failed"] == 0
    print(json.dumps({**result["samples"], "warehouse_fs": fs_type(work)}), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": result["layers"] if ctx.trace else result["e2e"],
            }
        )
    )
    return 0 if correct else 1


def _trace_layers(ctx, result) -> dict:
    n = max(result["samples"]["requests"], 1)
    self_s = ctx.tracer.self_seconds_by_layer()
    out = {f"self_ms_per_op.{k}": metric(self_s.get(k, 0.0) * 1e3 / n, "ms") for k in LAYERS}
    out["trace.spans"] = metric(len(ctx.tracer.spans), "count")
    return out


def _write_summary(base, args, ctx, result) -> None:
    """Keep both metric families (and the spans of a traced run) on disk.

    A traced run reports the tracing overhead (the change of each end-to-end
    metric) against the untraced run of the same workload, seed and size,
    when that run measured the same program and benchmark files.
    """
    out = os.path.join(base, "traces")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
    mode = "traced" if ctx.trace else "untraced"
    tag = {"size": args.size, "files": files_fingerprint(os.getcwd())}
    with open(f"{stem}.{mode}.json", "w") as f:
        json.dump({**tag, "e2e": result["e2e"], "layers": result["layers"]}, f, indent=1)
    if not ctx.trace:
        return
    ctx.tracer.dump(stem + ".spans.jsonl")
    try:
        with open(f"{stem}.untraced.json") as f:
            untraced = json.load(f)
    except OSError:
        return
    if {k: untraced.get(k) for k in tag} != tag:
        print("perfbench: no tracing overhead: the untraced run measured other files or sizes",
              file=sys.stderr)
        return
    print(json.dumps({"tracing_overhead": overhead(untraced["e2e"], result["e2e"])}), file=sys.stderr)


def files_fingerprint(root: str) -> str:
    """SHA-256 over the program's and the benchmark's source files."""
    h = hashlib.sha256()
    for top in ("lance_namespace_impls_spark", os.path.join("jvm", "src"), os.path.relpath(HERE, root)):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(files):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def overhead(untraced: dict, traced: dict) -> dict:
    """Per end-to-end metric: untraced, traced and the relative change."""
    out = {}
    for name, m in untraced.items():
        a, b = m["value"], traced[name]["value"]
        out[name] = {"untraced": a, "traced": b, "change": (b - a) / a if a else None}
    return out


if __name__ == "__main__":
    sys.exit(main())
