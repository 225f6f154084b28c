"""pipeline_ops: repeated passes of eight declared LLM-pipeline queries.

Closed loop, one client, Spark at ``local[nproc]``, no catalog.  Each pass
runs the eight queries below (one or two per operator module) into the
``noop`` sink, in an order drawn from the seed.  The corpus is generated
from a fixed seed so that the DuckDB-oracle hashes stored in
``oracle_hashes.json`` apply; once per run, outside timing, every query is
collected and its order-insensitive hash compared with the stored one.
"""

from __future__ import annotations

import os
import random
import time

from harness import Load, end_to_end, halves_ratio, median, metric
from oracle import load_hashes, result_hash

# (operator module, declared query): one or two queries per module.  The
# module is part of the per-layer metric name, fixed here so names stay put
# if a query's builder moves.
QUERIES = (
    ("llm", "q45_exact_dedup_stats"),
    ("corpus", "q161_minhash_portable_lsh"),
    ("pipeline", "q99_neardup_components"),
    ("pipeline", "q95_tfidf_top_terms"),
    ("similarity", "q106_kmeans_assign"),
    ("embedding_ops", "q218_ivfpq_search"),
    ("curation", "q103_curation_pipeline"),
    ("multimodal", "q322_image_phash_neardup"),
)
QUERY_NAMES = tuple(name for _, name in QUERIES)
CORPUS_SEED = 20240601
SIZES = {"full": (5000, 2000), "tiny": (120, 120)}  # documents, embeddings: sf0.1 scale


def corpus_args(size: str) -> tuple[int, int, int]:
    return (CORPUS_SEED, *SIZES[size])


class PipelineLoad(Load):
    workload = "pipeline_ops"
    mix = tuple((name, 1) for name in QUERY_NAMES)  # each query once per pass

    def __init__(self, ctx, rng, registry, corpus: str, release):
        super().__init__(ctx, rng)
        self.registry, self.corpus, self.release = registry, corpus, release
        self.spark = ctx.spark
        self.module = {name: module for module, name in QUERIES}
        self.lat: dict[str, list[float]] = {n: [] for n in QUERY_NAMES}
        self.tasks: dict[str, list[int]] = {n: [] for n in QUERY_NAMES}
        self.failed_tasks: dict[str, list[int]] = {n: [] for n in QUERY_NAMES}
        self.error_lines: dict[str, list[int]] = {n: [] for n in QUERY_NAMES}

    def request(self, name: str):
        try:
            self._traced(name) if self.ctx.trace else self._run(name)
        finally:
            self.release()
        return True

    def _run(self, name: str) -> None:
        t = time.perf_counter()
        with self.tracer.span(f"operators.{self.module[name]}.{name}"):
            df = self.registry[name].builder(self.spark, self.corpus)
            df.write.format("noop").mode("overwrite").save()
        self.lat[name].append(time.perf_counter() - t)

    def _traced(self, name: str) -> None:
        """The query under its own job group, with the JVM's ERROR lines."""
        sc = self.spark.sparkContext
        group = f"perfbench-{self.tracer.request_id}"
        sc.setJobGroup(group, name)
        log_at = os.path.getsize(self.ctx.jvm_log)
        self._run(name)
        with open(self.ctx.jvm_log, "rb") as f:
            f.seek(log_at)
            self.error_lines[name].append(sum(b" ERROR " in line for line in f))
        st = sc.statusTracker()
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        stages = [s for s in (st.getStageInfo(i) for j in jobs if j for i in j.stageIds) if s]
        self.tasks[name].append(sum(s.numTasks for s in stages))
        self.failed_tasks[name].append(sum(s.numFailedTasks for s in stages))

    def check(self, name: str, want: str) -> None:
        """Collect ``name`` once and compare its hash with the oracle's."""
        try:
            df = self.registry[name].builder(self.spark, self.corpus)
            got = result_hash(df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:
            got = f"{type(exc).__name__}: {exc}"
        finally:
            self.release()
        self.record(name, True if got == want else f"hash {got} != oracle {want}")


def run(ctx) -> dict:
    import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
    from lance_namespace_impls_spark.operators.scale_windows import release_ranged_caches
    from lance_namespace_impls_spark.plans.registry import QUERIES as REGISTRY

    ctx.start_spark()
    want = load_hashes()[ctx.size]
    load = PipelineLoad(ctx, random.Random(ctx.seed), REGISTRY, ctx.path("data", "corpus"),
                        release_ranged_caches)
    # The correctness pass, in fixed order: its first query is the first
    # request served, and the whole pass warms the JVM and Python workers.
    t = time.perf_counter()
    load.check(QUERY_NAMES[0], want[QUERY_NAMES[0]])
    setup_s = time.perf_counter() - ctx.t0
    for name in QUERY_NAMES[1:]:
        load.check(name, want[name])
    warm = time.perf_counter() - t
    passes, elapsed = ctx.measure(load, nominal_pass_s=15.0)
    n_ops = len(passes) * load.pass_ops

    lat = [x for v in load.lat.values() for x in v]
    layers = {"warmup_s": metric(warm, "s"), "steady_ratio": metric(halves_ratio(passes), "ratio")}
    for module, name in QUERIES:
        layers[f"{module}.{name}_s"] = metric(median(load.lat[name]), "s")
        for counter, values in (
            ("tasks", load.tasks), ("failed_tasks", load.failed_tasks), ("error_log_lines", load.error_lines)
        ):
            layers[f"{name}.{counter}"] = metric(sum(values[name]) / len(passes), "count")
    resident, memory = ctx.memory()
    layers.update(memory)
    return {
        "attempted": load.attempted,
        "failed": load.failed,
        "e2e": end_to_end(setup_s, n_ops, elapsed, lat, passes, resident),
        "layers": layers,
        "samples": {"requests": n_ops, "reads": len(lat), "writes": 0, "passes": len(passes)},
    }
