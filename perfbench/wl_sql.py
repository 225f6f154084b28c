"""sql_resolve: short Spark SQL queries through the JVM DirectoryTableCatalog.

Closed loop, one client, Spark at ``local[nproc]``.  A 1,000-table catalog
built with the Python DirectoryNamespace is installed as the DSv2 catalog
``lake``; each table points at one of five small dimension tables.  Table
choice is Zipf-skewed (s = 1.1).  The mix is 85% ``SELECT ... WHERE`` on one
table, 10% ``SHOW TABLES`` and 5% write pairs: drop the previous pair's
table, ``create_table`` a new one from a small DataFrame, and read it back
through SQL (read-your-write across the Python and JVM planes).  Every
result is checked with pyarrow on the same parquet file or against the
benchmark's model of the catalog.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from harness import Load, end_to_end, halves_ratio, median, metric, proc_io
from wl_catalog import Model, build

SOURCES = tuple(datagen.STAR_ROWS)
ZIPF_S = 1.1
SIZES = {"full": (20, 1000), "tiny": (2, 20)}  # namespaces, tables


class SqlLoad(Load):
    workload = "sql_resolve"
    mix = (("select", 17), ("show_tables", 2), ("write_pair", 1))  # per 20-request pass

    def __init__(self, ctx, rng, m, ns, model: Model, star: dict[str, str]):
        super().__init__(ctx, rng)
        self.m, self.ns, self.model = m, ns, model
        self.spark = ctx.spark
        # Zipf ranks over a seeded permutation of the tables, interleaved by
        # source so every seed sends the same traffic share to each file.
        self.source = {tid: SOURCES[int(tid[1][1:]) % len(SOURCES)] for tid in model.live}
        groups = [[t for t in model.live if self.source[t] == s] for s in SOURCES]
        for g in groups:
            rng.shuffle(g)
        self.ranked = [t for tier in zip(*groups) for t in tier]
        self.cum = list(itertools.accumulate(1.0 / r**ZIPF_S for r in range(1, len(self.ranked) + 1)))
        self.star = {s: pq.read_table(os.path.join(d, "part-00000.parquet")) for s, d in star.items()}
        self.reads: list[float] = []
        self.writes: list[float] = []
        self.pending: tuple[str, str] | None = None
        self.counter = 0
        self.jobs: list[int] = []
        self.tasks: list[int] = []
        self.jvm_read: list[int] = []

    def zipf_table(self) -> tuple[str, str]:
        i = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
        return self.ranked[min(i, len(self.ranked) - 1)]

    def _query(self, sql: str):
        """spark.sql (parse, analysis, loadTable) then collect, both timed."""
        tr = self.tracer
        with tr.span("sql.query"):
            with tr.span("sql.analyze"):
                df = self.spark.sql(sql)
            with tr.span("sql.execute"):
                return df.collect()

    def _traced_query(self, sql: str):
        """The query under its own job group, with the JVM's read bytes."""
        sc = self.spark.sparkContext
        group = f"perfbench-{self.tracer.request_id}"
        sc.setJobGroup(group, sql)
        io0 = proc_io(self.ctx.jvm_pid)
        rows = self._query(sql)
        self.jvm_read.append(proc_io(self.ctx.jvm_pid)[0] - io0[0])
        st = sc.statusTracker()
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
        self.jobs.append(len(jobs))
        self.tasks.append(sum(s.numTasks for s in stages if s))
        return rows

    # -- requests: each returns True or a description of the mismatch -------

    def select(self):
        tid = self.zipf_table()
        src = self.source[tid]
        lo = self.rng.randrange(datagen.STAR_ROWS[src])
        return self.select_range(tid, lo, lo + self.rng.randrange(10))

    def select_range(self, tid, lo: int, hi: int):
        src = self.source[tid]
        key, val = datagen.STAR_COLUMNS[src]
        sql = f"SELECT {key}, {val} FROM lake.{tid[0]}.{tid[1]} WHERE {key} BETWEEN {lo} AND {hi}"
        t = time.perf_counter()
        rows = self._traced_query(sql) if self.ctx.trace else self._query(sql)
        self.reads.append(time.perf_counter() - t)
        tbl = self.star[src]
        want = tbl.filter(pc.and_(pc.greater_equal(tbl[key], lo), pc.less_equal(tbl[key], hi)))
        want = sorted(zip(want[key].to_pylist(), want[val].to_pylist()))
        return True if sorted(tuple(r) for r in rows) == want else f"{sql}: {rows}"

    def first_query(self):
        return self.select_range(self.ranked[0], 0, 9)

    def show_tables(self):
        ns = self.zipf_table()[0]
        t = time.perf_counter()
        with self.tracer.span("sql.show_tables"):
            rows = self.spark.sql(f"SHOW TABLES IN lake.{ns}").collect()
        self.reads.append(time.perf_counter() - t)
        got = sorted(r.tableName for r in rows)
        return True if got == self.model.names_in(ns) else f"SHOW TABLES IN lake.{ns}: {got}"

    def write_pair(self):
        """Drop the previous pair's table, create a new one, read it back."""
        m = self.m
        self.counter += 1
        tid = (self.zipf_table()[0], f"w{self.counter}")
        rows = sorted((self.rng.randrange(10**6), f"row{i}") for i in range(5))
        data = self.spark.createDataFrame(rows, "id long, name string")
        t = time.perf_counter()
        self.drop_pending()
        with self.tracer.span("ingest.create_table"):
            r = self.ns.create_table(m.CreateTableRequest(id=list(tid)), data=data)
        self.model.add(tid, r.location, r.properties)
        self.pending = tid
        with self.tracer.span("sql.read_your_write"):
            got = self.spark.sql(f"SELECT id, name FROM lake.{tid[0]}.{tid[1]}").collect()
        self.writes.append(time.perf_counter() - t)
        got = sorted(tuple(x) for x in got)
        return True if got == rows else f"read-your-write {tid}: {got} != {rows}"

    def drop_pending(self) -> None:
        if self.pending is not None:
            with self.tracer.span("ingest.drop_table"):
                self.ns.drop_table(self.m.DropTableRequest(id=list(self.pending)))
            self.model.remove(self.pending)
            self.pending = None


def run(ctx) -> dict:
    from lance_namespace_impls_spark.catalog import DirectoryNamespace
    from lance_namespace_impls_spark.catalog import models as m
    from lance_namespace_impls_spark.catalog.jvm_catalog import install_catalog

    n_ns, n_tables = SIZES[ctx.size]
    spark = ctx.start_spark()
    star = {s: os.path.join(ctx.path("data", "star"), s) for s in SOURCES}
    model = Model()
    root = ctx.path("warehouse")
    ns = DirectoryNamespace({"root": root})
    t = time.perf_counter()
    build(ns, m, model, n_ns, n_tables, locations=[star[SOURCES[j % len(SOURCES)]] for j in range(n_tables)])
    build_s = time.perf_counter() - t
    install_catalog(spark, "lake", root)
    load = SqlLoad(ctx, random.Random(ctx.seed), m, ns, model, star)
    t = time.perf_counter()
    load.step("first_query")
    setup_s = time.perf_counter() - ctx.t0
    first_query_s = time.perf_counter() - t

    warm = ctx.warmup(load, passes=1)
    load.reads.clear(), load.writes.clear()
    load.jobs.clear(), load.tasks.clear(), load.jvm_read.clear()
    attempted0 = load.attempted
    passes, elapsed = ctx.measure(load, nominal_pass_s=2.0)
    n_ops = load.attempted - attempted0
    load.drop_pending()

    tr = ctx.tracer
    analyze, execute = tr.durations("sql.analyze"), tr.durations("sql.execute")
    n_q = max(len(load.jobs), 1)
    layers = {
        "sql.analyze.p50_ms": metric(median(analyze) * 1e3, "ms"),
        "sql.execute.p50_ms": metric(median(execute) * 1e3, "ms"),
        "sql.analyze_share": metric(sum(analyze) / max(sum(analyze) + sum(execute), 1e-9), "ratio"),
        "sql.jobs_per_query": metric(sum(load.jobs) / n_q, "count"),
        "sql.tasks_per_query": metric(sum(load.tasks) / n_q, "count"),
        "jvm.read_kb_per_query": metric(sum(load.jvm_read) / 1024 / n_q, "KiB"),
        "sql.show_tables.p50_ms": metric(median(tr.durations("sql.show_tables")) * 1e3, "ms"),
        "ingest.create_table.p50_ms": metric(median(tr.durations("ingest.create_table")) * 1e3, "ms"),
        "ingest.drop_table.p50_ms": metric(median(tr.durations("ingest.drop_table")) * 1e3, "ms"),
        "directory.build_s": metric(build_s, "s"),
        "first_query_s": metric(first_query_s, "s"),
        "write_p50_ms": metric(median(load.writes) * 1e3, "ms"),
        "warmup_s": metric(warm, "s"),
        "steady_ratio": metric(halves_ratio(passes), "ratio"),
    }
    resident, memory = ctx.memory()
    layers.update(memory)
    return {
        "attempted": load.attempted,
        "failed": load.failed,
        "e2e": end_to_end(setup_s, n_ops, elapsed, load.reads, passes, resident),
        "layers": layers,
        "samples": {"requests": n_ops, "reads": len(load.reads), "writes": len(load.writes),
                    "passes": len(passes)},
    }
