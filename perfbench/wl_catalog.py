"""catalog_dir: the Python DirectoryNamespace under a metadata-op mix.

Closed loop, one client, no Spark.  Every call re-reads the JSON state file
and every write also rewrites it, so ``catalog.directory`` does nearly all
the work.  Each result is checked against the benchmark's own dict model of
namespaces and tables.
"""

from __future__ import annotations

import random
import time

from harness import Load, end_to_end, halves_ratio, median, metric, percentile, proc_io

READS = ("describe_table", "table_exists", "list_tables", "describe_namespace")
WRITES = ("declare_table", "deregister_table", "update_table_properties")
PAGE = 50
SIZES = {"full": (20, 1000), "tiny": (2, 20)}  # namespaces, tables


class Model:
    """What the catalog should hold: tables, namespace properties, dead ids."""

    def __init__(self):
        self.ns_props: dict[str, dict[str, str]] = {}
        self.tables: dict[tuple[str, str], tuple[str, dict[str, str]]] = {}
        self.live: list[tuple[str, str]] = []
        self._index: dict[tuple[str, str], int] = {}
        self.dead: list[tuple[str, str]] = []

    def add(self, tid, location, props):
        self.tables[tid] = (location, props)
        self._index[tid] = len(self.live)
        self.live.append(tid)

    def remove(self, tid):
        i = self._index.pop(tid)
        last = self.live.pop()
        if last != tid:
            self.live[i] = last
            self._index[last] = i
        del self.tables[tid]
        self.dead.append(tid)
        del self.dead[:-PAGE]

    def names_in(self, ns):
        return sorted(name for (n, name) in self.tables if n == ns)


def build(ns, m, model: Model, n_ns: int, n_tables: int, locations=None) -> None:
    """Create the namespaces and declare the tables through the public API."""
    for i in range(n_ns):
        props = {"owner": f"team{i}", "comment": f"namespace {i}"}
        ns.create_namespace(m.CreateNamespaceRequest(id=[f"ns{i}"], properties=props))
        model.ns_props[f"ns{i}"] = props
    for j in range(n_tables):
        tid = (f"ns{j % n_ns}", f"t{j}")
        loc = locations[j] if locations else None
        r = ns.declare_table(m.DeclareTableRequest(id=list(tid), location=loc))
        model.add(tid, r.location, r.properties)


class CatalogLoad(Load):
    workload = "catalog_dir"
    # Requests per 100-request pass.  A write pair is a declare or a
    # deregister, alternating, so the catalog size stays fixed.
    mix = (
        ("describe_table", 40),
        ("table_exists", 15),
        ("list_tables", 15),
        ("describe_namespace", 5),
        ("write_pair", 20),
        ("update_table_properties", 5),
    )

    def __init__(self, ctx, rng, m, not_found, ns, model: Model):
        super().__init__(ctx, rng)
        self.m, self.not_found, self.ns, self.model = m, not_found, ns, model
        self.target = len(model.live)
        self.counter = 0
        self.lat: dict[str, list[float]] = {op: [] for op in READS + WRITES}
        self.io_read = self.io_write = 0
        # Reading /proc/self/io itself adds to rchar; measure that once and
        # subtract it from every per-call delta.
        self.io_bias = 0, 0
        if ctx.trace:
            a, b = proc_io(), proc_io()
            self.io_bias = b[0] - a[0], b[1] - a[1]

    def _call(self, op, fn, *args):
        trace = self.ctx.trace
        if trace:
            io0 = proc_io()
        t = time.perf_counter()
        try:
            with self.tracer.span(f"directory.{op}"):
                return fn(*args)
        finally:  # an expected error (TableNotFound) is a served request too
            self.lat[op].append(time.perf_counter() - t)
            if trace:
                io1 = proc_io()
                self.io_read += io1[0] - io0[0] - self.io_bias[0]
                self.io_write += io1[1] - io0[1] - self.io_bias[1]

    # -- requests: each returns True or a description of the mismatch -------

    def describe_table(self):
        tid = self.rng.choice(self.model.live)
        r = self._call("describe_table", self.ns.describe_table, self.m.DescribeTableRequest(id=list(tid)))
        return True if (r.location, r.properties) == self.model.tables[tid] else f"{tid}: {r}"

    def table_exists(self):
        model = self.model
        if model.dead and self.rng.random() < 1 / 3:
            tid = self.rng.choice(model.dead)
            try:
                self._call("table_exists", self.ns.table_exists, self.m.TableExistsRequest(id=list(tid)))
            except self.not_found:
                return True
            return f"deregistered {tid} still exists"
        tid = self.rng.choice(model.live)
        self._call("table_exists", self.ns.table_exists, self.m.TableExistsRequest(id=list(tid)))
        return True

    def list_tables(self):
        ns = self.rng.choice(list(self.model.ns_props))
        r = self._call("list_tables", self.ns.list_tables, self.m.ListTablesRequest(id=[ns], limit=PAGE))
        names = self.model.names_in(ns)
        token = str(PAGE) if len(names) > PAGE else None
        return True if (r.tables, r.page_token) == (names[:PAGE], token) else f"{ns}: {r}"

    def describe_namespace(self):
        ns = self.rng.choice(list(self.model.ns_props))
        r = self._call(
            "describe_namespace", self.ns.describe_namespace, self.m.DescribeNamespaceRequest(id=[ns])
        )
        return True if r.properties == self.model.ns_props[ns] else f"{ns}: {r}"

    def write_pair(self):
        if len(self.model.live) <= self.target:
            return self.declare_table()
        return self.deregister_table()

    def declare_table(self):
        self.counter += 1
        tid = (self.rng.choice(list(self.model.ns_props)), f"d{self.counter}")
        props = {"owner": f"user{self.rng.randrange(100)}"}
        r = self._call(
            "declare_table", self.ns.declare_table, self.m.DeclareTableRequest(id=list(tid), properties=props)
        )
        want = self.m.merge_table_properties(props)
        self.model.add(tid, r.location, want)
        return True if r.properties == want and r.location.endswith(f"{tid[1]}.lance") else f"{tid}: {r}"

    def deregister_table(self):
        tid = self.rng.choice(self.model.live)
        r = self._call(
            "deregister_table", self.ns.deregister_table, self.m.DeregisterTableRequest(id=list(tid))
        )
        want = self.model.tables[tid]
        self.model.remove(tid)
        return True if (r.location, r.properties) == want else f"{tid}: {r}"

    def update_table_properties(self):
        tid = self.rng.choice(self.model.live)
        upd = {"rev": str(self.rng.randrange(10**6))}
        r = self._call("update_table_properties", self.ns.update_table_properties, list(tid), upd)
        location, props = self.model.tables[tid]
        props = {**props, **upd}
        self.model.tables[tid] = (location, props)
        return True if r == props else f"{tid}: {r}"


def run(ctx) -> dict:
    from lance_namespace_impls_spark.catalog import DirectoryNamespace, TableNotFound
    from lance_namespace_impls_spark.catalog import models as m

    model = Model()
    ns = DirectoryNamespace({"root": ctx.path("warehouse")})
    t = time.perf_counter()
    build(ns, m, model, *SIZES[ctx.size])
    build_s = time.perf_counter() - t
    load = CatalogLoad(ctx, random.Random(ctx.seed), m, TableNotFound, ns, model)
    load.step("describe_table")  # the first request served
    setup_s = time.perf_counter() - ctx.t0

    warm = ctx.warmup(load, passes=2)
    for v in load.lat.values():
        v.clear()
    load.io_read = load.io_write = 0
    attempted0 = load.attempted
    passes, elapsed = ctx.measure(load, nominal_pass_s=0.5)
    n_ops = load.attempted - attempted0

    reads = [x for op in READS for x in load.lat[op]]
    writes = [x for op in WRITES for x in load.lat[op]]
    layers = {f"directory.{op}.p50_ms": metric(median(load.lat[op]) * 1e3, "ms") for op in READS + WRITES}
    layers.update(
        {
            "directory.read_kb_per_op": metric(load.io_read / 1024 / n_ops, "KiB"),
            "directory.write_kb_per_op": metric(load.io_write / 1024 / n_ops, "KiB"),
            "directory.build_s": metric(build_s, "s"),
            "write_p50_ms": metric(median(writes) * 1e3, "ms"),
            "write_p95_ms": metric(percentile(writes, 95) * 1e3, "ms"),
            "warmup_s": metric(warm, "s"),
            "steady_ratio": metric(halves_ratio(passes), "ratio"),
        }
    )
    return {
        "attempted": load.attempted,
        "failed": load.failed,
        "e2e": end_to_end(setup_s, n_ops, elapsed, reads, passes, ctx.memory()[0]),
        "layers": layers,
        "samples": {"requests": n_ops, "reads": len(reads), "writes": len(writes), "passes": len(passes)},
    }
