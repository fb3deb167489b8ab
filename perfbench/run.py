"""Knowledge-graph construction benchmark.

    python3 perfbench/run.py --workload kg_native --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, starts one Spark
session on ``local[nproc]`` from this process, drives the public entry
points (``plans.kg.materialize_kg`` for builds, ``sparql.sparql`` for
queries), checks every output against an independent DuckDB reference
and prints one JSON object as the last line of standard output.

Workloads (closed loop, one client):
  kg_native   builds with native extraction + entity linking, then 50
              SPARQL SELECTs over the published, bucketed graph
  kg_generic  builds with the generic JSON-LD engine and no dictionary,
              then 20 SPARQL SELECTs over its published graph

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
work one layer at a time and reports the per-layer metrics instead.
See perfbench/README.md for every metric and the layer map.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

import gen
import queries
from procstat import ProcessTree, cpu_times, steal_share, tree_pids, wait_gone
from reference import Reference

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_TURNS = 6000
N_BUCKETS = 32
MIN_BUILDS = 3
WARM_BUILDS = 4
PEAK_CHUNK = 25  # timed queries per peak-RSS sample
QUERY_TABLE = "perfbench_kg"
TRACE_QUERIES = 3  # traced instances per template


@dataclass(frozen=True)
class Workload:
    engine: str
    with_dict: bool
    mix: list[str]  # query templates of the timed queries


WORKLOADS = {
    "kg_native": Workload("native", True, queries.MIX),
    # no mention quads: entity and top would answer nothing
    "kg_generic": Workload("generic", False, queries.GENERIC_MIX),
}

# Layers a workload does not run report 0 for their work and time.
PER_LAYER_ZERO = [
    "native.busy_s", "native.cpu_s", "native.quads_out",
    "jsonld.busy_s", "jsonld.cpu_s", "jsonld.quads_out", "jsonld.docs_in",
    "jsonld.docs_dropped", "jsonld.boundary_share",
    "linking.busy_s", "linking.cpu_s", "linking.mentions", "linking.dict_hits",
    "linking.links_out", "linking.coverage", "linking.shuffle_bytes", "linking.task_skew",
]


_T0 = time.perf_counter()


def log(what: str) -> None:
    """Progress on standard error, with seconds since the process started."""
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s] {what}", file=sys.stderr)


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gib": round(mem_kb / 2**20, 1),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


def prepare_env(work: str, host: dict) -> None:
    """Keep Spark's temp, shuffle and warehouse files under ``work``, put
    the checkout on the workers' path and size the driver to the host."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gib(host)}g"


def driver_gib(host: dict) -> int:
    """Driver heap: a quarter of RAM, at most 2 GiB (the inputs need far
    less). The heap is also the initial heap, so its resident size does
    not depend on when the collector decides to grow or shrink it."""
    return max(1, min(2, int(host["mem_gib"] // 4)))


class Bench:
    """One benchmark process: session, inputs, reference and the operations."""

    def __init__(self, workload: str, seed: int, work: str, host: dict):
        self.seed, self.work = seed, work
        self.wl = WORKLOADS[workload]
        self.n_buckets = N_BUCKETS
        self.attempted = 0
        self.failures: list[str] = []
        self._dirs = 0
        self.phases: dict | None = None
        self.tree = ProcessTree().start()

        from json_ld_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            cores=host["nproc"],
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(work, "local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Xms{driver_gib(host)}g -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                ),
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            },
        )
        log("session started")
        self.inputs = gen.write_inputs(seed, N_TURNS, 2 * host["nproc"], self.fresh_dir("input"))
        log("inputs written")
        self.ref = Reference(self.inputs["transcripts"], self.inputs["dictionary"])
        log("reference built")
        self.transcripts = self.spark.read.parquet(self.inputs["transcripts"])
        self.dictionary = self.spark.read.parquet(self.inputs["dictionary"])

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{name}-{self._dirs}")
        os.makedirs(path)
        return path

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def materialize(self, out: str, table: str | None = None, transcripts=None) -> dict:
        from json_ld_spark.plans.kg import materialize_kg

        return materialize_kg(
            self.transcripts if transcripts is None else transcripts, out,
            entity_dictionary=self.dictionary if self.wl.with_dict else None,
            n_buckets=self.n_buckets, engine=self.wl.engine, bucketed_table=table,
        )

    def build(self) -> dict | None:
        """One ``materialize_kg`` into a fresh directory, then its output
        check (untimed). None when it raised or its output is wrong."""
        out = self.fresh_dir("wap")
        self.attempted += 1
        cpu0 = self.tree.cpu_seconds()
        self.tree.reset_peak()
        t0 = time.perf_counter()
        try:
            result = self.materialize(out)
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self.fail(f"build raised:\n{traceback.format_exc()}")
            return None
        wall = time.perf_counter() - t0
        cpu = self.tree.cpu_seconds() - cpu0
        peak = self.tree.peak_rss_bytes()
        problems = self.ref.check_build(out, with_mentions=self.wl.with_dict)
        log(f"build {wall:.3f}s cpu {cpu:.2f}s checked")
        if result["total_rows"] <= 0:
            problems.append("materialize_kg reported no published rows")
        if problems:
            self.fail(f"build output: {problems}")
            return None
        nbytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(os.path.join(out, "data")) for f in files
            if f.endswith(".parquet")
        )
        return {"wall": wall, "cpu": cpu, "peak": peak, "out": out,
                "bytes_per_quad": nbytes / result["total_rows"]}

    def publish_table(self, out: str):
        """Publish the bucketed triple table of a finished build: the
        resumed ``materialize_kg`` finds every bucket committed, so it only
        writes the table. Returns the table and loads the same published
        quads into the DuckDB reference."""
        self.materialize(out, table=QUERY_TABLE)
        self.ref.load_published(out)
        return self.spark.table(QUERY_TABLE)

    def query(self, table_df, inst) -> float | None:
        from json_ld_spark.sparql import sparql

        template, text, param = inst
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            rows = sparql(table_df, text).collect()
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self.fail(f"{template} query raised:\n{traceback.format_exc()}")
            return None
        latency = time.perf_counter() - t0
        if queries.normalize(template, rows) != queries.reference(self.ref, template, param):
            self.fail(f"{template} query result differs from DuckDB for {param!r}")
            return None
        return latency

    def doc_phase_us(self) -> float:
        """Summed per-document cost of parse, expand and toRdf."""
        if self.phases is None:
            from layers import doc_phases

            self.phases = doc_phases(self, self.seed)
        return sum(self.phases[k] for k in
                   ("jsonld.parse_us_per_doc", "expand.us_per_doc", "rdf.us_per_doc"))

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        from pyspark import SparkContext

        children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = SparkContext._jvm = None
            left = wait_gone(children, timeout=30)
            if left:
                print(f"perfbench: processes still running after stop: {left}", file=sys.stderr)
            self.ref.close()
            self.tree.close()


def warm_up(b: Bench) -> None:
    """Builds load the classes, compile the plans, start the workers and
    warm the JIT. The first build on a fresh JVM takes three to four times
    a warm one, and the builds after it keep getting faster, by 20-40 %
    in all, while the JIT compiles: the timed builds start near the end
    of that slope, not on it."""
    for _ in range(WARM_BUILDS):
        out = b.fresh_dir("warm")
        b.materialize(out)
        shutil.rmtree(out, ignore_errors=True)
        log("warm-up build")


def run_untraced(b: Bench, seconds: float, t_start: float) -> dict:
    warm_up(b)
    setup_s = time.perf_counter() - t_start
    peaks: list[int] = []  # peak RSS of each timed build and query chunk
    builds: list[dict] = []
    t_end = time.perf_counter() + seconds
    for n in itertools.count(1):
        res = b.build()
        if res is not None:
            peaks.append(res["peak"])
            if builds:
                shutil.rmtree(builds[-1]["out"], ignore_errors=True)
            builds.append(res)
        if n >= MIN_BUILDS and time.perf_counter() >= t_end:
            break
    if not builds:
        raise RuntimeError("every timed build failed")

    table_df = b.publish_table(builds[-1]["out"])
    mix = queries.QueryMix(b.ref, b.seed)
    for inst in mix.cycle(queries.warm_up(b.wl.mix)):
        b.query(table_df, inst)
    log("table published, queries warmed up")
    latencies: dict[str, list[float]] = {t: [] for t in queries.SPARQL}
    timed = mix.cycle(b.wl.mix)
    for i in range(0, len(timed), PEAK_CHUNK):
        b.tree.reset_peak()
        for inst in timed[i:i + PEAK_CHUNK]:
            lat = b.query(table_df, inst)
            if lat is not None:
                latencies[inst[0]].append(lat)
        peaks.append(b.tree.peak_rss_bytes())
    log("timed queries; median s per template: " + ", ".join(
        f"{t} {statistics.median(v):.3f} (n={len(v)})" for t, v in latencies.items() if v))
    all_lat = [x for v in latencies.values() for x in v]
    if not all_lat:
        raise RuntimeError("every timed query failed")
    build_s = statistics.median(r["wall"] for r in builds)
    return {
        "setup_s": setup_s,
        "build_s": build_s,
        "turns_per_s": b.inputs["rows"] / build_s,
        "cpu_s": statistics.median(r["cpu"] for r in builds),
        "bytes_per_quad": statistics.median(r["bytes_per_quad"] for r in builds),
        "query_p50_s": statistics.median(all_lat),
        # linear interpolation between closest ranks
        "query_p90_s": statistics.quantiles(all_lat, n=10, method="inclusive")[8],
        "peak_rss_mb": statistics.median(peaks) / 2**20,
        "success_rate": 1.0 - len(b.failures) / max(b.attempted, 1),
    }


def run_traced(b: Bench) -> dict:
    from layers import Tracer, layered_build, trace_query

    warm_up(b)
    untraced = []
    for _ in range(MIN_BUILDS):  # the base of trace.coverage, as build_s
        res = b.build()
        if res is None:
            raise RuntimeError("untraced build failed")
        shutil.rmtree(res["out"], ignore_errors=True)
        untraced.append(res["wall"])
    build_s = statistics.median(untraced)
    b.doc_phase_us()
    m = {k: 0.0 for k in PER_LAYER_ZERO}
    m.update(b.phases)

    b.tracer = Tracer(b.spark, b.tree)
    layers, out = layered_build(b)
    m.update(layers)
    b.attempted += 1
    problems = b.ref.check_build(out, with_mentions=b.wl.with_dict)
    if problems:
        b.fail(f"layered build output: {problems}")
    busy = sum(v for k, v in layers.items() if k.endswith(".busy_s"))
    m["trace.coverage"] = busy / build_s
    m["trace.overhead_s"] = busy - build_s

    table_df = b.publish_table(out)
    mix = queries.QueryMix(b.ref, b.seed)
    for template in queries.SPARQL:
        b.query(table_df, mix.instance(template))  # plan once, as untraced
        runs = []
        for _ in range(TRACE_QUERIES):
            _, text, param = mix.instance(template)
            b.attempted += 1
            phases, rows = trace_query(b, table_df, template, text)
            if queries.normalize(template, rows) != queries.reference(b.ref, template, param):
                b.fail(f"traced {template} query result differs from DuckDB for {param!r}")
            runs.append(phases)
        for k in runs[0]:
            m[f"sparql.{k}.{template}"] = statistics.median(r[k] for r in runs)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="knowledge-graph construction benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sys.path.insert(0, ROOT)
    try:
        import json_ld_spark  # the program under test
    except ImportError as ex:
        print(f"perfbench: the program is not in this checkout: {ex}", file=sys.stderr)
        return 2
    if not os.path.abspath(json_ld_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: json_ld_spark imported from outside the checkout: "
              f"{json_ld_spark.__file__}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    host = host_info()
    cpu_before = cpu_times()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, host)
    b = None
    try:
        b = Bench(args.workload, args.seed, work, host)
        values = run_traced(b) if args.trace else run_untraced(b, args.seconds, t_start)
    finally:
        if b is not None:
            b.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    missing = [w["name"] for w in wanted if w["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    host["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    host["steal_share"] = round(steal_share(cpu_before, cpu_times()), 4)
    print(f"perfbench host: {json.dumps(host)}")
    print(json.dumps({
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": {w["name"]: {"value": values[w["name"]], "unit": w["unit"]} for w in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
