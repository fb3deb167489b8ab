"""The traced run: the same work as a timed build, one layer at a time.

Each layer reads the materialized output of the previous layer, runs the
program's public function for that layer and ends in a ``noop`` sink
(the checkpoint layer ends in its real write-audit-publish). Only that
sink is timed. Its Spark jobs carry a job group set here, so executor
CPU, shuffle bytes, spill and SQL operator metrics are read back from
the status store by group; this works with ``spark.ui.enabled=false``.
Process-tree CPU comes from /proc. Writing a layer's output for the
next layer is untimed and runs under its own group.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, functions as F

from json_ld_spark.operators import checkpoint as cp
from json_ld_spark.operators.jsonld import dedup_triples, triples_stage
from json_ld_spark.operators.linking import extract_mentions, link_entities, mention_triples
from json_ld_spark.operators.native import transcript_triples_native
from json_ld_spark.options import JsonLdOptions
from json_ld_spark.plans.kg import TEXT_PRED
from json_ld_spark.sources.transcripts import TRANSCRIPT_CONTEXT, turns_to_jsonld
from json_ld_spark.sparql import parse_sparql, sparql

QUAD_COLS = ["graph", "subj", "pred", "obj_kind", "obj", "datatype", "lang", "doc_id"]

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float | None:
    """'1.6 s', '5,000', '202.4 KiB' or the 'total (min, med, max ...)\\n<total> (...)'
    form -> the total in seconds, bytes or plain count; None if unparsable."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    match = _VALUE.match(text)
    if match is None:
        return None
    return float(match.group(1).replace(",", "")) * _UNITS.get(match.group(2), 1.0)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class LayerStats:
    busy_s: float = 0.0
    cpu_s: float = 0.0
    py_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 0.0
    sql: dict = field(default_factory=dict)


class StatusStore:
    """Per-job-group totals from the Spark status stores."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def stage_ids(self, group: str) -> list[int]:
        jobs = self.store.jobsList(None)
        ids = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                stages = job.stageIds()
                ids.extend(stages.apply(k) for k in range(stages.size()))
        return sorted(set(ids))

    def collect(self, group: str, stats: LayerStats) -> None:
        biggest, biggest_run = None, -1
        for sid in self.stage_ids(group):
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage (its shuffle was reused): never ran
                continue
            stats.shuffle_bytes += st.shuffleWriteBytes()
            stats.spill_bytes += st.diskBytesSpilled()
            if st.numTasks() > 1 and st.executorRunTime() > biggest_run:
                biggest, biggest_run = st, st.executorRunTime()
        if biggest is not None:
            tasks = self.store.taskList(biggest.stageId(), biggest.attemptId(), 1 << 20)
            runs = []
            for k in range(tasks.size()):
                m = tasks.apply(k).taskMetrics()
                if m.isDefined():
                    runs.append(m.get().executorRunTime())
            if runs:
                stats.task_skew = max(runs) / max(statistics.median(runs), 1.0)
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.description() != group:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            nodes = self.sql.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    value = parse_sql_metric(v.get()) if v.isDefined() else None
                    if value is not None:
                        stats.sql[m.name()] = stats.sql.get(m.name(), 0.0) + value


class Tracer:
    def __init__(self, spark, tree):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tree = tree
        self.status = StatusStore(spark)
        self._n = 0

    def group(self, name: str) -> str:
        """Label the following Spark jobs with a fresh job group."""
        self._n += 1
        group = f"perfbench-{name}-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def layer(self, name: str, action) -> LayerStats:
        """Run ``action()`` (the layer's sinks) timed, under its own job group."""
        group = self.group(name)
        cpu0 = self.tree.cpu_seconds()
        py0 = self.tree.cpu_seconds(python_workers_only=True)
        t0 = time.perf_counter()
        action()
        stats = LayerStats(busy_s=time.perf_counter() - t0)
        stats.cpu_s = self.tree.cpu_seconds() - cpu0
        stats.py_cpu_s = self.tree.cpu_seconds(python_workers_only=True) - py0
        self.group("untimed")
        self.status.collect(group, stats)
        return stats

    def materialize(self, df: DataFrame, path: str) -> DataFrame:
        self.group("materialize")
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)


def _count(obs: Observation, key: str = "n") -> int:
    return int(obs.get[key] or 0)


def layered_build(ctx) -> tuple[dict, str]:
    """Run one build of the workload layer by layer; return (per-layer
    metrics, WAP directory)."""
    spark, tr, work = ctx.spark, ctx.tracer, ctx.fresh_dir("layers")
    m: dict[str, float] = {}
    transcripts = spark.read.parquet(ctx.inputs["transcripts"])

    obs = Observation("scan")
    s = tr.layer("scan", lambda: noop(transcripts.observe(obs, F.count(F.lit(1)).alias("n"))))
    m.update({"scan.busy_s": s.busy_s, "scan.rows_out": _count(obs),
              "scan.bytes_read": s.sql.get("size of files read", 0.0)})

    obs = Observation("extract")
    if ctx.wl.engine == "native":
        raw = transcript_triples_native(transcripts)
        layer = "native"
    else:
        raw = triples_stage(turns_to_jsonld(transcripts), context=TRANSCRIPT_CONTEXT,
                            options=JsonLdOptions())
        layer = "jsonld"
    s = tr.layer(layer, lambda: noop(raw.observe(obs, F.count(F.lit(1)).alias("n"))))
    quads_out = _count(obs)
    m.update({f"{layer}.busy_s": s.busy_s, f"{layer}.cpu_s": s.cpu_s,
              f"{layer}.quads_out": quads_out})
    extracted = tr.materialize(raw, os.path.join(work, "extracted"))
    if ctx.wl.engine != "native":
        docs_out = ctx.ref.con.execute(
            "SELECT count(DISTINCT doc_id) FROM read_parquet(?)",
            [os.path.join(work, "extracted", "*.parquet")],
        ).fetchone()[0]
        docs_in = ctx.ref.turns
        phase_us = ctx.doc_phase_us() * docs_in
        m.update({
            "jsonld.docs_in": docs_in,
            "jsonld.docs_dropped": docs_in - docs_out,
            "jsonld.boundary_share": 1.0 - phase_us / 1e6 / max(s.py_cpu_s, 1e-9),
        })

    mention_quads, links_out = None, 0
    if ctx.wl.with_dict:
        surfaces = ctx.ref.sample("SELECT DISTINCT surface FROM dict ORDER BY 1")
        obs_m, obs_l = Observation("mentions"), Observation("links")
        text_rows = (
            extracted.filter(F.col("pred") == TEXT_PRED)
            .select("subj", F.col("obj").alias("text"))
            .dropDuplicates(["subj", "text"])
        )
        mentions = extract_mentions(text_rows, text_col="text", subject_col="subj").observe(
            obs_m, F.count(F.lit(1)).alias("n"),
            F.sum(F.col("surface").isin(surfaces).cast("long")).alias("hits"),
        )
        links = link_entities(mentions, ctx.dictionary).observe(
            obs_l, F.count(F.lit(1)).alias("n"))
        mtr = mention_triples(links).withColumn("doc_id", F.col("subj"))
        s = tr.layer("linking", lambda: noop(mtr))
        n_mentions, hits, links_out = _count(obs_m), _count(obs_m, "hits"), _count(obs_l)
        m.update({
            "linking.busy_s": s.busy_s, "linking.cpu_s": s.cpu_s,
            "linking.mentions": n_mentions, "linking.dict_hits": hits,
            "linking.links_out": links_out,
            "linking.coverage": hits / max(n_mentions, 1),
            "linking.shuffle_bytes": s.shuffle_bytes, "linking.task_skew": s.task_skew,
        })
        mention_quads = tr.materialize(mtr, os.path.join(work, "mentions"))

    obs_d, obs_e = Observation("dedup"), Observation("dedup_mentions")
    deduped = dedup_triples(extracted.repartition("subj")).select(*QUAD_COLS)
    parts = [deduped.observe(obs_d, F.count(F.lit(1)).alias("n"))]
    if mention_quads is not None:
        parts.append(dedup_triples(mention_quads).select(*QUAD_COLS)
                     .observe(obs_e, F.count(F.lit(1)).alias("n")))
    s = tr.layer("dedup", lambda: [noop(p) for p in parts])
    rows_in = quads_out + links_out
    rows_out = _count(obs_d) + (_count(obs_e) if mention_quads is not None else 0)
    m.update({
        "dedup.busy_s": s.busy_s, "dedup.cpu_s": s.cpu_s,
        "dedup.rows_in": rows_in, "dedup.rows_out": rows_out,
        "dedup.keep_ratio": rows_out / max(rows_in, 1),
        "dedup.shuffle_bytes": s.shuffle_bytes, "dedup.spill_bytes": s.spill_bytes,
        "dedup.sort_ms": 1000.0 * s.sql.get("sort time", 0.0),
    })
    union = parts[0] if mention_quads is None else parts[0].unionByName(parts[1])
    triples = tr.materialize(union, os.path.join(work, "deduped"))

    out_dir = ctx.fresh_dir("wap")
    # the same bucket key materialize_kg derives from each turn IRI
    bucketed = triples.withColumn(
        cp.BUCKET_COL,
        F.pmod(F.xxhash64(F.regexp_extract("subj", r"/conv/([^/]+)/turn/", 1)),
               F.lit(ctx.n_buckets)).cast("int"),
    )

    s = tr.layer("checkpoint", lambda: cp.write_audit_publish(
        bucketed, out_dir, ctx.n_buckets, key_col="conv_id"))
    files = glob.glob(os.path.join(out_dir, "data", "*", "*.parquet"))
    with open(os.path.join(out_dir, "_manifest", "manifest.json")) as f:
        rows = [b["rows"] for b in json.load(f)["buckets"].values()]
    m.update({
        "checkpoint.busy_s": s.busy_s, "checkpoint.cpu_s": s.cpu_s,
        "checkpoint.bytes_written": sum(os.path.getsize(p) for p in files),
        "checkpoint.files_written": len(files),
        "checkpoint.bucket_skew": max(rows) / (sum(rows) / len(rows)),
    })
    return m, out_dir


def trace_query(ctx, table_df: DataFrame, template: str, text: str) -> tuple[dict, list]:
    """One query, phase by phase: parse, lazy build, physical plan, execution."""
    group = ctx.tracer.group(f"sparql-{template}")
    t0 = time.perf_counter()
    parse_sparql(text)
    t1 = time.perf_counter()
    df = sparql(table_df, text)
    t2 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t3 = time.perf_counter()
    rows = df.collect()
    t4 = time.perf_counter()
    ctx.tracer.group("untimed")
    stats = LayerStats()
    ctx.tracer.status.collect(group, stats)
    return {
        "parse_ms": 1e3 * (t1 - t0), "build_ms": 1e3 * (t2 - t1),
        "plan_ms": 1e3 * (t3 - t2), "exec_ms": 1e3 * (t4 - t3),
        "files_read": stats.sql.get("number of files read", 0.0),
        "bytes_read": stats.sql.get("size of files read", 0.0),
        "rows_out": len(rows),
    }, rows


def doc_phases(b, seed: int, n_docs: int = 200, passes: int = 5) -> dict:
    """Per-document time of the generic engine's phases, called directly in
    this process over a seeded sample of the workload's JSON-LD documents:
    JSON parse, ``expand_document``, ``expanded_to_quads``; plus one
    ``process_context`` of the transcript context."""
    from json_ld_spark.context import ActiveContext, no_loader, process_context
    from json_ld_spark.expand import expand_document
    from json_ld_spark.nodemap import BlankGen
    from json_ld_spark.rdf import expanded_to_quads

    try:  # the parser the generic engine uses when it is installed
        from orjson import loads
    except ImportError:
        from json import loads

    opts = JsonLdOptions()
    base = opts.base
    sample = b.transcripts.sample(False, min(1.0, 2.0 * n_docs / b.inputs["rows"]), seed)
    docs = sorted(r.doc for r in turns_to_jsonld(sample).select("doc").collect())[:n_docs]

    def context():
        return process_context(
            ActiveContext(base_iri=base, original_base_url=base), TRANSCRIPT_CONTEXT, base,
            loader=no_loader, processing_mode=opts.processing_mode,
        )

    ctx_ms = []
    for _ in range(20):
        t0 = time.perf_counter()
        active = context()
        ctx_ms.append(1e3 * (time.perf_counter() - t0))
    per_pass = {"parse": [], "expand": [], "rdf": []}
    for _ in range(passes):
        acc = dict.fromkeys(per_pass, 0.0)
        for doc in docs:
            t0 = time.perf_counter()
            parsed = loads(doc)
            t1 = time.perf_counter()
            expanded, _w = expand_document(parsed, active, opts, base)
            t2 = time.perf_counter()
            expanded_to_quads(expanded, rdf_direction=opts.rdf_direction,
                              produce_generalized_rdf=opts.produce_generalized_rdf,
                              gen=BlankGen(), mutate_ok=True)
            t3 = time.perf_counter()
            acc["parse"] += t1 - t0
            acc["expand"] += t2 - t1
            acc["rdf"] += t3 - t2
        for k, v in acc.items():
            per_pass[k].append(1e6 * v / len(docs))
    return {
        "jsonld.parse_us_per_doc": statistics.median(per_pass["parse"]),
        "expand.us_per_doc": statistics.median(per_pass["expand"]),
        "rdf.us_per_doc": statistics.median(per_pass["rdf"]),
        "context.process_ms": statistics.median(ctx_ms),
    }
