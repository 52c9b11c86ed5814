"""The traced per-layer run (``--trace 1``).

The run first times two untraced builds (the second is the reference),
then restarts the Spark session in the same JVM with Spark's event log on
and calls each layer's public function in order. Each layer's output is
written to parquet under its own job group (``setJobGroup``), and the
benchmark records a span (name, start, end, parent) around it. After the
session stops, the event log's task metrics are attributed to the layers
by job group. Spans and counts go to
``.kgbench/trace-<workload>-<seed>-<work dir>.json``. The tracing overhead
is the traced build time minus the untraced reference.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from pathlib import Path

from pyspark.sql import functions as F

import checks
import harness as H
from corpus import SCHEMA
from extract_address_ner_spark.entry_queries_streaming import (
    expire_snapshots,
    merge_edge_snapshot,
    read_edge_snapshot,
)
from extract_address_ner_spark.operators.canonicalize import canonicalize_mentions
from extract_address_ner_spark.operators.link import build_edges, build_nodes
from extract_address_ner_spark.operators.tagger import extract_mentions
from extract_address_ner_spark.operators.validate import road_address_gate
from extract_address_ner_spark.sources.admin_regions import (
    ADMIN_REGIONS,
    hierarchy_edges,
)

PER_LAYER = {  # name -> unit, in layer order
    "tagger.s": "s", "tagger.docs_in": "count", "tagger.mentions_out": "count",
    "tagger.hangul_share": "share", "tagger.task_skew": "ratio",
    "tagger.lexicon_misses": "count",
    "gate.s": "s", "gate.pass_share": "share",
    "canon.s": "s", "canon.resolved_share": "share",
    "link.edges_s": "s", "link.nodes_s": "s", "link.shuffle_bytes": "bytes",
    "link.dedup_share": "share", "link.task_skew": "ratio",
    "pipeline.s": "s", "pipeline.overhead_s": "s", "pipeline.spark_jobs": "count",
    "pipeline.bytes_written": "bytes", "pipeline.write_amp": "ratio",
    "merge.s": "s", "merge.touched_share": "share", "merge.bytes_written": "bytes",
    "expire.s": "s", "snapshot.files": "count", "snapshot.retained_bytes": "bytes",
    "graph.degree_s": "s", "graph.top_s": "s", "graph.rollup_s": "s",
    "spark.task_s": "s", "spark.cpu_share": "share", "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.tasks": "count", "trace.overhead_s": "s",
}

#: job group of the benchmark's own count and check queries
CHECK_GROUP = "check"


class Tracer:
    """Spans kept in memory; each span may set the job group its Spark jobs
    run under."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if group is not None:
            self.sc.setJobGroup(group, name)
        self._stack.append(name)
        start = time.perf_counter() - self.t0
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({"name": name, "start": start,
                               "end": time.perf_counter() - self.t0,
                               "parent": parent, "group": group})

    def seconds(self, name: str) -> float:
        s = next(s for s in self.spans if s["name"] == name)
        return s["end"] - s["start"]

    def checking(self) -> None:
        self.sc.setJobGroup(CHECK_GROUP, "benchmark checks")


def lexicon_misses(spark) -> int:
    """Dictionary start names (top-level names and aliases) at which the
    tagger opens no mention: one probe doc ``<name> 테헤란로 1`` per name."""
    names = sorted({n for _rid, name, _l, parent, aliases in ADMIN_REGIONS
                    if parent is None for n in (name, *aliases)})
    rows = [("probe", f"p{i}", "0", "python", f"{n} 테헤란로 1", "0", i)
            for i, n in enumerate(names)]
    docs = spark.createDataFrame(rows, SCHEMA.names)
    found = {r["doc_id"] for r in extract_mentions(docs)
             .filter(F.col("m_start") == 0).select("doc_id").collect()}
    return len(names) - len(found)


def task_metrics(event_log_dir: Path) -> tuple[dict, dict]:
    """Per job group: the tasks' (duration, run, cpu, gc, shuffle write,
    spill) and the job count, from the event log."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[str, list[tuple]] = defaultdict(list)
    # event log v2: eventlog_v2_<app>/events_<n>_<app>, beside status markers
    for path in sorted(event_log_dir.rglob("events_*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[group] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    info, m = ev["Task Info"], ev["Task Metrics"]
                    tasks[stage_group.get(ev["Stage ID"])].append((
                        info["Finish Time"] - info["Launch Time"],
                        m["Executor Run Time"],
                        m["Executor CPU Time"],
                        m["JVM GC Time"],
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        m["Disk Bytes Spilled"],
                    ))
    return dict(tasks), dict(jobs)


def _skew(tasks: list[tuple]) -> float:
    durations = [t[0] for t in tasks]
    return max(durations) / max(1, statistics.median(durations))


def traced_run(args, settings: dict, work: Path):
    wl = H.WORKLOADS[args.workload]
    # the timed run's two drops: the second merge makes a third version, so
    # expire_snapshots(keep=2) has one to delete
    inputs = H.make_inputs(wl, args.seed, work / "inputs", "run", n_drops=2)
    # one file per core, so the warm-up runs a task (and starts a Python
    # worker) on every core
    warm = H.make_inputs(H.WARMUP, args.seed, work / "inputs", "warm", n_drops=1,
                         base_files=settings["cores"])
    ops = H.Ops()

    # untraced reference: the second full-size build, since the traced
    # pipeline also runs after the layers have processed the corpus once
    spark = H.start_session(settings, work)
    try:
        ops.run("warmup", lambda: H.warm_up(spark, warm, work / "warmup"))
        for i in range(2):
            _, untraced_s, _ = ops.run(
                "build", lambda: H.build(spark, inputs.base, work / f"untraced{i}", "u"),
                check=lambda r: checks.edges_match(r[1]["edges"], inputs.base_truth))
    finally:
        spark.stop()

    events = work / "events"
    spark = H.start_session(settings, work, event_log=events)
    tr = Tracer(spark)
    out = work / "layers"
    root = work / "edges"

    def step(name, fn):
        with tr.span(name, group=name):
            return ops.run(name, fn)[0]

    def write(df, name: str) -> str:
        path = str(out / name)
        df.write.mode("overwrite").parquet(path)
        return path

    read = spark.read.parquet
    try:
        # the new context starts fresh Python workers; start them untraced
        with tr.span("warmup", group="warmup"):
            extract_mentions(read(warm.base)).write.format("noop") \
                .mode("overwrite").save()
        with tr.span("trace"):
            with tr.span("layers"):
                m = step("tagger", lambda: write(extract_mentions(read(inputs.base)),
                                                 "mentions"))
                g = step("gate", lambda: write(road_address_gate(read(m)), "gated"))
                c = step("canon", lambda: write(canonicalize_mentions(read(g)),
                                                "canonical"))
                e = step("link.edges", lambda: write(build_edges(read(c)), "edges"))
                n = step("link.nodes", lambda: write(build_nodes(read(c)), "nodes"))
            built = step("pipeline", lambda: H.build(
                spark, inputs.base, work / "warehouse", "traced"))
            step("publish", lambda: merge_edge_snapshot(
                built[1]["edges"], str(root), 0))
            with tr.span("refresh"):
                step("merge.first", lambda: merge_edge_snapshot(
                    H.edge_delta(spark, [inputs.drops[0]]), str(root), 1))
                step("expire.first", lambda: expire_snapshots(str(root), keep=2))
                d = step("delta", lambda: write(
                    H.edge_delta(spark, [inputs.drops[1]]), "delta"))
                step("merge", lambda: merge_edge_snapshot(read(d), str(root), 2))
                step("expire", lambda: expire_snapshots(str(root), keep=2))
            with tr.span("read"):
                for name, q in H.READ_SET:
                    step(f"graph.{name}",
                         lambda q=q, name=name: write(
                             q(read_edge_snapshot(spark, str(root))), name))
            spark.catalog.clearCache()

        tr.checking()
        counts = layer_counts(spark, inputs, m, g, c, e, n)
        verify_layers(ops, spark, inputs, counts, built, e, root)
        counts["lexicon_misses"] = lexicon_misses(spark)
    finally:
        spark.stop()

    tasks, jobs = task_metrics(events)
    metrics = per_layer_metrics(tr, tasks, jobs, counts, settings, inputs,
                                work, root, untraced_s)
    trace_file = work.parent / f"trace-{args.workload}-{args.seed}-{work.name}.json"
    trace_file.write_text(json.dumps(
        {"spans": tr.spans, "counts": counts,
         "jobs_per_group": {str(k): v for k, v in jobs.items()}},
        indent=1, sort_keys=True))
    info = {"inputs": inputs.shapes, "trace_file": trace_file.name,
            "untraced_build_s": untraced_s}
    return metrics, info, ops, PER_LAYER


def layer_counts(spark, inputs: H.Inputs, m, g, c, e, n) -> dict:
    read = spark.read.parquet
    corpus = read(inputs.base)
    return {
        "docs_in": corpus.count(),
        "hangul_docs": corpus.filter(F.col("content").rlike("[가-힣]")).count(),
        "mentions": read(m).count(),
        "gated": read(g).count(),
        "resolved": read(c).filter(F.col("canonical_id").isNotNull()).count(),
        "edges": read(e).count(),
        "nodes": read(n).count(),
        "corpus_bytes": H.du(Path(inputs.base)),
    }


def verify_layers(ops: H.Ops, spark, inputs: H.Inputs, counts: dict, built,
                  e: str, root: Path) -> None:
    """Each layer's output against what the generator planted: one mention
    per Hangul doc (its address or its fragment), only the addresses pass
    the gate and all resolve, and the edge tables equal the ground truth."""
    base = inputs.shapes["base"]
    truth = inputs.base_truth
    files = {f for f, _a in truth.mention_edges}
    ops.verify("tagger", lambda: counts["mentions"] == base["hangul_docs"])
    ops.verify("gate", lambda: counts["gated"] == base["addr_docs"])
    ops.verify("canon", lambda: counts["resolved"] == base["addr_docs"])
    ops.verify("link.edges", lambda: checks.edges_match(spark.read.parquet(e), truth))
    ops.verify("link.nodes", lambda: counts["nodes"] == len(files)
               + len(truth.addr_region) + len(ADMIN_REGIONS))
    if built is not None:
        pipe, outputs = built
        ops.verify("pipeline", lambda: checks.edges_match(outputs["edges"], truth)
                   and pipe.sha_invariant_ok())
    truth = inputs.truth_after(len(inputs.drops))
    ops.verify("merge", lambda: checks.edges_match(
        read_edge_snapshot(spark, str(root)), truth))
    ops.verify("read", lambda: H.read_set(spark, root)
               == checks.read_set_truth(truth))


def per_layer_metrics(tr: Tracer, tasks: dict, jobs: dict, counts: dict,
                      settings: dict, inputs: H.Inputs, work: Path, root: Path,
                      untraced_s: float) -> dict:
    s = tr.seconds
    layer_s = sum(s(k) for k in ("tagger", "gate", "canon", "link.edges",
                                 "link.nodes"))
    traced = [t for grp, ts in tasks.items()
              if grp not in (None, "warmup", CHECK_GROUP) for t in ts]
    manifest = json.loads((root / "v2" / "manifest.json").read_text())
    own = [b for b, rel in manifest["buckets"].items() if rel.startswith("v2/")]
    latest_files = sum(
        1 for rel in manifest["buckets"].values()
        for p in (root / rel).rglob("*.parquet"))
    candidates = 2 * counts["resolved"]
    return {
        "tagger.s": s("tagger"),
        "tagger.docs_in": counts["docs_in"],
        "tagger.mentions_out": counts["mentions"],
        "tagger.hangul_share": counts["hangul_docs"] / counts["docs_in"],
        "tagger.task_skew": _skew(tasks["tagger"]),
        "tagger.lexicon_misses": counts["lexicon_misses"],
        "gate.s": s("gate"),
        "gate.pass_share": counts["gated"] / max(1, counts["mentions"]),
        "canon.s": s("canon"),
        "canon.resolved_share": counts["resolved"] / max(1, counts["gated"]),
        "link.edges_s": s("link.edges"),
        "link.nodes_s": s("link.nodes"),
        "link.shuffle_bytes": sum(t[4] for grp in ("link.edges", "link.nodes")
                                  for t in tasks.get(grp, [])),
        "link.dedup_share": (counts["edges"] - len(hierarchy_edges()))
        / max(1, candidates),
        "link.task_skew": _skew(tasks["link.edges"]),
        "pipeline.s": s("pipeline"),
        "pipeline.overhead_s": s("pipeline") - layer_s,
        "pipeline.spark_jobs": jobs.get("pipeline", 0),
        "pipeline.bytes_written": H.du(work / "warehouse"),
        "pipeline.write_amp": H.du(work / "warehouse") / counts["corpus_bytes"],
        "merge.s": s("merge"),
        "merge.touched_share": len(own) / manifest["n_buckets"],
        "merge.bytes_written": H.du(root / "v2"),
        "expire.s": s("expire"),
        "snapshot.files": latest_files,
        "snapshot.retained_bytes": H.du(root),
        "graph.degree_s": s("graph.degree"),
        "graph.top_s": s("graph.top"),
        "graph.rollup_s": s("graph.rollup"),
        "spark.task_s": sum(t[1] for t in traced) / 1e3,
        "spark.cpu_share": sum(t[2] for t in traced) / 1e9
        / (s("trace") * settings["cores"]),
        "spark.gc_s": sum(t[3] for t in traced) / 1e3,
        "spark.shuffle_bytes": sum(t[4] for t in traced),
        "spark.spill_bytes": sum(t[5] for t in traced),
        "spark.tasks": len(traced),
        "trace.overhead_s": s("pipeline") - untraced_s,
    }
