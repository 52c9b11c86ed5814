"""Workloads, machine-sized session, and the KG lifecycle steps the timed and
traced runs share. Every step drives the program only through its public
functions."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import signal
import subprocess
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from corpus import Shape, Truth, address_vocabulary, generate
from extract_address_ner_spark.entry_queries_streaming import (
    expire_snapshots,
    merge_edge_snapshot,
    read_edge_snapshot,
)
from extract_address_ner_spark.operators.canonicalize import canonicalize_mentions
from extract_address_ner_spark.operators.graph_query import (
    degree_distribution,
    region_rollup,
    top_addresses_per_repo,
)
from extract_address_ner_spark.operators.link import build_edges
from extract_address_ner_spark.operators.tagger import extract_mentions
from extract_address_ner_spark.operators.validate import road_address_gate
from extract_address_ner_spark.plans.pipeline import StagedPipeline
from extract_address_ner_spark.session import get_spark

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "extract_address_ner_spark"

#: the fixed read set a KG consumer runs on the latest snapshot
READ_SET = (
    ("degree", degree_distribution),
    ("top", top_addresses_per_repo),
    ("rollup", region_rollup),
)


@dataclass(frozen=True)
class Workload:
    base: Shape  # corpus of the batch build
    drop: Shape  # the shape of each incremental drop merged after it


def _dense(n: int) -> Shape:
    return Shape(n_docs=n, hangul_share=0.8, addr_share=0.667, mega_share=0.5,
                 n_repos=200, vocab_size=4000)


def _sparse(n: int) -> Shape:
    # same rows and about the same bytes as dense: the Hangul a dense doc
    # carries is replaced by filler words
    return Shape(n_docs=n, hangul_share=0.01, addr_share=0.0083, mega_share=0.0,
                 n_repos=500, vocab_size=4000, words_per_doc=56)


WORKLOADS = {
    # 2/3 of docs carry an address, half sit in one repo: the tagger,
    # canonicalize and link's salted aggregation carry the build
    "batch_dense": Workload(base=_dense(40_000), drop=_dense(10_000)),
    # 1% of docs hold Hangul, repos are uniform: the prefilter skips almost
    # every doc and the fixed per-stage pipeline cost dominates
    "batch_sparse": Workload(base=_sparse(40_000), drop=_sparse(10_000)),
}

#: the tiny corpus of the untimed warm-up (``warm_up``)
WARMUP = Workload(base=_dense(2_000), drop=_dense(1_000))


# -- machine-sized settings ----------------------------------------------------

def machine_settings() -> dict:
    """Cores from the affinity mask (what ``nproc`` reports), a driver heap of
    a quarter of available memory (1 to 4 GiB), shuffle partitions 2 x cores."""
    cores = len(os.sched_getaffinity(0))
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    heap_gb = max(1, min(4, avail_kb // (4 << 20)))
    return {
        "cores": cores,
        "master": f"local[{cores}]",
        "driver_mem": f"{heap_gb}g",
        "shuffle_partitions": 2 * cores,
        "mem_available_kb": avail_kb,
        "extract_impl": os.environ.get("SPARK_GRAFT_EXTRACT_IMPL", "arrow"),
    }


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters of ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings (index 7 is steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def start_session(settings: dict, work: Path, event_log: Path | None = None
                  ) -> SparkSession:
    """One Spark session sized to the machine. Scratch, spill and the
    warehouse stay under ``work``. ``event_log`` turns on Spark's event log."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    # neither the launcher JVM nor the driver JVM writes hsperfdata files
    # to the system temp directory
    launcher = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    if "-XX:-UsePerfData" not in launcher:
        os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher} -XX:-UsePerfData".strip()
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="kgbench", master=settings["master"],
                      shuffle_partitions=settings["shuffle_partitions"],
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> dict[int, str]:
    """Every live process below ``pid``, as pid -> start time (field 22 of
    ``/proc/<pid>/stat``, so a reused pid is not taken for the same one)."""
    parent, start = {}, {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d.name)], start[int(d.name)] = int(fields[1]), fields[19]
    found, todo = {}, [pid]
    while todo:
        p = todo.pop()
        for c, pp in parent.items():
            if pp == p and c not in found:
                found[c] = start[c]
                todo.append(c)
    return found


def _alive(pid: int, start: str) -> bool:
    try:
        fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and fields[19] == start


def _wait_ended(procs: dict[int, str], timeout: float) -> dict[int, str]:
    """Wait until every process of ``procs`` has ended or ``timeout`` has
    passed; returns those still alive."""
    deadline = time.monotonic() + timeout
    while True:
        procs = {p: s for p, s in procs.items() if _alive(p, s)}
        if not procs or time.monotonic() > deadline:
            return procs
        time.sleep(0.05)


def stop_jvm(timeout: float = 30.0) -> None:
    """Stop the JVM that pyspark launched and wait until it and every process
    below this one (the Python workers) have ended; ``spark.stop()`` alone
    leaves the JVM running until some time after this process exits."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        with contextlib.suppress(Py4JError, OSError):
            SparkContext._active_spark_context.stop()
    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        with contextlib.suppress(Py4JError, OSError):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway server exits when its stdin closes
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    left = _wait_ended(procs, timeout)
    for p in left:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)
    _wait_ended(left, timeout)


# -- inputs ---------------------------------------------------------------------

@dataclass
class Inputs:
    base: str
    drops: list[str]
    base_truth: Truth
    drop_truths: list[Truth]
    shapes: dict

    def truth_after(self, n_drops: int) -> Truth:
        """Expected edge table after the base build and ``n_drops`` drops."""
        t = self.base_truth
        for d in self.drop_truths[:n_drops]:
            t = t | d
        return t


def make_inputs(wl: Workload, seed: int, out: Path, tag: str, n_drops: int,
                base_files: int = 1) -> Inputs:
    out.mkdir(parents=True, exist_ok=True)
    vocab = address_vocabulary(wl.base.vocab_size, seed)
    base = str(out / f"{tag}-base")
    base_truth, base_shape = generate(wl.base, seed, 0, vocab, base, f"{tag}-base",
                                      base_files)
    inputs = Inputs(base, [], base_truth, [], {"base": base_shape})
    for i in range(n_drops):
        path = str(out / f"{tag}-drop{i}")
        truth, shape = generate(wl.drop, seed, wl.base.n_docs + i * wl.drop.n_docs,
                                vocab, path, f"{tag}-drop{i}")
        inputs.drops.append(path)
        inputs.drop_truths.append(truth)
        inputs.shapes[f"drop{i}"] = shape
    return inputs


# -- the KG lifecycle -------------------------------------------------------------

def build(spark: SparkSession, corpus_path: str, warehouse: Path,
          run_id: str) -> tuple[StagedPipeline, dict[str, DataFrame]]:
    pipe = StagedPipeline(spark, str(warehouse), run_id=run_id)
    return pipe, pipe.run(lambda: spark.read.parquet(corpus_path))


def canonical(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Canonical mentions of a corpus: extract -> road_address_gate ->
    canonicalize."""
    mentions = extract_mentions(spark.read.parquet(*paths))
    return canonicalize_mentions(road_address_gate(mentions))


def edge_delta(spark: SparkSession, paths: list[str]) -> DataFrame:
    """A drop's edge delta: its canonical mentions -> build_edges."""
    return build_edges(canonical(spark, paths))


def warm_up(spark: SparkSession, warm: Inputs, work: Path) -> None:
    """The untimed warm-up: a build, a publish, a drop merged with expiry
    and the read set on a tiny corpus, so JIT, codegen and the Python
    workers are ready before the first timed operation."""
    root = str(work / "edges")
    _, out = build(spark, warm.base, work / "warehouse", "warmup")
    merge_edge_snapshot(out["edges"], root, 0)
    merge_edge_snapshot(edge_delta(spark, warm.drops), root, 1)
    expire_snapshots(root, keep=2)
    read_set(spark, work / "edges")
    spark.catalog.clearCache()


def read_set(spark: SparkSession, edges_root: Path) -> dict[str, list[tuple]]:
    """The read set on the latest snapshot, each query collected (the
    results are small: a degree histogram, top-3 per repo, one row per
    region)."""
    edges = read_edge_snapshot(spark, str(edges_root))
    return {name: sorted(tuple(r) for r in q(edges).collect())
            for name, q in READ_SET}


# -- operation accounting ------------------------------------------------------------

class Ops:
    """Attempted and failed operations. An operation fails if it raises or
    if its output check fails."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self, name: str, fn, check=None):
        """Run ``fn`` (timed), then ``check(result)`` (untimed). Returns
        (result, seconds, ok)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failed operation is a measurement
            self.fail(name, traceback.format_exc())
            return None, time.perf_counter() - t0, False
        dt = time.perf_counter() - t0
        if check is not None and not self._passes(name, lambda: check(out)):
            return out, dt, False
        return out, dt, True

    def verify(self, name: str, check) -> bool:
        """A check that counts as an operation of its own, such as comparing
        a layer's stored output with the ground truth."""
        self.attempted += 1
        return self._passes(name, check)

    def _passes(self, name: str, check) -> bool:
        try:
            ok = bool(check())
        except Exception:  # noqa: BLE001
            self.fail(name, f"check raised\n{traceback.format_exc()}")
            return False
        if not ok:
            self.fail(name, "output check failed")
        return ok

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {why}")


# -- run record -----------------------------------------------------------------------

def source_identity() -> dict:
    """The git commit when the benchmark runs in a git checkout, and always a
    digest of the program's sources, so a number can be traced to code."""
    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def append_record(work_root: Path, record: dict) -> str:
    line = json.dumps(record, sort_keys=True)
    work_root.mkdir(parents=True, exist_ok=True)
    with open(work_root / "runs.jsonl", "a") as f:
        f.write(line + "\n")
    return line
