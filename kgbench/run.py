"""KG-build benchmark: one closed-loop client drives the staged KG build,
incremental drops into the snapshot chain, and the graph read set, and
checks every output against the generator's ground truth.

    python3 kgbench/run.py --workload batch_dense --seed 1 --seconds 22 --trace 0

Run it from the repository root. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run record, also appended to ``.kgbench/runs.jsonl``. ``--trace 1``
makes the traced per-layer run instead (see ``tracing.py`` and README.md).
The exit code is non-zero when any operation or output check fails.
"""

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import checks  # noqa: E402
import harness as H  # noqa: E402
from extract_address_ner_spark.entry_queries_streaming import (  # noqa: E402
    expire_snapshots,
    merge_edge_snapshot,
    read_edge_snapshot,
)
from extract_address_ner_spark.operators.link import build_edges  # noqa: E402

END_TO_END = {  # name -> unit
    "setup_s": "s", "build_s": "s", "triples_per_s": "1/s", "merge_s": "s",
    "read_s": "s", "refresh_s": "s",
}


#: drops generated per run; the refresh phase merges them in order and
#: stops early when its time is up
MAX_DROPS = 4
#: share of ``--seconds`` given to builds; the rest goes to drops
BUILD_SHARE = 0.55


def builds(spark, inp: H.Inputs, work: Path, ops: H.Ops, samples: dict,
           deadline: float) -> dict | None:
    """Build the base corpus into a fresh warehouse, again and again, until
    the next build would end after ``deadline`` (at least once). Each build's
    output is checked after its timer stops. Returns the last build's stage
    outputs, or None when a build failed."""
    n = 0
    while True:
        warehouse = work / f"warehouse{n}"
        built, dt, ok = ops.run(
            "build",
            lambda: H.build(spark, inp.base, warehouse, f"b{n}"),
            check=lambda r: checks.edges_match(r[1]["edges"], inp.base_truth)
            and r[0].sha_invariant_ok(),
        )
        if not ok:
            return None
        # the check proved the edge table equals the ground truth
        samples["build_s"].append(dt)
        samples["triples_per_s"].append(len(inp.base_truth.edges()) / dt)
        if time.perf_counter() + dt > deadline:
            return built[1]
        shutil.rmtree(warehouse, ignore_errors=True)
        n += 1


def refresh(spark, inp: H.Inputs, edges, root: str, ops: H.Ops,
            samples: dict, deadline: float) -> int:
    """Publish the last build's edges as snapshot v0 (untimed), then merge
    the drops one by one, each followed by the read set on the latest
    snapshot, until the next drop would end after ``deadline`` (at least two
    drops, so ``expire_snapshots`` deletes a version). Returns the number of
    drops merged, or 0 when an operation failed."""
    merge_edge_snapshot(edges, root, 0)
    for v, drop in enumerate(inp.drops, start=1):
        truth = inp.truth_after(v)

        def merge():
            merge_edge_snapshot(H.edge_delta(spark, [drop]), root, v)
            expire_snapshots(root, keep=2)

        _, merge_dt, ok = ops.run(
            "merge", merge,
            check=lambda _: checks.edges_match(read_edge_snapshot(spark, root),
                                               truth),
        )
        if not ok:
            return 0
        _, read_dt, ok = ops.run(
            "read", lambda: H.read_set(spark, root),
            check=lambda rows: rows == checks.read_set_truth(truth))
        spark.catalog.clearCache()
        if not ok:
            return 0
        samples["merge_s"].append(merge_dt)
        samples["read_s"].append(read_dt)
        samples["refresh_s"].append(merge_dt + read_dt)
        if v >= 2 and time.perf_counter() + merge_dt + read_dt > deadline:
            return v
    return len(inp.drops)


def one_shot_ok(spark, inp: H.Inputs, base, root: str, n_drops: int) -> bool:
    """The final snapshot equals one build_edges over the base corpus's
    canonical mentions (the build's stage) plus those of every merged
    drop."""
    drops = H.canonical(spark, inp.drops[:n_drops])
    one_shot = build_edges(base.unionByName(drops))
    return (checks.spark_fingerprint(one_shot)
            == checks.spark_fingerprint(read_edge_snapshot(spark, root)))


def timed_run(args, settings: dict, work: Path) -> tuple[dict, dict, H.Ops]:
    """Set up, then spend ``BUILD_SHARE`` of ``--seconds`` on builds and the
    rest on drops into the snapshot chain, each with the read set."""
    t0 = time.perf_counter()
    inputs = H.make_inputs(H.WORKLOADS[args.workload], args.seed,
                           work / "inputs", "run", n_drops=MAX_DROPS)
    # one file per core, so the warm-up runs a task (and starts a Python
    # worker) on every core
    warm = H.make_inputs(H.WARMUP, args.seed, work / "inputs", "warm", n_drops=1,
                         base_files=settings["cores"])
    gen_s = time.perf_counter() - t0

    ops = H.Ops()
    spark = H.start_session(settings, work)
    try:
        _, _, ok = ops.run("warmup", lambda: H.warm_up(spark, warm, work / "warmup"))
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        samples: dict[str, list[float]] = {k: [] for k in END_TO_END
                                           if k != "setup_s"}
        start = time.perf_counter()
        built = ok and builds(spark, inputs, work, ops, samples,
                              start + BUILD_SHARE * args.seconds)
        n_drops = 0
        if built:
            root = str(work / "edges")
            n_drops = refresh(spark, inputs, built["edges"], root, ops, samples,
                              start + args.seconds)
            if n_drops:
                ops.verify("merge", lambda: one_shot_ok(
                    spark, inputs, built["canonical"], root, n_drops))
        metrics = {"setup_s": setup_s}
        metrics.update({k: statistics.median(v) for k, v in samples.items() if v})
        info = {"inputs": inputs.shapes, "gen_s": gen_s, "drops_merged": n_drops,
                "samples": samples}
        return metrics, info, ops
    finally:
        spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(H.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    settings = H.machine_settings()
    work_root = Path.cwd() / ".kgbench"
    work = work_root / f"work-{os.getpid()}"
    load_before, ticks_before = H.loadavg(), H.cpu_ticks()
    try:
        if args.trace:
            import tracing

            metrics, info, ops, units = tracing.traced_run(args, settings, work)
        else:
            metrics, info, ops = timed_run(args, settings, work)
            units = END_TO_END
    finally:
        H.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    for f in ops.failures:
        print(f, file=sys.stderr)
    missing = sorted(set(units) - set(metrics))
    if missing and not ops.failed:
        ops.fail("result", f"metrics not measured: {missing}")
    correct = ops.failed == 0
    record = {
        **H.source_identity(),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": settings,
        "loadavg_before": load_before, "loadavg_after": H.loadavg(),
        "steal_share": H.steal_share(ticks_before, H.cpu_ticks()),
        "attempted": ops.attempted, "failed": ops.failed,
        "failed_share": ops.failed / max(1, ops.attempted),
        "metrics": metrics, **info,
    }
    print(H.append_record(work_root, record))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, ops.attempted),
        "failed": ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items() if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
