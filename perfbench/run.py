#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine, one workload per process.

Run from the repository root:

    python3 perfbench/run.py --workload docs_pip_tile --seed 1 --seconds 12 --trace 0

The process builds a ``local[nproc]`` session, stages the workload's seeded
inputs as parquet, then drives the engine as a closed loop with one client:
passes run back to back and each pass makes the workload's calls in a fixed
order. Every call's result is forced by computing its digest
(``expect.py``), which is compared with an expectation computed without
the engine and cached per (workload, size, seed) under ``.perfbench/``.

A run is: set-up (session once, input staging ``STAGE_REPS`` times), one
cold pass, ``WARM_PASSES`` warm-up pass, then the measured window: passes
back to back until ``--seconds`` have passed (at least one). The cold pass
takes the codegen, JIT and Python-worker start-up; the first pass after it
is still ~10% slower than the ones that follow, and keeping it out of the
window stops the median from depending on whether the window held two
passes or three. Later passes fall a few percent a pass more; every run
measures at the same point of that curve, so that a run stays under about
a minute.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` interleaves
traced and untraced passes in the window, attributes the Spark jobs of each
traced pass to the call that submitted them, and prints per-layer metrics
(medians over the traced passes). Both print human-readable ``metric``
lines and end with one JSON line.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

STAGE_REPS = 3
WARM_PASSES = 1

#: every call any workload makes, in report order
CALLS = [
    "ingest.ingest",
    "spatial_join.pip_join",
    "tiling.tile_assign_segments",
    "catalog.append",
    "catalog.read",
    "catalog.compact",
    "catalog.lineage",
    "knn.knn_join_bulk",
    "graph.boruvka_mst",
    "spatial_join.polygon_intersect_join",
    "dedup.minhash_dedup",
]
CALL_METRICS = {
    "wall_s": "s", "call_s": "s", "driver_gap_s": "s", "task_cpu_s": "s",
    "offcpu_s": "s", "gc_s": "s", "shuffle_bytes": "bytes", "jobs": "count",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["docs_pip_tile", "pair_joins"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "tiny"], default="default")
    # session overrides: the engine's local default heap (16g) is larger
    # than small hosts, and its default local dir (/dev/shm) is outside
    # the checkout
    ap.add_argument("--driver-memory", default="2g")
    ap.add_argument("--offheap-size", default="1g")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")
    return args


def log(*parts) -> None:
    print(*parts, flush=True)


class Tally:
    """Calls attempted and failed, with the error class of each failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: dict[tuple[str, str], list] = {}

    def add(self, step: str, error: str | None, message: str = "") -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            slot = self.errors.setdefault((step, error), [0, message])
            slot[0] += 1


def run_pass(spark, wl, hooks, ctx, expected, pass_id, tally, seed) -> tuple[float, list, dict]:
    """One pass over the workload's calls. A call that raises or returns a
    wrong digest is counted and the pass goes on with the next call."""
    hooks["begin"](spark, ctx, pass_id)
    spans = []
    t0 = time.time()
    for i, step in enumerate(wl.steps):
        start = time.time()
        returned = None
        error, message = None, ""
        try:
            out = step.call(ctx)
            returned = time.time()
            got = json.loads(json.dumps(step.force(ctx, out)))
            if got != expected[i]:
                error, message = "WrongDigest", f"got {got} expected {expected[i]}"
        except Exception as e:  # noqa: BLE001 - the loop must survive any engine failure
            error, message = type(e).__name__, str(e).splitlines()[0][:200] if str(e) else ""
            traceback.print_exc(file=sys.stderr)
        end = time.time()
        spans.append({"name": step.name, "start": start, "returned": returned or end, "end": end,
                      "parent": f"pass-{pass_id}", "pass": pass_id, "seed": seed, "error": error})
        tally.add(step.name, error, message)
    wall = time.time() - t0
    log("  calls " + " ".join(f"{sp['name']}={sp['end'] - sp['start']:.3f}" for sp in spans))
    spans.append({"name": "pass", "id": f"pass-{pass_id}", "start": t0, "end": t0 + wall,
                  "parent": None, "pass": pass_id, "seed": seed})
    return wall, spans, hooks["end"](ctx)


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)


def main(argv=None) -> int:
    t_start = time.time()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import osmflat_rs_spark  # noqa: F401
        from osmflat_rs_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    import expect
    import measure
    import workloads

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = args.driver_memory
    os.environ["SPARK_OFFHEAP_SIZE"] = args.offheap_size
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        # keep every job and stage of a pass in the status store until it is read
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})

    size = workloads.SIZES[args.workload][args.size]
    hooks = workloads.WORKLOADS[args.workload]
    tally = Tally()
    cpu_before = measure.cpu_times()
    spark = None
    with measure.RssSampler() as rss:
        try:
            spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
                              extra_conf=conf)
            get_spark_s = time.time() - t_start
            stage_times = []
            for rep in range(STAGE_REPS):
                t0 = time.time()
                paths = hooks["stage"](args.seed, size, os.path.join(work, f"inputs{rep}"))
                stage_times.append(time.time() - t0)
                if rep + 1 < STAGE_REPS:
                    shutil.rmtree(os.path.join(work, f"inputs{rep}"))
            stage_s = statistics.median(stage_times)
            setup_s = get_spark_s + stage_s

            key = f"{args.workload}-{args.size}-{args.seed}"
            expected = expect.cached(
                os.path.join(STATE, "expect"), key,
                lambda: json.loads(json.dumps(hooks["expect"](args.seed, size, paths))),
            )
            wl, ctx = hooks["build"](spark, args.seed, size, paths, work)
            log(f"perfbench workload={args.workload} size={args.size} seed={args.seed} "
                f"trace={args.trace} cpus={cpus} driver_memory={args.driver_memory}")
            log(f"inputs rows={wl.n_input} fingerprint={expect.input_fingerprint(list(paths.values()))} "
                f"size={json.dumps(size, sort_keys=True)}")

            pass_id = 0
            cold_s, _, _ = run_pass(spark, wl, hooks, ctx, expected, pass_id, tally, args.seed)
            log(f"pass cold {cold_s:.3f}")
            for _ in range(WARM_PASSES):
                pass_id += 1
                w, _, _ = run_pass(spark, wl, hooks, ctx, expected, pass_id, tally, args.seed)
                log(f"pass warm {w:.3f}")

            joblog = measure.JobLog(spark) if args.trace else None
            plain, traced, per_call, spans, mats, extras = [], [], [], [], [], []
            t_window = time.time()
            while (time.time() - t_window < args.seconds or not plain
                   or (args.trace and not traced)):
                pass_id += 1
                tracing = bool(args.trace) and len(traced) <= len(plain)
                first = joblog.next_job_id() if tracing else 0
                w, sp, extra = run_pass(spark, wl, hooks, ctx, expected, pass_id, tally, args.seed)
                extras.append(extra)
                log(f"pass {'traced' if tracing else 'timed'} {w:.3f}")
                if not tracing:
                    plain.append(w)
                    continue
                traced.append(w)
                jobs = joblog.jobs(first, joblog.next_job_id())
                per_call.append(measure.attribute([s for s in sp if s["name"] != "pass"], jobs))
                mats.append(measure.materializations(jobs))
                spans.extend(sp)

            pass_s = statistics.median(plain)
            metrics = {}
            if not args.trace:
                metrics = {
                    "setup_s": (setup_s, "s"),
                    "cold_pass_s": (cold_s, "s"),
                    "pass_s": (pass_s, "s"),
                    "peak_rss_mb": (rss.peak / 2**20, "MB"),
                }
            else:
                metrics = layer_metrics(wl, ctx, per_call, mats, extras, traced, plain,
                                        get_spark_s, stage_s)
                out_dir = os.path.join(STATE, "traces")
                os.makedirs(out_dir, exist_ok=True)
                with open(os.path.join(out_dir, f"{key}-{os.getpid()}.json"), "w") as f:
                    json.dump({"spans": spans, "per_call": per_call}, f)
            # reported for reading, outside the JSON metric set: not every
            # workload defines them, and fail_ratio is `failed`/`attempted`
            info = {"fail_ratio": (tally.failed / max(1, tally.attempted), "ratio")}
            if args.workload == "docs_pip_tile":
                info["docs_per_s"] = (wl.n_input / pass_s, "docs/s")
                info["stored_bytes_per_input_byte"] = (stored_ratio(wl, extras), "ratio")
            else:
                info["rows_per_s"] = (wl.n_input / pass_s, "rows/s")
            for name, (value, unit) in {**metrics, **info}.items():
                log(f"metric {name} {value:.6g} {unit}")
            log(f"host cpu_steal_share {measure.steal_share(cpu_before, measure.cpu_times()):.4f}")
            for (step, err), (n, msg) in sorted(tally.errors.items()):
                log(f"error {step} {err} x{n}: {msg}")
            result = {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        finally:
            if spark is not None:
                stop_session(spark)
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def stored_ratio(wl, extras) -> float:
    """Warehouse bytes on disk after a pass over the input docs' parquet bytes."""
    import workloads

    return statistics.median(e["stored_bytes"] for e in extras) / workloads.dir_bytes(wl.paths["docs"])


def layer_metrics(wl, ctx, per_call, mats, extras, traced, plain, get_spark_s, stage_s) -> dict:
    """Per-layer metrics: medians over the traced passes of per-pass totals
    (a call that runs several times in a pass is summed within the pass).
    Calls this workload does not make report 0."""
    import workloads

    def med(values):
        return statistics.median(values) if values else 0.0

    out = {}
    for call in CALLS:
        for m, unit in CALL_METRICS.items():
            out[f"{call}.{m}"] = (med([pc[call][m] for pc in per_call if call in pc]), unit)
    out["session.get_spark_s"] = (get_spark_s, "s")
    out["fixtures.stage_s"] = (stage_s, "s")
    out["checkpoint.materializations"] = (med([n for n, _ in mats]), "count")
    out["checkpoint.materialize_s"] = (med([s for _, s in mats]), "s")
    pip_rows = ctx.get("pip_pairs")
    out["spatial_join.pip_join.pairs_per_point"] = (
        pip_rows / wl.size["n_nodes"] if pip_rows else 0.0, "ratio")
    if "minhash_pairs" in ctx:
        cand = workloads.minhash_candidates(ctx)
        out["dedup.minhash_dedup.verified_per_candidate"] = (ctx["minhash_pairs"] / max(1, cand), "ratio")
    else:
        out["dedup.minhash_dedup.verified_per_candidate"] = (0.0, "ratio")
    out["catalog.stored_bytes_per_input_byte"] = (
        stored_ratio(wl, extras) if "stored_bytes" in extras[0] else 0.0, "ratio")
    out["catalog.append.bytes_written"] = (med([e.get("append_bytes", 0) for e in extras]), "bytes")
    out["catalog.append.files_written"] = (med([e.get("append_files", 0) for e in extras]), "count")
    out["trace.overhead_ratio"] = (statistics.median(traced) / statistics.median(plain), "ratio")
    out["trace.span_coverage"] = (
        med([sum(v["wall_s"] for v in pc.values()) / t for pc, t in zip(per_call, traced)]), "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main())
