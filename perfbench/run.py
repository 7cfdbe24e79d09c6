#!/usr/bin/env python3
"""Benchmark of the solaris_spark tiling, mask, eval-join and skew-join paths.

    python3 perfbench/run.py --workload tile_mask --seed 1 --seconds 10 --trace 0

Workloads, each a closed loop with one client: the Spark driver runs passes
back to back at local[nproc // 2].  Half the CPUs take tasks, so the Python
worker beside each task, the JVM's own threads and other load find a free
CPU instead of delaying a task: on a 4-vCPU KVM guest, one CPU kept busy by
another process slowed tile_mask passes by about a fifth at local[4] and by
about a tenth at local[2].  Inputs are made from --seed; their shape (image
size, labels per image) is fixed, so the work per pass does not depend on it.

  tile_mask      raster_tiles (90x90) then image_masks (footprint, boundary,
                 contact) on 32 synthetic images of 1000x1000 px with 200
                 footprints each (SpaceNet density), both to the noop sink
  hot_cell_join  plans.skew.salted_join of 1M fact rows (30 % on one cell)
                 to 4096 cells, sha2 work per row, groupBy; JVM only, the
                 control on which Python and kernel changes must not move
                 anything
  label_eval     labels_geo + vector_tiles of 64 images' labels (500x500 px,
                 50 footprints each, the same density), then greedy_iou_match
                 of seeded predictions against the first 25 + image_scores.
                 Not in BENCHMARK.json: its passes are bound by the Python
                 interpreter, and on a shared host its figures spread about
                 twice as far between runs as tile_mask's; run it by hand

End-to-end metrics (--trace 0): ``items_per_s``, the median over timed
passes of the pass's items / its wall (tile_mask: tiles + 3 x masks;
label_eval: vector-tile rows + match rows; hot_cell_join: fact rows);
``peak_rss_mb``, the peak summed RSS of the driver JVM and its Python
workers during the timed passes; ``setup_s``, session start plus the median
of three input generations with persist.  The output checks, which run
every operator of the pass, and one warm-up pass come before the timed
passes; every pass must reproduce the checked counts, and one that does not,
or raises, counts as failed.

--trace 1 alternates traced and untraced passes and prints the per-layer
metrics (medians over the traced passes) plus the tracing overhead; its
spans are written to .perfbench_out/ at exit.  The last line of stdout is
the result object; the line before it records the host and engine build
the result came from.  ``--smoke`` runs the same code at minimum input size;
``--corrupt`` shifts every expected value so the run must report a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

SETUP_REPS = 3
MIN_PASSES = 4      # timed passes, even if --seconds runs out first
MAX_FAILED = 4      # give up on a run whose passes keep failing
DRIVER_MEMORY = "2g"

END_TO_END = {"items_per_s": "1/s", "peak_rss_mb": "MB", "setup_s": "s"}

PER_LAYER = {
    "functions.cut_window_us_per_tile": "us",
    "functions.mask_fbc_ms_per_image": "ms",
    "functions.transform_wkt_us_per_label": "us",
    "functions.clip_us_per_pair": "us",
    "functions.iou_us_per_pair": "us",
    "pydaemon.init_s": "s",
    "pydaemon.run_s": "s",
    "pydaemon.bytes_to_py": "B",
    "pydaemon.bytes_from_py": "B",
    "pydaemon.rows_from_py": "count",
    "pydaemon.kernel_s": "s",
    "pydaemon.kernel_share": "ratio",
    "plans.tasks": "count",
    "plans.stages": "count",
    "plans.run_s": "s",
    "plans.cpu_s": "s",
    "plans.gc_s": "s",
    "plans.shuffle_write_bytes": "B",
    "plans.shuffle_read_bytes": "B",
    "plans.fetch_wait_s": "s",
    "plans.broadcast_bytes": "B",
    "plans.task_skew": "ratio",
    "plans.slot_busy_frac": "ratio",
    "operators.raster_tiles_s": "s",
    "operators.image_masks_s": "s",
    "operators.labels_geo_s": "s",
    "operators.vector_tiles_s": "s",
    "operators.greedy_iou_match_s": "s",
    "operators.image_scores_s": "s",
    "operators.salted_join_s": "s",
    "sources.images_s": "s",
    "sources.labels_s": "s",
    "sources.facts_s": "s",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tile_mask", "label_eval", "hot_cell_join"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="minimum input size (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="shift every expected value (self-test)")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def layer_sample(stats, tracer, pass_span, cores, kernel_s) -> dict:
    """Per-layer numbers of one traced pass, from its operator spans."""
    m = {k: 0.0 for k in PER_LAYER}
    widest = None
    for sp in tracer.children(pass_span):
        m[sp["name"] + "_s"] = sp["wall_s"]
        py = stats.python_nodes(sp["group"])
        for k in ("init_s", "run_s", "bytes_to_py", "bytes_from_py",
                  "rows_from_py"):
            m["pydaemon." + k] += py[k]
        m["plans.broadcast_bytes"] += py["broadcast_bytes"]
        st = stats.stages(sp["group"])
        for k in ("tasks", "stages", "run_s", "cpu_s", "gc_s",
                  "shuffle_write_bytes", "shuffle_read_bytes",
                  "fetch_wait_s"):
            m["plans." + k] += st[k]
        if widest is None or st["widest"] > widest[0]:
            widest = (st["widest"], st["task_skew"])
    m["plans.task_skew"] = widest[1] if widest else 0.0
    m["plans.slot_busy_frac"] = m["plans.run_s"] / (cores
                                                    * pass_span["wall_s"])
    m["pydaemon.kernel_s"] = kernel_s
    if m["pydaemon.run_s"] > 0:
        m["pydaemon.kernel_share"] = kernel_s / m["pydaemon.run_s"]
    return m


def run(spark, wl, args, cores, session_s) -> dict:
    from perfbench import host
    from perfbench.sparkstats import SparkStats
    from perfbench.trace import Tracer
    from perfbench.workloads import CheckFailed

    sc = spark.sparkContext
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(sc, run_id, enabled=bool(args.trace))
    stats = SparkStats(spark)

    setups = []
    for i in range(SETUP_REPS):
        if i:
            wl.teardown()
        t0 = time.perf_counter()
        wl.setup(tracer)
        setups.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(setups)

    t0 = time.perf_counter()
    correct = True
    try:
        wl.check()
    except CheckFailed as e:
        correct = False
        log(f"output check failed: {e}")
    checked = {**wl.expected, **wl.checksums}
    if args.corrupt:
        wl.expected = {k: v + 1 for k, v in wl.expected.items()}

    check_s = time.perf_counter() - t0
    kernels, kernel_s = wl.kernels() if args.trace else ({}, 0.0)

    attempted = failed = 0
    rates, walls, layers = [], {True: [], False: []}, []

    def one_pass(traced: bool):
        """(items, wall) of one checked pass, or None if it failed."""
        nonlocal attempted, failed
        tracer.enabled = traced
        attempted += 1
        try:
            with tracer.span("pass") as sp:
                t0 = time.perf_counter()
                items, counts = wl.run_pass(tracer)
                wall = time.perf_counter() - t0
            wl.compare(counts)
        except Exception as e:  # a failed pass is counted, not fatal
            failed += 1
            log(f"pass {attempted} failed: {e!r}")
            if not isinstance(e, CheckFailed):
                traceback.print_exc()
            return None
        if traced:
            stats.drain()
            layers.append(layer_sample(stats, tracer, sp, cores, kernel_s))
        return items, wall

    with host.RssSampler(sc._gateway.proc.pid) as rss:
        one_pass(False)  # warms the JIT and the Python workers; not timed
        deadline = time.perf_counter() + args.seconds
        while failed <= MAX_FAILED and (len(rates) < MIN_PASSES
                                        or time.perf_counter() < deadline):
            traced = bool(args.trace) and attempted % 2 == 1
            done = one_pass(traced)
            if done is not None:
                rates.append(done[0] / done[1])
                walls[traced].append(done[1])
    tracer.enabled = bool(args.trace)
    if args.trace:
        tracer.write(os.path.join(OUT, f"spans-{run_id}.json"))

    if not args.trace:
        metrics = {"items_per_s": _median(rates),
                   "peak_rss_mb": rss.peak / 2 ** 20,
                   "setup_s": setup_s}
        units = END_TO_END
    else:
        metrics = {k: _median([x[k] for x in layers]) for k in PER_LAYER}
        metrics.update(kernels)
        for name in ("sources.images", "sources.labels", "sources.facts"):
            spans = [s["wall_s"] for s in tracer.spans if s["name"] == name]
            metrics[name + "_s"] = _median(spans)
        if walls[True] and walls[False]:
            metrics["trace.overhead_frac"] = (
                statistics.median(walls[True])
                / statistics.median(walls[False]) - 1.0)
        units = PER_LAYER
    return {"correct": correct and failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
            "_run": {"pass_s": {"traced": walls[True],
                                "untraced": walls[False]},
                     "checked": checked,
                     "session_s": session_s, "input_setup_s": setups,
                     "check_s": check_s,
                     "jvm_peak_rss_mb": rss.peak_root / 2 ** 20,
                     "max_processes": rss.max_procs}}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "solaris_spark", "session.py")):
        log(f"engine source not found under {ROOT}; run from a checkout "
            "of the repository")
        return 2
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    # keep every file Spark and its workers write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    os.environ.pop("OMP_NUM_THREADS", None)
    sys.path.insert(0, ROOT)

    from perfbench import host
    from perfbench.workloads import WORKLOADS
    from solaris_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)  # task slots
    hostinfo = host.info(ROOT, nproc)
    hostinfo["task_slots"] = cores
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", cores=cores, driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
            # the whole heap is committed and touched at start, so the
            # JVM's resident size does not depend on when GC ran
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, cores, args.smoke)
        result = run(spark, wl, args, cores, session_s)
    finally:
        host.stop_spark(spark)
        for scratch in ("tmp", "spark-local"):
            shutil.rmtree(os.path.join(OUT, scratch), ignore_errors=True)
    hostinfo["loadavg_end"] = list(os.getloadavg())
    hostinfo["driver_memory"] = DRIVER_MEMORY
    print(json.dumps({"host": hostinfo, "run": result.pop("_run")}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
