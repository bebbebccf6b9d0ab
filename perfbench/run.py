"""Extraction benchmark: one command, three workloads, a layer ledger.

    python3 perfbench/run.py --workload extract_small_pages --seed 1 \\
        --seconds 22 --trace 0

Closed loop: this one driver process runs one job at a time on
``local[4]``; every timed call writes into a fresh output directory.
``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace
1`` runs the same units twice, untraced then traced, and prints the
per-layer metrics (see perfbench/README.md for the layer map).  Human
readable detail goes to stderr; the last line of stdout is one JSON
object.  Exits 1 when any output differs from the single-node oracle.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOTS = 4
HEAP = "2g"          # the host's memory is shared: the driver heap is small
YOUNG = "512m"
# seconds one timed unit takes on a 4-core host, to turn --seconds into a
# fixed number of units per run (a count that varies between runs would
# vary the JIT warm-up each run measures)
UNIT_ESTIMATE_S = {"extract_small_pages": 7.0,
                   "extract_large_pages": 5.5,
                   "ingest_recrawl": 12.0}


def _env() -> None:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["OCR_SPARK_DRIVER_MEM"] = HEAP


def start_session(work: str, event_dir: str | None):
    from ocr_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # fixed heap and young generation: G1 would otherwise size both
        # by how long its collections take, and RSS would follow the
        # host's load instead of what the program holds
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -Xmn{YOUNG}",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app_name="perfbench", master=f"local[{SLOTS}]",
                     shuffle_partitions=SLOTS, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and every process under it, and wait for
    each.  ``SparkSession.stop()`` leaves the JVM running until it sees
    its stdin close, which would otherwise happen only after this
    interpreter has exited, with nobody waiting for it."""
    from pyspark import SparkContext

    from perfbench.procstat import end_processes, snapshot
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # the Python daemon and its workers, which outlive a killed JVM
    procs = snapshot(proc.pid) if proc is not None else {}
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            gateway.shutdown()      # logs and swallows its own errors
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        end_processes(procs)


def stop_children() -> None:
    """End what else this process started: the resource tracker that
    the oracle's process pool leaves behind, and any straggler."""
    from multiprocessing import resource_tracker

    from perfbench.procstat import end_processes, snapshot
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    end_processes(snapshot(os.getpid()), grace_s=5.0)


def run_units(wl, spark, first: int, n: int, tracer=None) -> dict:
    """Run units first..first+n-1 back to back, sampling the JVM tree."""
    from perfbench.procstat import RssSampler, tree_cpu_s
    me = os.getpid()
    units, failed = [], 0
    cpu0 = tree_cpu_s(me)
    t0 = time.time()
    with RssSampler(me) as rss:
        for i in range(first, first + n):
            try:
                if tracer is None:
                    units.append(wl.unit(spark, i))
                else:
                    with tracer.span("bench.unit", "bench"):
                        units.append(wl.unit(spark, i))
            except Exception:
                traceback.print_exc()
                failed += 1
    return {"units": units, "failed": failed, "wall_s": time.time() - t0,
            "cpu_s": tree_cpu_s(me) - cpu0, "peak_rss": rss.peak}


def end_to_end(wl, loop: dict) -> dict:
    from perfbench.workloads import dir_bytes
    units = loop["units"]
    docs = sum(u.docs for u in units)
    lat = [u.seconds for u in units]
    written = sum(dir_bytes(d)[1] for d in wl.output_dirs(units))
    return {
        # a median over the calls: one call that a co-tenant slowed
        # moves it less than it moves a total
        "docs_per_s": statistics.median(u.docs / u.seconds for u in units),
        "cpu_s_per_kdoc": loop["cpu_s"] / docs * 1000,
        "drop_s_p50": statistics.median(lat),
        "drop_s_max": max(lat),
        "peak_rss_mb": loop["peak_rss"] / 2 ** 20,
        "bytes_written_per_doc": written / wl.docs_written(units),
    }


def per_layer(wl, tracer, untraced: tuple, traced: dict,
              event_dir: str) -> dict:
    from perfbench import eventlog, layers
    from perfbench.workloads import dir_bytes
    [path] = glob.glob(os.path.join(event_dir, "*"))
    with open(path) as f:
        log = eventlog.parse(f)
    spans = tracer.spans
    groups = {tracer.group_id(s) for s in spans}
    units = traced["units"]
    docs = sum(u.docs for u in units)
    extracted = sum(u.extracted_docs for u in units)
    xbytes = sum(u.extracted_bytes for u in units)

    pages, scale = layers.sample(wl.pages())
    core = layers.time_core(pages)
    udf = layers.time_udf(pages)
    out = {f"core.{k}": v for k, v in core.items()}
    out.update({f"udf.{k}": v for k, v in udf.items()})
    spark = log.summary(groups, traced["wall_s"], SLOTS)
    out.update({f"spark.{k}": v for k, v in spark.items()})
    out.update(layers.span_metrics(spans, log, tracer.group_id))
    files = size = 0
    for d in wl.output_dirs(units):
        n, b = dir_bytes(d)
        files += n
        size += b
    out["io.files_written"] = files
    out["io.bytes_written"] = size
    out["dedup.pages_in"] = docs if wl.dedups else 0
    out["dedup.kept_frac"] = extracted / docs if docs else 0.0
    out.update(layers.ledger(spans, log, tracer.group_id, traced["wall_s"],
                             SLOTS, core, udf, xbytes))
    dps = [sum(u.docs for u in lp["units"]) /
           sum(u.seconds for u in lp["units"]) for lp in (*untraced, traced)]
    out["trace.overhead_frac"] = 1 - dps[2] / statistics.mean(dps[:2])
    print(f"[perfbench] core sample: {core['docs']} docs, "
          f"{core['bytes']} B (x{scale:.2f} of the inputs)", file=sys.stderr)
    print("[perfbench] span / job group         calls    wall_s    self_s"
          "     job_s  jobs  tasks", file=sys.stderr)
    for r in layers.group_table(spans, log, tracer.group_id):
        print(f"[perfbench] {r[0]:<30}{r[1]:>6}{r[2]:>10.3f}{r[3]:>10.3f}"
              f"{r[4]:>10.3f}{r[5]:>6}{r[6]:>7}", file=sys.stderr)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses < 1)")
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an exception, so the session is still
    # stopped and its processes waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _env()
    from perfbench.trace import Tracer
    from perfbench.workloads import CACHE_VERSION, WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    cache = os.path.join(state, "cache", f"{args.workload}-v{CACHE_VERSION}"
                         f"-x{args.scale:g}", f"seed-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = WORKLOADS[args.workload](args.seed, work, cache, scale=args.scale)
    n_units = max(1, int(args.seconds / UNIT_ESTIMATE_S[args.workload]))
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = None
    t_run = time.perf_counter()
    try:
        t = time.perf_counter()
        wl.synthesize()
        synth_s = time.perf_counter() - t
        stop_children()

        t = time.perf_counter()
        spark = start_session(work, event_dir)
        wl.warmup(spark)
        setup_s = time.perf_counter() - t
        wl.prepare(spark)

        # one untimed call of the timed kind: the small warm-up pass
        # leaves the JIT cold and, for ingest, never merges, so the
        # first full call runs 5-35% slower than the ones after it
        warm = run_units(wl, spark, 0, 1)
        tracer = None
        if args.trace:
            # untraced, traced, untraced, one call each so that a traced
            # run stays short: the JIT still warms from call to call, and
            # the overhead compares the middle call with the mean of its
            # neighbours
            before = run_units(wl, spark, 1, 1)
            tracer = Tracer(spark)
            tracer.install()
            try:
                loop = run_units(wl, spark, 2, 1, tracer)
            finally:
                tracer.uninstall()
            after = run_units(wl, spark, 3, 1)
            calls = (warm, before, loop, after)
        else:
            loop = run_units(wl, spark, 1, n_units)
            calls = (warm, loop)
        checked, mismatched = wl.check(spark)
        attempted = sum(len(c["units"]) + c["failed"] for c in calls)
        failed = sum(c["failed"] for c in calls)
        correct = failed == 0 and mismatched == 0
        metrics = {}
        if correct:
            metrics = end_to_end(wl, loop)
            metrics["setup_s"] = setup_s
        stop_session(spark)
        spark = None
        if args.trace and correct:
            metrics = per_layer(wl, tracer, (before, after), loop, event_dir)
    finally:
        try:
            if "pyspark" in sys.modules:
                stop_session(spark)
        finally:
            stop_children()
            shutil.rmtree(work, ignore_errors=True)

    print(f"[perfbench] {args.workload} seed={args.seed}: run_s="
          f"{time.perf_counter() - t_run:.1f} synth_s="
          f"{synth_s:.2f} (cached inputs are reused), calls={attempted} "
          f"warm={[round(u.seconds, 3) for u in warm['units']]} "
          f"timed={[round(u.seconds, 3) for u in loop['units']]}, "
          f"checked={checked} mismatched_docs={mismatched} "
          f"error_rate={failed / attempted:.3f}", file=sys.stderr)
    units = _units()
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]}
                       for k, v in metrics.items()}}
    for k, m in out["metrics"].items():
        print(f"[perfbench] {k:<28} {m['value']:>16.6g} {m['unit']}",
              file=sys.stderr)
    print(json.dumps(out), flush=True)
    return 0 if correct else 1


def _units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
