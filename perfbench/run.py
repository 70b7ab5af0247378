"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload lookup|scan|ingest --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout of the repository. It generates its
inputs from the seed, starts Spark ``local[n]`` (n = min(4, nproc)),
sets the workload up, warms it up until op time settles, then runs ops
back to back for ``--seconds`` and checks every answer against the
generator's truth. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` a separate traced
pass times calls into each engine layer (see README.md). The line before
it holds diagnostics (tail percentile and op count, warm-up, canary,
input generation time).

Everything the run writes lives under ``.perfbench_tmp/`` in the
checkout and is removed at exit; a lock there keeps two runs apart.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
DRIVER_MEM = "2g"          # small enough that peak RSS saturates steadily
LOCK_WAIT_S = 120

# Warm-up runs ops for at least ``min_s`` seconds and until the median of
# the last ``w`` op times is within SETTLED of the median of the ``w``
# before, or for ``max_s`` seconds: (w, min_s, max_s). Op times keep
# falling for several seconds after the first few ops (JIT).
WARMUP = {
    "lookup": (5, 8.0, 20.0),
    "scan": (3, 10.0, 25.0),
    "ingest": (2, 0.0, 60.0),
}
SETTLED = 0.10


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["lookup", "scan", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def import_engine():
    """The engine must come from this checkout, never from elsewhere on
    the path."""
    sys.path[:0] = [HERE, ROOT]
    import mdbloom
    if not os.path.abspath(mdbloom.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"mdbloom resolved outside the checkout: "
                          f"{mdbloom.__file__}")


def start_spark(run_dir: str, trace: bool):
    from mdbloom.spark.session import get_spark
    n = min(4, os.cpu_count() or 1)
    extra = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir,
                                                           "events"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app="perfbench", master=f"local[{n}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    import host
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    host.reap_children()


def timed(wl, i: int):
    """One op: (seconds, ok). An exception counts as a failed op."""
    t = time.perf_counter()
    try:
        out = wl.run(i)
    except Exception:
        log(traceback.format_exc())
        return time.perf_counter() - t, False
    dt = time.perf_counter() - t
    try:
        return dt, bool(wl.check(i, out))
    except Exception:
        log(traceback.format_exc())
        return dt, False


def warm_up(wl, name: str) -> tuple[int, int, list]:
    """Run ops until op time settles (see WARMUP). Returns the next op
    index, the failures seen, and the warm-up op times."""
    w, min_s, max_s = WARMUP[name]
    times, fails, t0 = [], 0, time.monotonic()
    while True:
        dt, ok = timed(wl, len(times))
        times.append(dt)
        fails += not ok
        if len(times) < 2 * w:
            continue
        elapsed = time.monotonic() - t0
        now = statistics.median(times[-w:])
        before = statistics.median(times[-2 * w:-w])
        if elapsed > max_s or (elapsed >= min_s
                               and abs(now - before) <= SETTLED * before):
            return len(times), fails, times


def closed_loop(wl, start: int, seconds: float) -> tuple[list, int]:
    lat, fails, i = [], 0, start
    end = time.monotonic() + seconds
    while time.monotonic() < end:
        dt, ok = timed(wl, i)
        lat.append(dt)
        fails += not ok
        i += 1
    return lat, fails


def tail(lat: list) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least 10 ops
    beyond it. Below 20 ops that percentile would not lie above the
    median, so the slowest op is reported (percentile 100)."""
    xs = sorted(lat)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run(args) -> dict:
    import host
    import workloads

    run_dir = host.fresh_run_dir(TMP_ROOT)
    tmp = os.path.join(run_dir, "tmp")
    tempfile.tempdir = tmp
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM (the spark-submit launcher too): temp files in the run
        # dir, and no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "MDBLOOM_DRIVER_MEM": DRIVER_MEM,
        # This host backs freshly mapped pages slowly and erratically, so
        # keep the Python workers' malloc and Arrow from handing memory
        # back to the OS between ops only to fault it in again.
        "MALLOC_MMAP_THRESHOLD_": str(32 << 20),
        "MALLOC_TRIM_THRESHOLD_": str(16 << 30),
        "ARROW_DEFAULT_MEMORY_POOL": "system",
    })
    os.environ.pop("MDBLOOM_JVM_PRETOUCH", None)
    threads = min(4, os.cpu_count() or 1)
    diag = {"workload": args.workload, "seed": args.seed,
            "canary_start": host.canary(threads)}

    t = time.perf_counter()
    inputs = workloads.Inputs(args.workload, args.seed,
                              os.path.join(run_dir, "data"))
    diag["gen_s"] = time.perf_counter() - t

    with host.RssSampler() as rss:
        t_session = time.perf_counter()
        spark = start_spark(run_dir, bool(args.trace))
        try:
            session_s = time.perf_counter() - t_session
            wl = workloads.WORKLOADS[args.workload](spark, inputs, run_dir)
            setup_ok = wl.setup()
            diag["build_s"] = wl.build_s
            start, warm_fails, warm = warm_up(wl, args.workload)
            setup_s = time.perf_counter() - t_session
            diag.update(session_s=session_s, warmup_ops=start,
                        warmup_ms=[round(x * 1e3, 1) for x in warm])
            if args.trace:
                import layers
                layer = layers.traced_pass(spark, wl, args.workload,
                                          start, args.seconds)
            else:
                lat, fails = closed_loop(wl, start, args.seconds)
            strategy = wl.reader.choose_strategy(
                workloads.SCAN_BATCH if args.workload == "scan" else 1)
        finally:
            stop_spark(spark)
    diag["canary_end"] = host.canary(threads)
    diag["strategy"] = strategy
    correct = setup_ok and warm_fails == 0

    if args.trace:
        metrics = layers.finish(layer, os.path.join(run_dir, "events"),
                               session_s, diag)
        return {"correct": correct and layer["failed"] == 0,
                "attempted": layer["attempted"], "failed": layer["failed"],
                "metrics": metrics}, diag

    op_s = sum(lat)
    tail_v, tail_pct = tail(lat)
    diag.update(ops=len(lat), tail_percentile=tail_pct,
                op_ms=[round(x * 1e3, 1) for x in lat])
    n = len(lat)
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "p50_ms": metric(statistics.median(lat) * 1e3, "ms"),
        "tail_ms": metric(tail_v * 1e3, "ms"),
        "queries_per_s": metric(wl.queries_per_op * n / op_s, "1/s"),
        "turns_per_s": metric(wl.turns_per_s(op_s, n), "turns/s"),
        "peak_rss_mb": metric(rss.peak / 2**20, "MB"),
        "index_bytes_per_turn": metric(wl.index_bytes / inputs.index.n,
                                       "B/turn"),
    }
    return {"correct": correct and fails == 0, "attempted": n,
            "failed": fails, "metrics": metrics}, diag


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import_engine()
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    import host
    try:
        with host.RunLock(os.path.join(TMP_ROOT, "lock"), LOCK_WAIT_S):
            try:
                result, diag = run(args)
            finally:
                shutil.rmtree(os.path.join(TMP_ROOT, "run-%d" % os.getpid()),
                              ignore_errors=True)
    except Exception:
        log(traceback.format_exc())
        host.reap_children()
        return 1
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
