"""Traced pass: per-layer numbers, measured from outside the engine.

Every call into a layer's public function runs inside ``Tracer.call``,
which tags its Spark jobs with ``setJobGroup(<layer>)`` and records its
wall time. A layer's self time is the difference between successive
prefixes of one call chain, each forced with an action: for a lookup,
``query_bits`` -> ``prune_shards`` -> ``search_keys().count()`` ->
``search().collect()``. Executor CPU and run time per layer come from
the Spark event log (read after the session stops); GC time from the
JVM's GC MXBeans over py4j.

During the timed window the workload's own chain alternates with an
untraced op, so the traced-vs-untraced difference is the tracing
overhead. Afterwards every other layer is probed a few times, so each
traced run prints every per-layer metric whatever its workload.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter, defaultdict

import host
import workloads

# layers whose calls launch Spark jobs: spark.cpu_s.<layer>/spark.run_s.<layer>
JOB_LAYERS = ("build.fingerprints", "build.filters", "build.total",
              "query.open", "query.keys", "query.rows", "query.linear",
              "query.slab_sql", "query.prune_many", "query.keys_many",
              "query.search_many", "query.linear_many", "query.slab_many",
              "storage.scan", "op")
PHASES = ("fingerprints", "hash_storage_write", "slab_write",
          "dup_contract_check", "token_stream_write", "manifest_gate_write")
ARTIFACTS = ("storage", "slabs", "token_hashes", "manifest", "manifest_tree")
PROBE_REPS = 2


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall = defaultdict(list)     # layer -> seconds per call
        self.values = defaultdict(list)   # counter name -> samples
        self.chain_op = []                # traced op wall per chain
        self.chain_layers = []            # {layer: self seconds} per chain
        self.attempted = self.failed = 0

    def call(self, layer: str, fn, *args, **kw):
        self.sc.setJobGroup(layer, "perfbench " + layer)
        t = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            self.wall[layer].append(time.perf_counter() - t)
            self.sc.setJobGroup("untagged", "perfbench")

    def last(self, layer: str) -> float:
        return self.wall[layer][-1]

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


# ---------------- chains: one traced op of each workload ----------------
# Each returns (traced op wall, {layer: self seconds along the blocking
# path}). Self times are differences of successive prefixes, so within
# one op they add up to its wall; trace.coverage compares the sum of
# their medians with the median op, and trace.overhead_ms compares the
# traced op with the untraced ops of the same run.
def lookup_chain(tr: Tracer, wl, i: int) -> tuple:
    r = wl.reader
    toks, truth = wl.inputs.lookups[i % len(wl.inputs.lookups)]
    qbits = tr.call("query.bits", r.query_bits, toks)
    kept = tr.call("query.prune", r.prune_shards, qbits, toks)
    tr.call("query.keys", lambda: r.search_keys(toks).count())
    rows = tr.call("query.rows", lambda: r.search(toks).collect())
    tr.call("query.linear", lambda: r.search_linear(toks).collect())
    tr.call("query.slab_sql", lambda: r.search_slab_sql(toks).collect())
    got = workloads.keys_of(rows)
    total = len(r.manifest())
    tr.values["shards_total"].append(total)
    tr.values["shards_kept"].append(len(kept))
    tr.values["keep_ratio"].append(len(kept) / total)
    tr.values["candidates"].append(len(rows))
    tr.values["true_hits"].append(len(truth & got))
    bits, prune = tr.last("query.bits"), tr.last("query.prune")
    keys, full = tr.last("query.keys"), tr.last("query.rows")
    tr.values["join"].append(full - keys)
    tr.count(truth <= got)
    return full, {"bits": bits, "prune": prune, "scan": keys - bits - prune,
                  "join": full - keys}


def scan_chain(tr: Tracer, wl, i: int) -> tuple:
    r = wl.reader
    batch, truth = wl.inputs.scan_batch(i)
    tr.call("query.plan_many", lambda: [
        r.prune_shards(r.query_bits(t), t) for t in batch.values()])
    tr.call("query.keys_many",
            lambda: r.search_keys_slab_sql_many(batch).count())
    count = workloads.reduce_counts
    counts = tr.call("query.search_many",
                     lambda: count(r.search_many(batch)))
    _, stats = tr.call("query.prune_many", r.prune_shards_many_distributed,
                       batch, return_stats=True)
    tr.values["tree_rows_read"].append(stats["tree_rows_read"])
    tr.values["leaf_rows_scanned"].append(stats["leaf_rows_scanned"])
    tr.call("query.linear_many",
            lambda: count(r.search_many(batch, via="linear")))
    tr.call("query.slab_many",
            lambda: count(r.search_many(batch, via="slab")))
    plan, keys = tr.last("query.plan_many"), tr.last("query.keys_many")
    full = tr.last("query.search_many")
    tr.values["join_many"].append(full - keys)
    tr.count(workloads.check_counts(counts, truth, wl.inputs.index.n,
                                    wl.cfg.probability))
    return full, {"plan": plan, "kernel": keys - plan, "join": full - keys}


def build_prefixes(tr: Tracer, wl) -> None:
    """The first two prefixes of a build, each forced on its own: the
    fingerprint pass, and the hash + filter-word pass into Spark's
    ``noop`` sink."""
    from mdbloom.spark import BloomIndexWriter
    df = wl.spark.read.parquet(wl.inputs.stage_path)
    writer = BloomIndexWriter(wl.spark, wl.cfg)
    tr.call("build.fingerprints", lambda: writer.fingerprints(df).toPandas())
    tr.call("build.filters", lambda: writer.filters_df(df).write
            .format("noop").mode("overwrite").save())


def build_chain(tr: Tracer, wl, i: int) -> tuple:
    """One ingest op, traced: build (with the phases ``build()`` returns),
    reader open, planted lookup."""
    from mdbloom.spark import BloomIndexWriter
    df = wl.spark.read.parquet(wl.inputs.stage_path)
    path = os.path.join(wl.run_dir, "index", "traced-%d" % i)
    writer = BloomIndexWriter(wl.spark, wl.cfg)
    res = tr.call("build.total", writer.build, df, path)
    reader = tr.call("query.open", wl.open, path)
    rows = tr.call("query.rows", lambda: reader.search(
        wl.inputs.planted[0]).collect())
    for name in PHASES:
        tr.values["phase." + name].append(res["phases"][name])
    for name in ARTIFACTS:
        tr.values["bytes." + name].append(
            host.dir_bytes(os.path.join(path, name)))
    tr.values["shards_built"].append(res["built"])
    ok = (res["rows"] == wl.inputs.stage.n
          and wl.inputs.planted[1] <= workloads.keys_of(rows))
    tr.count(ok)
    shutil.rmtree(path, ignore_errors=True)
    total = tr.last("build.total")
    layers = {p: res["phases"][p] for p in PHASES}
    layers["build_rest"] = total - sum(layers.values())
    layers["open"] = tr.last("query.open")
    layers["lookup"] = tr.last("query.rows")
    return total + layers["open"] + layers["lookup"], layers


CHAINS = {"lookup": lookup_chain, "scan": scan_chain, "ingest": build_chain}


def gc_ms(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime()
                     for b in mf.getGarbageCollectorMXBeans()))


def traced_pass(spark, wl, workload: str, start: int,
                seconds: float) -> dict:
    tr = Tracer(spark)
    chain = CHAINS[workload]
    gc0 = gc_ms(spark)
    end = time.monotonic() + seconds
    i = start
    while time.monotonic() < end:
        op, layers = chain(tr, wl, i)
        tr.chain_op.append(op)
        tr.chain_layers.append(layers)
        out = tr.call("op", wl.run, i + 1)
        tr.count(wl.check(i + 1, out))
        i += 2
    gc = gc_ms(spark) - gc0
    # every other layer, a few calls each, on the same index
    for k in range(PROBE_REPS):
        build_prefixes(tr, wl)
        if workload != "ingest":
            build_chain(tr, wl, i + k)
        if workload != "lookup":
            lookup_chain(tr, wl, i + k)
        if workload != "scan":
            scan_chain(tr, wl, i + k)
        tr.call("storage.scan", lambda: wl.reader.storage().count())
        tr.call("query.open", wl.open, wl.index_dir)
    return {"tracer": tr, "gc_ms": gc, "attempted": tr.attempted,
            "failed": tr.failed}


# ---------------- results ----------------
def event_counters(events_dir: str) -> dict:
    """{job group: Counter(jobs, tasks, cpu_s, run_s)} from the event log."""
    group_of_stage, out = {}, defaultdict(Counter)
    files = sorted(os.path.join(base, f)
                   for base, _, names in os.walk(events_dir)
                   for f in names if f.startswith("events_"))
    for name in files:
        with open(name) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    out[g]["jobs"] += 1
                    for s in ev.get("Stage IDs", []):
                        group_of_stage.setdefault(s, g)
                elif kind == "SparkListenerTaskEnd":
                    g = group_of_stage.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    out[g]["tasks"] += 1
                    out[g]["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out[g]["run_s"] += m.get("Executor Run Time", 0) / 1e3
    return out


def med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def finish(res: dict, events_dir: str, session_s: float, diag: dict) -> dict:
    tr: Tracer = res["tracer"]
    w, v = tr.wall, tr.values
    out = {"session.start_s": (session_s, "s")}
    for layer in ("build.fingerprints", "build.filters", "build.total"):
        out[layer + "_s"] = (med(w[layer]), "s")
    for p in PHASES:
        out[f"build.phase.{p}_s"] = (med(v["phase." + p]), "s")
    for a in ARTIFACTS:
        out[f"build.bytes.{a}"] = (med(v["bytes." + a]), "B")
    out["build.shards_built"] = (med(v["shards_built"]), "count")
    for layer in ("query.open", "query.bits", "query.prune", "query.keys",
                  "query.rows", "query.linear", "query.slab_sql",
                  "query.plan_many", "query.prune_many", "query.keys_many",
                  "query.search_many", "query.linear_many",
                  "query.slab_many", "storage.scan"):
        out[layer + "_ms"] = (med(w[layer]) * 1e3, "ms")
    out["query.join_ms"] = (med(v["join"]) * 1e3, "ms")
    out["query.join_many_ms"] = (med(v["join_many"]) * 1e3, "ms")
    for name in ("shards_total", "shards_kept", "candidates", "true_hits",
                 "tree_rows_read", "leaf_rows_scanned"):
        out["query." + name] = (med(v[name]), "count")
    out["query.keep_ratio"] = (med(v["keep_ratio"]), "ratio")
    cand = sum(v["candidates"])
    out["query.precision"] = (sum(v["true_hits"]) / cand if cand else 1.0,
                              "ratio")

    ev = event_counters(events_dir)
    ops = max(1, len(w["op"]))
    out["spark.jobs_per_op"] = (ev["op"]["jobs"] / ops, "count")
    out["spark.tasks_per_op"] = (ev["op"]["tasks"] / ops, "count")
    for layer in JOB_LAYERS:
        n = max(1, len(w[layer]))
        out[f"spark.cpu_s.{layer}"] = (ev[layer]["cpu_s"] / n, "s")
        out[f"spark.run_s.{layer}"] = (ev[layer]["run_s"] / n, "s")
    out["jvm.gc_ms"] = (res["gc_ms"], "ms")
    for when in ("start", "end"):
        c = diag["canary_" + when]
        out[f"host.stream_gbps_{when}"] = (c["stream_gbps"], "GB/s")
        out[f"host.scatter_ms_{when}"] = (c["scatter_ms"], "ms")

    op = med(tr.chain_op)
    layer_sum = sum(med([c[k] for c in tr.chain_layers])
                    for k in tr.chain_layers[0]) if tr.chain_layers else 0.0
    untraced = med(w["op"])
    out["trace.op_ms"] = (op * 1e3, "ms")
    out["trace.layer_sum_ms"] = (layer_sum * 1e3, "ms")
    out["trace.coverage"] = (layer_sum / op if op else 0.0, "ratio")
    out["trace.untraced_op_ms"] = (untraced * 1e3, "ms")
    out["trace.overhead_ms"] = ((op - untraced) * 1e3, "ms")
    diag["trace_chains"] = len(tr.chain_op)
    return {k: {"value": float(val), "unit": u}
            for k, (val, u) in out.items()}
