"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   plus derived throughputs (turns/sec build, queries/sec search, observed
   vs predicted FPR) as extra fields}.

The north-rule metric (turns/sec Bloom build + membership-query throughput
+ FPR) is measured on deterministic synthetic transcripts sized by sf;
the N-vs-4N scaling-efficiency evidence lives in scripts/scaling_bench.py
(writes BENCH.md) because it needs two Spark sessions at different
parallelism on identical input.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Fault-path mitigation (BENCH.md "Fault-path mitigation"): this sandbox
# backs FRESH pages at ~0.2-2 GB/s thread-independent while warm pages
# stream at ~75 GB/s, so pre-touch the JVM heap once at (untimed) startup
# and keep NumPy/Arrow buffers in reusable arenas across tasks. Must be in
# os.environ BEFORE the JVM is launched (workers inherit from the JVM).
# A/B at 1M turns: batched slab queries ~1.4x faster treated. Opt out with
# MDBLOOM_BENCH_PRETOUCH=0.
if os.environ.get("MDBLOOM_BENCH_PRETOUCH", "1") == "1":
    os.environ.setdefault("MDBLOOM_JVM_PRETOUCH", "1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "17179869184")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "17179869184")
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _canary() -> dict:
    """The host-health probes BENCH.md's protocol gates on (scatter
    RMW + 8-thread sustained stream), as a reusable untimed check —
    run at ENTRY and EXIT so every capture carries its own window
    evidence (VERDICT r4 item 2). Healthy on this host class:
    scatter ~145-230 ms, sustained 8t stream >= ~25 GB/s."""
    import threading
    import time as _t

    import numpy as np
    out = {}
    rng = np.random.default_rng(0)
    t_ = 720_000
    pos = rng.integers(0, 576, (t_, 10), dtype=np.int64)
    outm = np.zeros((t_, 9), dtype=np.uint64)
    rows_ = np.repeat(np.arange(t_), 10)
    flat = pos.ravel()
    masks = np.uint64(1) << (flat & 63).astype(np.uint64)
    t0 = _t.monotonic()
    np.bitwise_or.at(outm, (rows_, flat >> 6), masks)
    out["scatter_ms"] = round((_t.monotonic() - t0) * 1000, 1)

    words = (64 << 20) // 8  # 64 MB per buffer
    bufs = [(np.ones(words, np.uint64), np.ones(words, np.uint64),
             np.zeros(words, np.uint64)) for _ in range(8)]
    for a_, b_, o_ in bufs:  # pre-touch so the probe measures streaming
        np.bitwise_or(a_, b_, out=o_)
    stop = _t.monotonic() + 1.5
    moved = [0] * 8

    def _worker(i):
        a_, b_, o_ = bufs[i]
        while _t.monotonic() < stop:
            np.bitwise_or(a_, b_, out=o_)
            moved[i] += 3 * words * 8

    th = [threading.Thread(target=_worker, args=(i,)) for i in range(8)]
    t0 = _t.monotonic()
    [t.start() for t in th]
    [t.join() for t in th]
    out["stream_gbps"] = round(
        sum(moved) / (_t.monotonic() - t0) / 1e9, 2)
    return out


def main():
    sf = sf_of(SF_DIR)
    n_turns = int(os.environ.get("MDBLOOM_BENCH_TURNS",
                                 max(20_000, int(2_000_000 * sf))))
    import numpy as np
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader
    from mdbloom.spark.session import get_spark
    from mdbloom.spark.transcripts import synthesize_transcripts

    # ENTRY canary (untimed, before the JVM even starts): the capture
    # carries its own window evidence — compare canary_* before
    # comparing timings across rounds (VERDICT r4 item 2)
    entry_canary = _canary()

    spark = get_spark("bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    times: dict[str, float] = {}
    extra: dict = {"canary_scatter_ms_entry": entry_canary["scatter_ms"],
                   "canary_stream_gbps_8t_entry":
                       entry_canary["stream_gbps"]}

    def timed(name, fn):
        t0 = time.monotonic()
        out = fn()
        times[name] = round(time.monotonic() - t0, 3)
        return out

    def timed_best2(name, fn):
        """Best-of-2 (VERDICT r4 item 2): one episodic host collapse
        can no longer define a key or the round. BENCH.md capture #6 —
        and this round's own healthy-window capture, where a mid-run
        blip put 7-11× on four consecutive keys while entry AND exit
        canaries stayed green — show the collapse striking a contiguous
        SEGMENT between canaries, so every engine-timed key retries
        once; only ``synthesize_input`` (input staging) and the COLD
        slab-SQL key (first-invocation JIT is what it measures) stay
        single-shot. Both attempts are recorded additively
        (``<name>_attempts``); the stable key keeps single-run
        semantics as the better attempt. ``value`` sums stable keys
        only — run-to-run comparability is unchanged."""
        t0 = time.monotonic()
        out = fn()
        a1 = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        fn()
        a2 = round(time.monotonic() - t0, 3)
        times[name] = min(a1, a2)
        extra[f"{name}_attempts"] = [a1, a2]
        return out

    # ---- Bloom index build over transcripts (north-rule headline)
    idx_path = f"/tmp/mdbloom_bench_idx_{os.getpid()}"
    src_path = f"/tmp/mdbloom_bench_src_{os.getpid()}"
    shutil.rmtree(idx_path, ignore_errors=True)
    cfg = IndexConfig(n_per_record=40, probability=1e-3,
                      n_shards=max(CPUS * 2, 8), chunk_slots=65536)
    # materialize the input table once (the engine's contract input is an
    # Iceberg-shaped stored table, not a generator) — synth time reported
    # separately, build measured from storage like production
    timed("synthesize_input",
          lambda: synthesize_transcripts(spark, n_turns, seed=42,
                                         n_partitions=max(128, CPUS * 4))
          .write.mode("overwrite").parquet(src_path))
    tdf = spark.read.parquet(src_path)

    def build():
        shutil.rmtree(idx_path, ignore_errors=True)
        return BloomIndexWriter(spark, cfg).build(tdf, idx_path)

    stats = timed_best2("bloom_build", build)
    extra["build_rows"] = stats["rows"]
    extra["turns_per_sec_build"] = round(stats["rows"]
                                         / times["bloom_build"], 1)

    # ---- membership query throughput + observed FPR
    reader = BloomIndexReader(spark, idx_path)
    rng = np.random.default_rng(7)
    probes = []
    for i in range(12):
        w = f"w{int(5000 * rng.random() ** 3):05d}"
        role = ["user", "assistant", None][i % 3]
        tool = ["Bash", None][i % 2]
        probes.append(reader.transcript_query_tokens(role, tool, [w]))
    absent = [[f"tok=absent{i}x"] for i in range(8)]

    all_queries = {f"q{i}": toks for i, toks in enumerate(probes + absent)}

    def search_batched():
        # via="slab" pins this key to the NumPy slab kernel it has
        # always measured — search_many's DEFAULT routes the batch by its
        # planned row-queries (linear or slab); slab-SQL and linear are
        # measured by their own keys below
        out = reader.search_many(all_queries, via="slab")
        return out.groupBy("query").count().count()

    timed_best2("bloom_search", search_batched)
    extra["queries_per_sec_search"] = round(
        len(all_queries) / times["bloom_search"], 2)

    # same batch via the distributed Linear (I1) strategy: one all-JVM
    # higher-order containment pass over the storage words — the
    # second physical search path (headline key per VERDICT r2 item 1)
    def search_linear_batched():
        out = reader.search_linear_many(all_queries)
        return out.groupBy("query").count().count()

    timed_best2("bloom_search_linear", search_linear_batched)
    extra["queries_per_sec_search_linear"] = round(
        len(all_queries) / times["bloom_search_linear"], 2)

    # same batch via the THIRD strategy: the bit-sliced slab kernel
    # evaluated all-JVM (element_at/aggregate over array<bigint> slab
    # words) — slab compute complexity, zero Arrow transfer
    def search_slab_sql_batched():
        out = reader.search_slab_sql_many(all_queries)
        return out.groupBy("query").count().count()

    timed("bloom_search_slab_sql", search_slab_sql_batched)
    extra["queries_per_sec_search_slab_sql"] = round(
        len(all_queries) / times["bloom_search_slab_sql"], 2)
    # the first slab-SQL invocation of a session pays ~8-11 s of
    # one-time JVM JIT of the higher-order-function interpreter (A/B/A
    # evidence in BENCH.md r4: whichever of literal/broadcast runs first
    # absorbs it; both are ~1 s warm). A long-lived cluster — the
    # 100 TB deployment shape — runs warm, so report that steady state
    # alongside the cold number instead of hiding either.
    timed_best2("bloom_search_slab_sql_warm", search_slab_sql_batched)
    extra["queries_per_sec_search_slab_sql_warm"] = round(
        len(all_queries) / times["bloom_search_slab_sql_warm"], 2)

    def search_single():  # per-query job-chain latency, for contrast
        return reader.search(probes[0]).count()

    timed_best2("bloom_search_single", search_single)

    def verified_two():
        n = 0
        for toks in probes[:2]:
            n += reader.search_verified(toks, tdf).count()
        return n

    timed_best2("bloom_search_verified", verified_two)

    # observed FPR, engine level (r1 key semantics — ADVICE r2: this key
    # means hit-row ratio of known-absent probes through the full query
    # path; gate pruning typically zeroes these): false-positive rows per
    # (absent probe x stored row). fpr_predicted stays the designed Shape
    # rate, as in r1.
    def fpr():
        return reader.search_many(
            {f"a{i}": t for i, t in enumerate(absent)}, via="slab").count()

    fp_rows = timed_best2("bloom_fpr_probe", fpr)
    extra["fpr_observed_rows"] = int(fp_rows)
    extra["fpr_observed"] = round(
        fp_rows / (len(absent) * max(stats["rows"], 1)), 10)
    extra["fpr_predicted"] = reader.shape.probability

    # observed FPR, filter level (FIXTURES: >=1e5 absent probes; NEW keys
    # fpr_filter_* — ADVICE r2): 100k absent single-token probes against
    # one real shard's stored filters vs the cardinality-exact prediction
    # mean_s[(c_s/m)^k] (c_s = stored filter popcount) — the designed
    # Shape rate holds per filter, independent of gate pruning. The probe
    # fixture (per-token k-position matrix) is cached on disk keyed by
    # backend+shape, and the probe pass is one vectorized gather+AND per
    # batch — the bench measures the engine, not fixture synthesis
    # (VERDICT r2 item 7).
    def fpr_filters():
        from mdbloom import bits as B
        pdf = reader.slabs().limit(1).toPandas()
        row = pdf.iloc[0]
        m, k = reader.shape.m, reader.shape.k
        slab = np.ascontiguousarray(
            row["slab"], dtype=np.int64).view(B.U64).reshape(m, -1)
        n_slots = int(row["n_slots"])
        n_probes = 100_000
        cache_dir = "/tmp/mdbloom_cache"
        pos_path = os.path.join(
            cache_dir,
            f"fprpos_{reader.cfg.hash_backend}_{m}_{k}_{n_probes}.npy")
        if os.path.exists(pos_path):
            pos = np.load(pos_path)
        else:
            toks = np.array([f"absentfpr{i}" for i in range(n_probes)],
                            dtype=object)
            if reader._jvm_hasher is not None:
                from mdbloom.spark.jvm_hash import gate_positions_batch
                reader._jvm_hasher._ensure(toks.tolist())
                hs = reader._jvm_hasher._hashes
                h1s = np.array([hs[t][0] for t in toks], dtype=np.int64)
                h2s = np.array([hs[t][1] for t in toks], dtype=np.int64)
                pos = gate_positions_batch(h1s, h2s, reader.shape)
            else:
                from mdbloom.hashing import (hash_unique_tokens,
                                             km_positions_matrix)
                h1s, h2s = hash_unique_tokens(toks)
                pos = km_positions_matrix(h1s, h2s, reader.shape)
            os.makedirs(cache_dir, exist_ok=True)
            np.save(pos_path, pos)
        # vectorized probe: gather each batch's k slab rows, AND-reduce,
        # popcount (bits past n_slots are never set, so no masking needed)
        hits = 0
        for lo in range(0, n_probes, 2048):
            p = pos[lo:lo + 2048]          # (B, k) positions
            g = slab[p]                    # (B, k, W) gathered rows
            anded = g[:, 0, :].copy()
            for j in range(1, p.shape[1]):
                np.bitwise_and(anded, g[:, j, :], out=anded)
            hits += int(B.popcount64(anded).sum())
        observed = hits / (n_probes * n_slots)
        # per-slot cardinalities from the unpacked slab columns
        bits = np.unpackbits(
            slab.view(np.uint8).reshape(m, -1), axis=1,
            bitorder="little")[:, :n_slots]
        card = bits.sum(axis=0).astype(np.float64)
        predicted = float(np.mean((card / m) ** k))
        return observed, predicted

    obs, pred = timed_best2("bloom_fpr_filters_100k", fpr_filters)
    extra["fpr_filter_observed"] = round(obs, 8)
    extra["fpr_filter_predicted"] = round(pred, 8)
    extra["fpr_designed"] = reader.shape.probability
    # observed tracks the cardinality-exact idealized prediction to
    # within the documented enhanced-double-hashing approximation factor
    # (structured k-position sequences vs independent uniform draws) and
    # must stay under the designed Shape rate
    extra["fpr_within_designed"] = bool(obs <= reader.shape.probability)

    # ---- analytic / pipeline headliners from the driver tables
    bandwidth_class = {"q11_ngram_jaccard", "q12_cosine_topk",
                       "q17_simhash_near_dups"}
    for name in ["q01_pricing_summary", "q02_top_revenue_orders",
                 "q03_events_by_type", "q05_sessionize",
                 "q07_dedup_exact", "q09_token_stats",
                 "q11_ngram_jaccard", "q12_cosine_topk",
                 "q17_simhash_near_dups",
                 "q18_hll_distinct", "q20_kll_quantiles",
                 "q22_ann_lsh_topk", "q26_set_ops", "q27_json_props"]:
        fn = E.queries()[name]
        runner = timed_best2 if name in bandwidth_class else timed
        runner(name, lambda f=fn: f(spark, SF_DIR).count())

    # MinHash at the SCALE configuration (bands=32, r=2: sparse buckets —
    # r=1 single-minhash buckets collide quadratically on hot shingles at
    # corpus scale). The driver-oracle q16 runs bands=num_perm for recall
    # 1 (ADVICE r2); the bench keeps the key measuring the scale setting.
    def q16_bench():
        from mdbloom.spark.textops import minhash_near_dups
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return minhash_near_dups(docs, num_perm=64, bands=32, n=3,
                                 threshold=0.5).count()

    timed_best2("q16_minhash_near_dups", q16_bench)

    # ---- round-4 curation operators at sf scale (ADDITIVE keys — the
    # pre-r4 keys above are unchanged for cross-round comparability)
    def ivf_bench():
        from mdbloom.spark.similarity import IvfFlatIndex
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        path = f"/tmp/mdbloom_bench_ivf_{os.getpid()}"
        shutil.rmtree(path, ignore_errors=True)
        idx = IvfFlatIndex.build(emb, path, nlist=16)
        probe = np.asarray(
            emb.where(F.col("vec_id") == 0).head()["embedding"],
            np.float64)
        n = idx.topk(probe, k=10, nprobe=2).count()
        shutil.rmtree(path, ignore_errors=True)
        return n

    timed_best2("ivf_build_topk", ivf_bench)

    def pack_bench():
        from mdbloom.spark.textops import pack_sequences, words_col
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
            .withColumn("n_tokens",
                        F.size(words_col("text")).cast("long"))
        return pack_sequences(docs, 2048, ["doc_id"]).count()

    timed_best2("pack_sequences", pack_bench)

    def rollup_bench():
        from mdbloom.spark.transcripts import conversation_rollup
        return conversation_rollup(tdf).count()

    timed_best2("conversation_rollup", rollup_bench)

    def windows_bench():
        from mdbloom.spark.transcripts import conversation_windows
        return conversation_windows(tdf, k=4).count()

    timed_best2("context_windows", windows_bench)

    shutil.rmtree(idx_path, ignore_errors=True)
    shutil.rmtree(src_path, ignore_errors=True)

    # ---- host-health canary (UNTIMED — runs after every measured
    # segment; `value` sums only the timed keys). This VM shows episodic
    # parallel memory-bandwidth collapse (BENCH.md protocol); recording
    # the same probes the scaling harness gates on makes each bench
    # capture interpretable: compare 'canary_*' across rounds before
    # comparing the timings. Healthy: scatter ~145-230 ms, 8-thread
    # sustained stream >= ~25 GB/s.
    try:
        exit_canary = _canary()
        extra["canary_scatter_ms"] = exit_canary["scatter_ms"]
        extra["canary_stream_gbps_8t"] = exit_canary["stream_gbps"]
        # window verdict per BENCH.md's measured healthy bands — so a
        # degraded capture is SELF-ANNOTATING instead of needing a
        # cross-file adjudication (VERDICT r4 item 2)
        healthy = (entry_canary["stream_gbps"] >= 25.0
                   and exit_canary["stream_gbps"] >= 25.0
                   and entry_canary["scatter_ms"] <= 300
                   and exit_canary["scatter_ms"] <= 300)
        extra["window_health"] = "healthy" if healthy else "degraded"
    except Exception:
        pass  # the canary must never fail the bench

    total = round(sum(times.values()), 3)
    print(json.dumps({
        "metric": "mdbloom headline suite wall time (build+query+analytics)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": CPUS,
        "n_turns": n_turns,
        **extra,
    }))


if __name__ == "__main__":
    main()
