"""The three closed-loop workloads: inputs, set-up, one op, and its check.

Each workload is driven by one client: the next op starts only after the
previous one returned. An op's timed part calls only the engine's public
API; its check runs afterwards, untimed, against the generator's truth.

* ``lookup``: one selective ``BloomIndexReader.search(tokens)`` collected
  to the driver. Per-query planning, shard pruning and the per-query
  Spark job constant dominate; the build is not on the path.
* ``scan``: one ``search_many`` batch of broad queries (default ``via``
  routing) reduced to per-query hit counts. Pruning saves nothing, so
  the scan kernel and the storage join dominate.
* ``ingest``: ``BloomIndexWriter.build`` of a fixed staged batch into a
  fresh dir, then ``BloomIndexReader`` open and one planted lookup.
  Hashing, artifact writes and the commit dominate.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import gen
import host

MAIN_TURNS = 110_000       # index for lookup/scan: above LINEAR_MAX_SLOTS
STAGE_TURNS = 4_000        # the batch every ingest op indexes
N_SHARDS = 32              # the engine's default; enough for pruning
INPUT_FILES = 4            # parquet files per table = first-stage splits
LOOKUP_POOL = 400
SCAN_POOL = 256
SCAN_BATCH = 4


def index_config():
    from mdbloom.spark import IndexConfig
    return IndexConfig(n_shards=N_SHARDS)


class Inputs:
    """Everything generated from the seed, written before Spark starts.
    ``index`` is the corpus the workload's searched index holds (the
    staged batch itself for ingest); ``stage`` is the ingest batch."""

    def __init__(self, workload: str, seed: int, data_dir: str):
        self.stage = gen.make_corpus(STAGE_TURNS, seed + 1, "s")
        self.stage_path = os.path.join(data_dir, "stage")
        gen.write_parquet(self.stage, self.stage_path, INPUT_FILES)
        if workload == "ingest":
            self.index, self.index_path = self.stage, self.stage_path
        else:
            self.index = gen.make_corpus(MAIN_TURNS, seed, "c")
            self.index_path = os.path.join(data_dir, "corpus")
            gen.write_parquet(self.index, self.index_path, INPUT_FILES)
        truth = gen.Truth(self.index)
        self.lookups = gen.lookup_queries(self.index, truth, LOOKUP_POOL,
                                          seed)
        self.scans = gen.scan_queries(truth, SCAN_POOL, seed)
        row = int(self.stage.ident_row[0])
        toks = ["role=" + self.stage.frame["role"].iat[row],
                "tok=" + self.stage.ident[0]]
        self.planted = (toks, {self.stage.key(r) for r in
                               gen.Truth(self.stage).turns_with(toks)})

    def scan_batch(self, i: int) -> tuple[dict, dict]:
        """Batch ``i``: {name: tokens} and {name: true count}."""
        qs = [self.scans[(i * SCAN_BATCH + j) % len(self.scans)]
              for j in range(SCAN_BATCH)]
        return ({f"q{j}": t for j, (t, _) in enumerate(qs)},
                {f"q{j}": n for j, (_, n) in enumerate(qs)})


def keys_of(rows) -> set:
    return {(r["conv_id"], int(r["turn_idx"])) for r in rows}


def reduce_counts(df) -> dict:
    """Search hits per query name, counted on the executors."""
    from pyspark.sql import functions as F
    return {r["query"]: r["n"] for r in
            df.groupBy("query").agg(F.count("*").alias("n")).collect()}


def fp_allowance(negatives: int, p: float) -> float:
    """Largest false-positive excess accepted for ``negatives`` rows that
    do not contain the query, at designed rate ``p``: mean + 6 sd + 3."""
    mu = p * negatives
    return mu + 6 * math.sqrt(mu) + 3


def check_counts(counts: dict, truth: dict, n_rows: int, p: float) -> bool:
    for name, want in truth.items():
        got = counts.get(name, 0)
        if got < want or got - want > fp_allowance(n_rows - want, p):
            return False
    return True


class Workload:
    """Set-up, op and check for one workload over one Spark session."""

    queries_per_op = 1

    def __init__(self, spark, inputs: Inputs, run_dir: str):
        self.spark, self.inputs, self.run_dir = spark, inputs, run_dir
        self.cfg = index_config()
        self.reader = None
        self.index_dir = None
        self.index_bytes = 0
        self.build_s = 0.0

    def build_index(self, df, path: str):
        from mdbloom.spark import BloomIndexWriter
        t = time.perf_counter()
        res = BloomIndexWriter(self.spark, self.cfg).build(df, path)
        return res, time.perf_counter() - t

    def open(self, path: str):
        from mdbloom.spark import BloomIndexReader
        reader = BloomIndexReader(self.spark, path)
        reader.manifest()
        return reader

    def setup(self) -> bool:
        """Build the searched index and open a reader; returns whether
        the build stored every input turn."""
        df = self.spark.read.parquet(self.inputs.index_path)
        self.index_dir = os.path.join(self.run_dir, "index", "main")
        res, self.build_s = self.build_index(df, self.index_dir)
        self.reader = self.open(self.index_dir)
        self.index_bytes = host.dir_bytes(self.index_dir)
        return (res["rows"] == self.inputs.index.n
                and self.reader.value_count() == self.inputs.index.n)

    def turns_per_s(self, ops_s: float, n_ops: int) -> float:
        """Read workloads index nothing per op: the rate of the set-up
        build is the one indexing rate their user sees."""
        return self.inputs.index.n / self.build_s


class Lookup(Workload):
    def run(self, i: int):
        toks, _ = self.inputs.lookups[i % len(self.inputs.lookups)]
        return self.reader.search(toks).collect()

    def check(self, i: int, rows) -> bool:
        _, truth = self.inputs.lookups[i % len(self.inputs.lookups)]
        return truth <= keys_of(rows)


class Scan(Workload):
    queries_per_op = SCAN_BATCH

    def run(self, i: int):
        batch, _ = self.inputs.scan_batch(i)
        return reduce_counts(self.reader.search_many(batch))

    def check(self, i: int, counts) -> bool:
        _, truth = self.inputs.scan_batch(i)
        return check_counts(counts, truth, self.inputs.index.n,
                            self.cfg.probability)


class Ingest(Workload):
    def setup(self) -> bool:
        self.stage_df = self.spark.read.parquet(self.inputs.stage_path)
        return True

    def run(self, i: int):
        path = os.path.join(self.run_dir, "index", "ingest-%d" % i)
        res, _ = self.build_index(self.stage_df, path)
        reader = self.open(path)
        rows = reader.search(self.inputs.planted[0]).collect()
        return path, res, reader, rows

    def check(self, i: int, out) -> bool:
        path, res, reader, rows = out
        n = self.inputs.stage.n
        ok = (res["rows"] == n and reader.storage().count() == n
              and self.inputs.planted[1] <= keys_of(rows))
        self.index_bytes = host.dir_bytes(path)
        if self.index_dir is not None:
            shutil.rmtree(self.index_dir, ignore_errors=True)
        self.index_dir, self.reader = path, reader
        return ok

    def turns_per_s(self, ops_s: float, n_ops: int) -> float:
        return self.inputs.stage.n * n_ops / ops_s


WORKLOADS = {"lookup": Lookup, "scan": Scan, "ingest": Ingest}
