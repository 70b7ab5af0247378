"""Spark engine end-to-end: deterministic transcripts, index build,
containment search / exact get vs exact oracles, checkpoint resume.

These are the distributed counterparts of the container tests — the same
semantics (`ContainerImpl.java:111-182`) expressed over Parquet tables.
"""

import numpy as np
import pandas as pd
import pytest

from mdbloom.spark.build import BloomIndexWriter, IndexConfig
from mdbloom.spark.query import BloomIndexReader
from mdbloom.spark.transcripts import (
    synthesize_transcripts,
    synthesize_transcripts_pandas,
)

N_TURNS = 2000


@pytest.fixture(scope="module")
def transcripts_pdf():
    return synthesize_transcripts_pandas(N_TURNS, seed=42)


@pytest.fixture(scope="module")
def transcripts_df(spark):
    return synthesize_transcripts(spark, N_TURNS, seed=42).cache()


@pytest.fixture(scope="module")
def built_index(spark, transcripts_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "index")
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                      chunk_slots=256)
    stats = BloomIndexWriter(spark, cfg).build(transcripts_df, path)
    assert stats["built"] == 8 and stats["rows"] > 0
    return path


# ---------------- transcripts determinism ----------------

def test_transcripts_match_pandas_reference(spark, transcripts_df,
                                            transcripts_pdf):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the BASELINE.json input_hint per-row invariant."""
    got = (transcripts_df.orderBy("conv_id", "turn_idx")
           .toPandas().reset_index(drop=True))
    want = (transcripts_pdf.sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True))
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["text"], want["text"])
    pd.testing.assert_series_equal(got["role"], want["role"])
    assert got["tool"].fillna("∅").equals(want["tool"].fillna("∅"))


def test_transcripts_partitioning_invariant(spark):
    a = synthesize_transcripts(spark, 500, seed=7, n_partitions=2) \
        .orderBy("conv_id", "turn_idx").toPandas()
    b = synthesize_transcripts(spark, 500, seed=7, n_partitions=13) \
        .orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_transcripts_schema_and_ordering(transcripts_pdf):
    p = transcripts_pdf
    assert list(p.columns) == ["conv_id", "turn_idx", "role", "text",
                               "tool", "ts"]
    # contiguous turn_idx per conversation (stable-ordering invariant)
    for _, grp in list(p.groupby("conv_id"))[:20]:
        assert list(grp.sort_values("turn_idx")["turn_idx"]) == \
            list(range(len(grp)))
    assert p["tool"][p["role"].isin(["user", "system"])].isna().all()


# ---------------- exact oracle helpers ----------------

def exact_matches(pdf: pd.DataFrame, role=None, tool=None, words=()):
    mask = np.ones(len(pdf), dtype=bool)
    if role is not None:
        mask &= (pdf["role"] == role).to_numpy()
    if tool is not None:
        mask &= (pdf["tool"] == tool).to_numpy()
    for w in words:
        mask &= pdf["text"].str.split().map(lambda t: w in t).to_numpy()
    return pdf[mask]


# ---------------- build & search ----------------

def test_search_verified_equals_exact_oracle(spark, built_index,
                                             transcripts_df, transcripts_pdf):
    r = BloomIndexReader(spark, built_index)
    cases = [
        dict(role="assistant", tool="Bash", words=["w00000"]),
        dict(role=None, tool=None, words=["w00042"]),
        dict(role="user", tool=None, words=["w00007", "w00001"]),
    ]
    for c in cases:
        toks = r.transcript_query_tokens(c["role"], c["tool"], c["words"])
        got = (r.search_verified(toks, transcripts_df)
               .select("conv_id", "turn_idx").toPandas()
               .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
        want = exact_matches(transcripts_pdf, c["role"], c["tool"],
                             c["words"])[["conv_id", "turn_idx"]] \
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want), c


def test_search_superset_of_exact_and_fpr_bounded(spark, built_index,
                                                  transcripts_df,
                                                  transcripts_pdf):
    """Unverified search = exact matches + Bloom false positives at a rate
    bounded by the Shape."""
    r = BloomIndexReader(spark, built_index)
    toks = r.transcript_query_tokens("assistant", None, ["w00003"])
    got = set(map(tuple, r.search(toks).select("conv_id", "turn_idx")
                  .toPandas().itertuples(index=False)))
    want = set(map(tuple, exact_matches(
        transcripts_pdf, "assistant", None,
        ["w00003"])[["conv_id", "turn_idx"]].itertuples(index=False)))
    assert want <= got, "containment search must never miss a true match"
    fp = len(got - want)
    # generous bound: designed p times corpus size, 3x slack + 5
    assert fp <= 3 * r.shape.probability * N_TURNS + 5


def test_search_linear_equals_slab_search(spark, built_index):
    """Strategy equivalence at Spark scale against a LOCAL oracle: the
    linear storage predicate (search) and the all-JVM slab kernel
    (search_slab_sql) must both return exactly the rows that
    ``kernel.query_slab`` finds over the index's own slab chunks, read
    to pandas, in the shards the gate keeps — mapped slot -> key through
    the chunk's key blob, then joined to storage. Covers empty-query
    (all rows), definite-miss (pruned to nothing), and multi-dimension
    queries. Both plans must be pure JVM: no Arrow/Python eval nodes."""
    from mdbloom import kernel as K
    r = BloomIndexReader(spark, built_index)
    slabs = r.slabs().select("shard", "n_slots", "slab",
                             "keys_blob").toPandas()
    stored = r.storage().select("shard", "key", "conv_id",
                                "turn_idx").toPandas()

    def oracle(toks):
        qbits = r.query_bits(toks)
        kept = set(r.prune_shards(qbits, toks))
        keys = set()
        for shard, n, slab, blob in slabs.itertuples(index=False):
            if shard not in kept:
                continue
            words = np.asarray(slab, dtype=np.int64).view(np.uint64)
            for s in K.query_slab(words.reshape(r.shape.m, -1), qbits,
                                  int(n)):
                keys.add((shard, bytes(blob[16 * s:16 * s + 16]).hex()))
        return {(c, t) for sh, k, c, t in stored.itertuples(index=False)
                if (sh, k) in keys}

    def rows(df):
        return set(map(tuple, df.select("conv_id", "turn_idx")
                       .toPandas().itertuples(index=False)))

    cases = [
        ["role=assistant", "tool=Bash", "tok=w00000"],
        ["tok=w00042"],
        ["role=user", "tok=w00007", "tok=w00001"],
        ["tok=definitely_absent_zzz"],
        [],
    ]
    for toks in cases:
        want = oracle(toks)
        assert rows(r.search(toks)) == want, toks
        assert rows(r.search_slab_sql(toks)) == want, toks
    assert len(oracle([])) == len(stored)
    for probe in (r.search(cases[0]),
                  r.search_slab_sql(cases[0])):
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "InPandas" not in plan and "ArrowEval" not in plan
        assert "BatchEvalPython" not in plan


def test_empty_query_matches_everything(spark, built_index):
    r = BloomIndexReader(spark, built_index)
    assert r.search([]).count() == N_TURNS or \
        r.search([]).count() == r.value_count()


def test_exact_get_roundtrip(spark, built_index, transcripts_df,
                             transcripts_pdf):
    """get returns exactly the rows whose full token set matches the query
    filter bit-for-bit (same dims -> same content key)."""
    r = BloomIndexReader(spark, built_index)
    row = transcripts_pdf.iloc[17]
    toks = r.transcript_query_tokens(
        row["role"], None if pd.isna(row["tool"]) or row["tool"] == "none"
        else row["tool"], row["text"].split())
    got = r.get(toks).select("conv_id", "turn_idx").toPandas()
    assert (row["conv_id"], row["turn_idx"]) in set(
        map(tuple, got.itertuples(index=False)))
    # a subset of dimensions has a DIFFERENT content key (exact get is
    # bit-for-bit, backend-agnostic check via the reader's own hasher)
    def key_of(ts):
        from mdbloom import bits as B
        if r._jvm_hasher is not None:
            return r._jvm_hasher.content_key(ts, r.shape)
        return B.content_key(r._cache.filter_for(ts))

    assert key_of(toks) != key_of(toks[:1])


def test_counts(spark, built_index, transcripts_pdf):
    r = BloomIndexReader(spark, built_index)
    assert r.value_count() == len(transcripts_pdf)
    assert r.storage().count() == len(transcripts_pdf)
    # globally-distinct live filters (reference getFilterCount semantics);
    # slot_count counts physical per-shard slots and can only be larger
    distinct_keys = r.storage().select("key").distinct().count()
    assert r.filter_count() == distinct_keys
    assert r.slot_count() == r.slotmap().count()
    assert distinct_keys <= r.slot_count() <= len(transcripts_pdf)


def test_pruning_skips_shards(spark, built_index):
    r = BloomIndexReader(spark, built_index)
    # a rare token pair should prune at least some shards via the token gate
    toks = r.transcript_query_tokens(None, None, ["w04999", "w04998"])
    shards = r.prune_shards(r.query_bits(toks), toks)
    assert len(shards) <= 8
    # nonsense tokens prune everything with overwhelming probability
    toks2 = [f"tok=zz{i}" for i in range(8)]
    assert len(r.prune_shards(r.query_bits(toks2), toks2)) == 0
    # and a pruned-to-zero query returns an empty result end-to-end
    assert r.search(toks2).count() == 0


def test_python_backend_parity(spark, transcripts_df, transcripts_pdf,
                               tmp_path):
    """The md5/NumPy backend (hash_backend='python') must produce the same
    verified results and bounded raw FPs as the JVM backend."""
    path = str(tmp_path / "pyidx")
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=4,
                      chunk_slots=256, hash_backend="python")
    BloomIndexWriter(spark, cfg).build(transcripts_df.limit(800), path)
    r = BloomIndexReader(spark, path)
    assert r.cfg.hash_backend == "python"
    sub = transcripts_df.limit(800)
    sub_pdf = sub.toPandas()
    toks = r.transcript_query_tokens("assistant", None, ["w00001"])
    got = set(map(tuple, r.search_verified(toks, sub)
                  .select("conv_id", "turn_idx").toPandas()
                  .itertuples(index=False)))
    want = set(map(tuple, exact_matches(sub_pdf, "assistant", None,
                                        ["w00001"])[["conv_id", "turn_idx"]]
                   .itertuples(index=False)))
    assert got == want
    raw = r.search(toks).count()
    assert raw >= len(want)
    assert raw <= len(want) + 3 * r.shape.probability * 800 + 5


# ---------------- resume / lineage ----------------

def test_resume_skips_unchanged_shards(spark, transcripts_df, tmp_path):
    path = str(tmp_path / "idx")
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                      chunk_slots=256)
    w = BloomIndexWriter(spark, cfg)
    s1 = w.build(transcripts_df, path)
    assert s1["built"] == 8
    s2 = w.build(transcripts_df, path, resume=True)
    assert s2["built"] == 0 and s2["skipped"] == 8


def test_resume_rebuilds_only_changed_shards_and_matches_full(spark, tmp_path):
    """Incremental growth E2E (the checkpoint-resume story, north rule):
    appending new conversations rebuilds EXACTLY the shards the new
    conv_ids hash into — untouched shards are fingerprint-skipped — and
    queries over the grown index see old AND new rows, identical to a
    from-scratch build of the full input."""
    from pyspark.sql import functions as F

    from mdbloom.spark.transcripts import synthesize_transcripts
    base = synthesize_transcripts(spark, 800, seed=42)
    extra = synthesize_transcripts(spark, 400, seed=99).withColumn(
        "conv_id", F.concat(F.lit("x"), "conv_id"))
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                      chunk_slots=256)

    inc_path = str(tmp_path / "inc")
    w = BloomIndexWriter(spark, cfg)
    w.build(base, inc_path)
    s = w.build(base.unionByName(extra), inc_path, resume=True)
    # exactly the shards containing appended conversations rebuild
    touched = {int(r.shard) for r in extra.select(
        F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int").alias("shard"))
        .distinct().collect()}
    assert s["built"] == len(touched)
    assert s["skipped"] == 8 - len(touched)
    # full rebuild oracle
    full_path = str(tmp_path / "full")
    w.build(base.unionByName(extra), full_path)

    ri, rf = (BloomIndexReader(spark, p) for p in (inc_path, full_path))
    assert ri.value_count() == rf.value_count()
    assert ri.filter_count() == rf.filter_count()
    toks = ri.transcript_query_tokens("assistant", None, ["w00001"])
    a = set(map(tuple, ri.search(toks).select("conv_id", "turn_idx")
                .toPandas().itertuples(index=False)))
    b = set(map(tuple, rf.search(toks).select("conv_id", "turn_idx")
                .toPandas().itertuples(index=False)))
    assert a == b
    # old AND new conversations are both visible through the grown index
    assert any(c.startswith("x") for c, _ in a)
    assert any(not c.startswith("x") for c, _ in a)


def test_local_xxh64_mirror_matches_spark(spark):
    """The driver's pure-Python XXH64 mirror must be bit-identical to the
    JVM xxhash64 expressions the build uses — the query planner hashes
    tokens locally (no hash job) on the strength of this parity."""
    import random

    from pyspark.sql import functions as F

    from mdbloom.spark.jvm_hash import spark_xxhash64_pair

    rng = random.Random(1234)
    toks = ["", "a", "=", "role=assistant", "tool=Bash", "tok=w00000",
            "ünïcødé-日本語-\U00010348",
            " zero", " spaces  inside "]
    toks += ["x" * n for n in (3, 4, 5, 7, 8, 9, 15, 16, 17, 31, 32,
                               33, 63, 64, 65)]
    toks += ["".join(chr(rng.randint(32, 0x2FA0)) for _ in
                     range(rng.randint(1, 48))) for _ in range(60)]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    rows = df.select("t", F.xxhash64("t").alias("h1"),
                     F.xxhash64("t", F.lit(1)).alias("h2")).collect()
    assert len(rows) == len(toks)
    for r in rows:
        assert spark_xxhash64_pair(r.t) == (r.h1, r.h2), repr(r.t)


def test_rebalance_input_guard(spark, tmp_path):
    """rebalance_input repartitions ONLY under-parallel scans: a
    single-file input gains partitions, an already-parallel frame is
    returned untouched (same plan object, no inserted exchange), and a
    streaming frame passes through unexamined (.rdd is undefined there)."""
    from mdbloom.spark.session import rebalance_input

    p = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(p)
    one = spark.read.parquet(p)
    assert one.rdd.getNumPartitions() == 1
    par = spark.sparkContext.defaultParallelism
    out = rebalance_input(one)
    assert out.rdd.getNumPartitions() == max(par, 1)
    assert out.count() == 1000

    wide = spark.range(1000).repartition(par + 2)
    assert rebalance_input(wide) is wide

    sdf = (spark.readStream.format("rate").option("rowsPerSecond", 1)
           .load())
    assert rebalance_input(sdf) is sdf


def test_get_bitexact_variants_match_content_key_get(
        spark, built_index, transcripts_pdf):
    """Physical exact-get parity (`Linear.java:116-122` word-compare,
    `FlatBloofi.java:114-150` bit-sliced narrowing): both variants must
    return EXACTLY the rows the content-addressed get returns — on a
    full-token-set hit, on a subset (miss: unset bits differ), and on a
    superset (miss: extra bits)."""
    r = BloomIndexReader(spark, built_index)
    row = transcripts_pdf.iloc[17]
    toks = r.transcript_query_tokens(
        row["role"], None if pd.isna(row["tool"]) or row["tool"] == "none"
        else row["tool"], row["text"].split())

    def ids(df):
        return sorted(map(tuple, df.select("conv_id", "turn_idx")
                          .toPandas().itertuples(index=False)))

    want = ids(r.get(toks))
    assert (row["conv_id"], row["turn_idx"]) in set(want)
    for via in ("linear", "slab"):
        assert ids(r.get_bitexact(toks, via=via)) == want, via
        # subset of dimensions: containment would hit, EXACT must miss
        assert ids(r.get_bitexact(toks[:1], via=via)) \
            == ids(r.get(toks[:1])), via
        # superset: extra token's bits make equality impossible
        sup = list(toks) + ["tok=zzunstoredzz"]
        assert ids(r.get_bitexact(sup, via=via)) == [], via


# ---------------- conversation rollup (order-pinned fingerprint) --------

def test_conversation_rollup_matches_pandas(spark, transcripts_df,
                                            transcripts_pdf):
    """n_turns/n_roles/chars/text_fp per conversation vs a driver-side
    pandas recomputation in explicit turn_idx order."""
    from mdbloom.spark.transcripts import conversation_rollup
    import hashlib
    got = conversation_rollup(transcripts_df).toPandas() \
        .set_index("conv_id").sort_index()
    p = transcripts_pdf.sort_values(["conv_id", "turn_idx"])
    want_fp = p.groupby("conv_id")["text"].apply(
        lambda s: hashlib.md5("\x01".join(s).encode()).hexdigest())
    assert (got["text_fp"] == want_fp.sort_index()).all()
    assert (got["n_turns"] == p.groupby("conv_id").size().sort_index()).all()
    assert (got["chars"] == p.groupby("conv_id")["text"]
            .apply(lambda s: s.str.len().sum()).sort_index()).all()


def test_conversation_rollup_order_and_mutation_sensitive(spark):
    """The fingerprint is invariant to PARTITIONING but flips on a
    single swapped pair of turn_idx values or one mutated character."""
    from pyspark.sql import functions as F

    from mdbloom.spark.transcripts import (conversation_rollup,
                                           synthesize_transcripts)
    base = synthesize_transcripts(spark, 200, seed=9, n_partitions=3)
    a = conversation_rollup(base).toPandas().set_index("conv_id")
    b = conversation_rollup(base.repartition(11)) \
        .toPandas().set_index("conv_id")
    assert (a.sort_index()["text_fp"] == b.sort_index()["text_fp"]).all()
    # swap turns 0 and 1 of one conversation: same rows, new order
    conv = a.index[0]
    swapped = base.withColumn(
        "turn_idx",
        F.when((F.col("conv_id") == conv) & (F.col("turn_idx") < 2),
               F.lit(1) - F.col("turn_idx")).otherwise(F.col("turn_idx")))
    c = conversation_rollup(swapped).toPandas().set_index("conv_id")
    assert c.loc[conv, "text_fp"] != a.loc[conv, "text_fp"]
    assert (c.drop(conv).sort_index()["text_fp"]
            == a.drop(conv).sort_index()["text_fp"]).all()
    mutated = base.withColumn(
        "text",
        F.when((F.col("conv_id") == conv) & (F.col("turn_idx") == 0),
               F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text")))
    d = conversation_rollup(mutated).toPandas().set_index("conv_id")
    assert d.loc[conv, "text_fp"] != a.loc[conv, "text_fp"]


def test_rollup_and_windows_null_text_matches_string_agg(spark):
    """NULL-text parity with the ANSI oracle dialect (ADVICE r4):
    string_agg SKIPS null elements but returns NULL — not '' — when
    every element is NULL, so md5/length are NULL too. Exercise an
    all-NULL conversation, a mixed conversation (leading window frames
    all-NULL), and a clean one, against a DuckDB recomputation."""
    import duckdb
    from mdbloom.spark.transcripts import (conversation_rollup,
                                           conversation_windows)
    rows = [
        ("c_allnull", 0, "user", None, None),
        ("c_allnull", 1, "assistant", None, "Bash"),
        ("c_mixed", 0, "user", None, None),
        ("c_mixed", 1, "assistant", None, None),
        ("c_mixed", 2, "user", "hello", None),
        ("c_clean", 0, "user", "a", None),
        ("c_clean", 1, "assistant", "b", None),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool"])
    df = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("t", pdf)

    got = conversation_rollup(df).toPandas() \
        .set_index("conv_id").sort_index()
    want = con.sql("""
        SELECT conv_id,
               md5(string_agg(text, chr(1) ORDER BY turn_idx)) AS text_fp
        FROM t GROUP BY conv_id ORDER BY conv_id
    """).df().set_index("conv_id")
    assert got["text_fp"].isna().equals(want["text_fp"].isna())
    both = want["text_fp"].notna()
    assert (got.loc[both, "text_fp"] == want.loc[both, "text_fp"]).all()
    assert pd.isna(got.loc["c_allnull", "text_fp"])

    gotw = conversation_windows(df, k=2).toPandas() \
        .set_index(["conv_id", "turn_idx"]).sort_index()
    wantw = con.sql("""
        SELECT conv_id, turn_idx,
               COUNT(*) OVER w AS n_ctx_turns,
               CAST(LENGTH(string_agg(text, chr(1)) OVER w) AS BIGINT)
                   AS ctx_chars,
               md5(string_agg(text, chr(1)) OVER w) AS ctx_fp
        FROM t
        WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
        ORDER BY conv_id, turn_idx
    """).df().set_index(["conv_id", "turn_idx"]).sort_index()
    for col in ["n_ctx_turns", "ctx_chars", "ctx_fp"]:
        g, w = gotw[col], wantw[col]
        assert g.isna().equals(w.isna()), col
        assert (g[w.notna()] == w[w.notna()]).all(), col
    # the all-NULL frames really exercise the guard
    assert pd.isna(gotw.loc[("c_allnull", 1), "ctx_fp"])
    assert pd.isna(gotw.loc[("c_mixed", 1), "ctx_chars"])


def test_conversation_windows_match_pandas(spark, transcripts_df,
                                           transcripts_pdf):
    """Every k=3 context window vs a driver-side rolling join in explicit
    turn order; leading turns get truncated windows (frame-bounded)."""
    from mdbloom.spark.transcripts import conversation_windows
    import hashlib
    got = conversation_windows(transcripts_df, k=3).toPandas() \
        .set_index(["conv_id", "turn_idx"]).sort_index()
    p = transcripts_pdf.sort_values(["conv_id", "turn_idx"])
    for conv, grp in list(p.groupby("conv_id"))[:10]:
        texts = grp["text"].tolist()
        for i, t in enumerate(grp["turn_idx"]):
            ctx = "\x01".join(texts[max(0, i - 2):i + 1])
            row = got.loc[(conv, t)]
            assert row["n_ctx_turns"] == min(i + 1, 3)
            assert row["ctx_chars"] == len(ctx)
            assert row["ctx_fp"] == hashlib.md5(ctx.encode()).hexdigest()


def test_redact_counts_and_rewrites(spark, transcripts_df,
                                    transcripts_pdf):
    import re

    from mdbloom.spark.textops import redact
    pat = r"w049[0-9]{2}"
    got = redact(transcripts_df, pat, "<X>") \
        .toPandas().sort_values(["conv_id", "turn_idx"]) \
        .reset_index(drop=True)
    p = transcripts_pdf.sort_values(["conv_id", "turn_idx"]) \
        .reset_index(drop=True)
    assert (got["n_redactions"]
            == p["text"].map(lambda t: len(re.findall(pat, t)))).all()
    assert (got["text"]
            == p["text"].map(lambda t: re.sub(pat, "<X>", t))).all()
    assert got["n_redactions"].sum() > 0


def test_sft_pairs_match_pandas(spark, transcripts_df, transcripts_pdf):
    """Each extracted pair is (user turn t-1, assistant turn t) — checked
    against a driver-side shift; no pair crosses conversations."""
    import hashlib

    from mdbloom.spark.transcripts import sft_pairs
    got = sft_pairs(transcripts_df).toPandas() \
        .set_index(["conv_id", "turn_idx"]).sort_index()
    p = transcripts_pdf.sort_values(["conv_id", "turn_idx"])
    prev_role = p.groupby("conv_id")["role"].shift(1)
    prev_text = p.groupby("conv_id")["text"].shift(1)
    mask = (p["role"] == "assistant") & (prev_role == "user")
    want = p[mask]
    assert len(got) == int(mask.sum()) > 0
    for (_, r), pt in zip(want.iterrows(), prev_text[mask]):
        row = got.loc[(r["conv_id"], r["turn_idx"])]
        assert row["prompt_chars"] == len(pt)
        assert row["response_chars"] == len(r["text"])
        assert row["pair_fp"] == hashlib.md5(
            (pt + "\x01" + r["text"]).encode()).hexdigest()


def test_conv_level_conjunction_strictly_wider_than_turn_level(
        transcripts_pdf):
    """The premise of conversation-granularity membership (q66): there
    exist conversations containing token A and token B only in DIFFERENT
    turns — a per-turn index cannot express that conjunction."""
    p = transcripts_pdf.copy()
    p["toks"] = p["text"].str.split().map(set)
    a, b = "w00002", "w00042"
    per_turn = set(p[(p["toks"].map(lambda t: a in t))
                     & (p["toks"].map(lambda t: b in t))]["conv_id"])
    g = p.groupby("conv_id")["toks"].apply(
        lambda s: set().union(*s))
    per_conv = set(g[g.map(lambda t: a in t and b in t)].index)
    assert per_turn <= per_conv
    assert len(per_conv) > len(per_turn), \
        "corpus should contain cross-turn-only co-occurrences"


def test_tool_transitions_match_pandas(spark, transcripts_df,
                                       transcripts_pdf):
    """Bigram counts vs a driver-side shift over tool-bearing turns;
    NULL-tool turns are skipped over, not transition-breaking."""
    from mdbloom.spark.transcripts import tool_transitions
    got = tool_transitions(transcripts_df).toPandas() \
        .set_index(["prev_tool", "tool"]).sort_index()
    p = transcripts_pdf.sort_values(["conv_id", "turn_idx"])
    t = p[p["tool"].notna()].copy()
    t["prev_tool"] = t.groupby("conv_id")["tool"].shift(1)
    t = t[t["prev_tool"].notna()]
    want_n = t.groupby(["prev_tool", "tool"]).size().sort_index()
    want_c = t.groupby(["prev_tool", "tool"])["conv_id"] \
        .nunique().sort_index()
    assert (got["n_transitions"] == want_n).all()
    assert (got["n_convs"] == want_c).all()
    assert len(got) > 0
