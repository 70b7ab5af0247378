"""Batched multi-query search must return exactly the union of per-query
searches, tagged by query name."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mdbloom.spark.build import BloomIndexWriter, IndexConfig
from mdbloom.spark.query import BloomIndexReader
from mdbloom.spark.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bidx") / "index")
    df = synthesize_transcripts(spark, 1500, seed=42)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=4,
                      chunk_slots=256)
    BloomIndexWriter(spark, cfg).build(df, path)
    return BloomIndexReader(spark, path)


def test_search_many_matches_individual_searches(spark, reader):
    queries = {
        "a": reader.transcript_query_tokens("assistant", None, ["w00001"]),
        "b": reader.transcript_query_tokens(None, "Bash", ["w00005"]),
        "c": reader.transcript_query_tokens("user", None, ["w00000",
                                                           "w00002"]),
        "absent": ["tok=zzznope"],
    }
    batched = reader.search_many(queries).toPandas()
    for name, toks in queries.items():
        single = reader.search(toks).toPandas()
        got = set(map(tuple, batched[batched["query"] == name]
                      [["conv_id", "turn_idx"]].itertuples(index=False)))
        want = set(map(tuple, single[["conv_id", "turn_idx"]]
                       .itertuples(index=False)))
        assert got == want, name
    assert (batched["query"] == "absent").sum() == 0


def test_search_many_empty_query_matches_all(spark, reader):
    out = reader.search_many({"every": [], "none": ["tok=zzznope"]}) \
        .toPandas()
    assert (out["query"] == "every").sum() == reader.value_count()
    assert (out["query"] == "none").sum() == 0


def test_search_linear_many_matches_search_many(spark, reader):
    """The batched all-JVM Linear (I1) pass must return exactly the same
    (query, row) set as the batched bit-sliced slab scan — two physical
    strategies, one semantics (`Linear.java:134-140` vs
    `FlatBloofi.java:188-205`)."""
    queries = {
        "a": reader.transcript_query_tokens("assistant", None, ["w00001"]),
        "b": reader.transcript_query_tokens(None, "Bash", ["w00005"]),
        "c": reader.transcript_query_tokens("user", None, ["w00000",
                                                           "w00002"]),
        "absent": ["tok=zzznope"],
    }
    cols = ["query", "conv_id", "turn_idx"]
    lin = reader.search_linear_many(queries).toPandas()
    slab = reader.search_many(queries).toPandas()
    assert set(map(tuple, lin[cols].itertuples(index=False))) \
        == set(map(tuple, slab[cols].itertuples(index=False)))
    assert (lin["query"] == "absent").sum() == 0


def test_search_linear_many_empty_query_matches_all(spark, reader):
    out = reader.search_linear_many(
        {"every": [], "none": ["tok=zzznope"]}).toPandas()
    assert (out["query"] == "every").sum() == reader.value_count()
    assert (out["query"] == "none").sum() == 0


def test_search_linear_many_bnlj_form_matches_sql_literal(
        spark, reader, monkeypatch):
    """The two JVM physical forms (SQL-text literal + forall vs
    plans-as-data broadcast join) must be interchangeable — including a
    match-all (empty) query, which each form handles differently
    (CAST(array()...) literal vs vacuous join condition)."""
    from mdbloom.spark import query as Q
    queries = {
        "a": reader.transcript_query_tokens("assistant", None, ["w00001"]),
        "b": reader.transcript_query_tokens(None, "Bash", ["w00005"]),
        "every": [],
    }
    cols = ["query", "conv_id", "turn_idx"]
    lit = reader.search_linear_many(queries).toPandas()
    monkeypatch.setattr(Q, "SQL_LITERAL_MAX_PREDS", 0)
    bnlj = reader.search_linear_many(queries).toPandas()
    assert set(map(tuple, lit[cols].itertuples(index=False))) \
        == set(map(tuple, bnlj[cols].itertuples(index=False)))


def test_search_slab_sql_many_matches_search_many(spark, reader):
    """The all-JVM bit-sliced slab pass (search_keys_slab_sql_many: the
    FlatBloofi word-AND as pure SQL over the array<bigint> slab words)
    must return exactly the same (query, row) set as the Arrow/NumPy
    slab scan AND the linear scan — three physical strategies, one
    semantics."""
    queries = {
        "a": reader.transcript_query_tokens("assistant", None, ["w00001"]),
        "b": reader.transcript_query_tokens(None, "Bash", ["w00005"]),
        "c": reader.transcript_query_tokens("user", None, ["w00000",
                                                           "w00002"]),
        "absent": ["tok=zzznope"],
        "every": [],
    }
    # keys-level identity (query, shard, slot, key) — stricter than
    # row-level: the two slab strategies read the same artifact, so even
    # slot numbering and Bloom false positives must agree bit-for-bit
    a = set(map(tuple, reader.search_keys_many(queries).toPandas()
                .itertuples(index=False)))
    b = set(map(tuple, reader.search_keys_slab_sql_many(queries)
                .toPandas().itertuples(index=False)))
    assert a == b
    cols = ["query", "conv_id", "turn_idx"]
    rows = reader.search_slab_sql_many(queries).toPandas()
    slab = reader.search_many(queries).toPandas()
    assert set(map(tuple, rows[cols].itertuples(index=False))) \
        == set(map(tuple, slab[cols].itertuples(index=False)))
    assert (rows["query"] == "absent").sum() == 0
    assert (rows["query"] == "every").sum() == reader.value_count()


def test_search_slab_sql_many_bnlj_form_matches_sql_literal(
        spark, reader, monkeypatch):
    """Literal and plans-as-data broadcast forms of the all-JVM slab scan
    must be interchangeable (mirrors the linear-path form test)."""
    from mdbloom.spark import query as Q
    queries = {
        "a": reader.transcript_query_tokens("assistant", None, ["w00001"]),
        "o'brien\\q": reader.transcript_query_tokens(None, "Bash",
                                                     ["w00005"]),
        "every": [],
    }
    lit = set(map(tuple, reader.search_keys_slab_sql_many(queries)
                  .toPandas().itertuples(index=False)))
    monkeypatch.setattr(Q, "SQL_LITERAL_MAX_PREDS", 0)
    bnlj = set(map(tuple, reader.search_keys_slab_sql_many(queries)
                   .toPandas().itertuples(index=False)))
    assert lit == bnlj
    assert {q for q, *_ in lit} == set(queries)


def test_sql_bigint_min_long_and_quote_escape():
    from mdbloom.spark.query import _plan_struct_sql, _sql_bigint
    assert _sql_bigint(-(2 ** 63)) == "(-9223372036854775807L - 1L)"
    assert _sql_bigint(-1) == "-1L"
    s = _plan_struct_sql("o'brien", [(1, -(2 ** 63))])
    assert "o\\'brien" in s and "(-9223372036854775807L - 1L)" in s
    # C-style escape processing would mangle backslashes without \\
    assert "win\\\\path" in _plan_struct_sql("win\\path", [(1, 1)])
    with pytest.raises(ValueError, match="control"):
        _plan_struct_sql("bad\nname", [(1, 1)])


def test_search_linear_many_adversarial_query_names(spark, reader):
    """Names with quotes and backslashes must round-trip VERBATIM through
    the SQL-text literal form (the broadcast form keeps them verbatim, so
    the two physical forms must agree)."""
    toks = reader.transcript_query_tokens("assistant", None, ["w00001"])
    queries = {"o'brien": toks, "win\\path": toks, "pl'a\\in": toks}
    out = reader.search_linear_many(queries).toPandas()
    assert set(out["query"]) == set(queries)
    counts = out.groupby("query").size()
    assert len(set(counts)) == 1, "same tokens must hit the same rows"


def _turn_tokens(row) -> list:
    import pandas as pd
    toks = [f"role={row.role}"]
    if not pd.isna(row.tool) and row.tool != "none":
        toks.append(f"tool={row.tool}")
    toks += [f"tok={w}" for w in str(row.text).split()]
    return toks


def test_get_many_matches_individual_gets(spark, reader):
    """Batched exact get == union of per-query gets, tagged by name; an
    absent full-dimension key returns nothing."""
    from mdbloom.spark.transcripts import synthesize_transcripts_pandas
    pdf = synthesize_transcripts_pandas(1500, seed=42)
    picks = pdf.iloc[[0, 7]]
    queries = {f"t{i}": _turn_tokens(r)
               for i, r in enumerate(picks.itertuples(index=False))}
    queries["absent"] = ["role=assistant", "tok=zzznope"]
    out = reader.get_many(queries).toPandas()
    for name, toks in queries.items():
        single = reader.get(toks).toPandas()
        got = set(map(tuple, out[out["query"] == name]
                      [["conv_id", "turn_idx"]].itertuples(index=False)))
        want = set(map(tuple, single[["conv_id", "turn_idx"]]
                       .itertuples(index=False)))
        assert got == want, name
    assert (out["query"] == "absent").sum() == 0
    # the two real probes each found their own turn
    assert {"t0", "t1"} <= set(out["query"])


def test_slab_chunks_respect_chunk_slots_bound(spark, reader):
    """No slab chunk may exceed chunk_slots rows, however large an
    incoming Arrow group is (ADVICE r2: append-then-check overshoot);
    with 1500 rows over 4 shards at chunk_slots=256 the large shards
    must have split into several chunks."""
    import pyspark.sql.functions as F
    agg = (reader.slabs().groupBy("shard")
           .agg(F.max("n_slots").alias("mx"), F.count("*").alias("n"))
           .toPandas())
    assert int(agg["mx"].max()) <= 256
    assert int(agg["n"].max()) >= 2


def test_reader_rejects_other_format_version(spark, reader, tmp_path):
    import json
    import os

    import pytest as _pytest
    with open(os.path.join(reader.path, "config.json")) as f:
        cfg = json.load(f)
    cfg["format_version"] = 1
    old = tmp_path / "old_idx"
    old.mkdir()
    with open(old / "config.json", "w") as f:
        json.dump(cfg, f)
    with _pytest.raises(ValueError, match="format"):
        BloomIndexReader(spark, str(old))


def test_search_verified_many_matches_individual(spark, reader):
    df = synthesize_transcripts(spark, 1500, seed=42)
    queries = {
        "a": reader.transcript_query_tokens("assistant", None, ["w00001"]),
        "b": reader.transcript_query_tokens(None, "Bash", ["w00005"]),
        "c": reader.transcript_query_tokens("user", "Bash",
                                            ["w00000", "w00002"]),
        "absent": ["tok=zzznope"],
    }
    for via in ("slab", "linear", "slab_sql"):
        batched = reader.search_verified_many(queries, df, via=via) \
            .toPandas()
        assert set(batched.columns) == {"query"} | set(df.columns)
        for name, toks in queries.items():
            single = reader.search_verified(toks, df).toPandas()
            got = set(map(tuple, batched[batched["query"] == name]
                          [["conv_id", "turn_idx"]].itertuples(index=False)))
            want = set(map(tuple, single[["conv_id", "turn_idx"]]
                           .itertuples(index=False)))
            assert got == want, (via, name)
        assert (batched["query"] == "absent").sum() == 0


def test_novel_rows_filters_known_content(spark, reader):
    from pyspark.sql import functions as F

    df = synthesize_transcripts(spark, 1500, seed=42)
    # half the probe batch is rows already indexed (not novel), half has
    # mutated text (novel)
    known = df.limit(40)
    mutated = known.withColumn(
        "text", F.concat(F.col("text"), F.lit(" zznovelword"))) \
        .withColumn("conv_id", F.concat(F.lit("nv_"), F.col("conv_id")))
    probe = known.unionByName(mutated)
    out = reader.novel_rows(probe).toPandas()
    assert len(out) == 40
    assert set(out["conv_id"].str.startswith("nv_")) == {True}
    # idempotent: an empty probe stays empty
    assert reader.novel_rows(probe.where(F.lit(False))).count() == 0


def test_search_verified_many_conjunctive_repeated_tags(spark, reader):
    """Repeated same-tag tokens are CONJUNCTIVE, matching the singular
    path's chained `where(col(tag) == val)`: two different role values
    can never both hold, so the query is provably empty — the batched
    spec must not collapse them last-wins."""
    df = synthesize_transcripts(spark, 1500, seed=42)
    queries = {
        "two_roles": ["role=user", "role=assistant", "tok=w00001"],
        "dup_same": ["role=assistant", "role=assistant", "tok=w00001"],
    }
    for via in ("slab", "linear", "slab_sql"):
        batched = reader.search_verified_many(queries, df, via=via) \
            .toPandas()
        assert (batched["query"] == "two_roles").sum() == 0, via
        want = reader.search_verified(
            ["role=assistant", "tok=w00001"], df).count()
        assert (batched["query"] == "dup_same").sum() == want, via


def test_linear_many_applies_per_query_gate_pruning(spark, tmp_path):
    """Adversarial FP-asymmetry regression: a needle token lives only in
    shard A, and shard B's rows carry saturated filters (tiny m, many
    tokens) that are m-space SUPERSETS of the needle's bits. The token
    gate prunes shard B for the needle query; the slab path therefore
    never evaluates it there. search_linear_many must apply the SAME
    per-query shard restriction — scanning the union of shards would
    emit shard-B false positives the slab path provably excludes."""
    import numpy as np

    from mdbloom import bits as B

    rows = [("convA", 0, "user", "needleword filler1 filler2", None)]
    for i in range(20):
        junk = " ".join(f"junk{i}_{j}" for j in range(20))
        rows.append((f"convB{i:02d}", 0, "user", junk, None))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string")
    cfg = IndexConfig(n_per_record=8, probability=0.5, n_shards=2,
                      chunk_slots=64)
    path = str(tmp_path / "advidx")
    BloomIndexWriter(spark, cfg).build(df, path)
    reader = BloomIndexReader(spark, path)

    toks = ["tok=needleword"]
    qbits = reader.query_bits(toks)
    pruned = reader.prune_shards(qbits, toks)
    st = reader.storage(keep_filter=True).toPandas()
    needle_shard = int(st[st["conv_id"] == "convA"]["shard"].iloc[0])
    # precondition 1: the gate actually prunes the junk shard
    assert pruned == [needle_shard], (pruned, needle_shard)
    # precondition 2: the junk shard holds >= 1 m-space-FP row for the
    # needle (the row the un-restricted union scan would leak)
    other = st[st["shard"] != needle_shard]
    m = reader.shape.m
    qwords = B.from_bits(qbits, m)
    nz = np.flatnonzero(qwords)

    def covers(filt):
        fw = np.frombuffer(filt, dtype=B.U64)
        return bool(np.all((fw[nz] & qwords[nz]) == qwords[nz]))

    assert any(covers(f) for f in other["filter"]), \
        "fixture no longer adversarial: junk filters don't cover needle"
    # the SECOND query keeps the junk shard, so the batch's shard UNION
    # includes it — only per-query restriction keeps the needle exact
    queries = {"q": toks, "junk": ["tok=junk0_0"]}
    lin = reader.search_linear_many(queries).toPandas()
    slab = reader.search_many(queries).toPandas()
    key = ["query", "conv_id", "turn_idx"]
    assert (set(map(tuple, lin[key].itertuples(index=False)))
            == set(map(tuple, slab[key].itertuples(index=False))))
    assert set(lin[lin["query"] == "q"]["shard"]) <= {needle_shard}


def test_prune_shards_many_distributed_matches_driver(spark, reader):
    """The one-job distributed manifest prune (the past-driver-scale
    planning path, README 100 TB sizing) must return bit-identical shard
    lists to the driver-matrix prune_shards loop — including the
    empty-token match-all and a no-survivor query. use_tree=False pins
    the flat path: it is the one with the bit-identity contract (the
    tree descent is a sound SUBSET, tested separately)."""
    queries = {
        "a": reader.transcript_query_tokens("assistant", None, ["w00001"]),
        "b": reader.transcript_query_tokens(None, "Bash", ["w00005"]),
        "every": [],
        "absent": ["tok=zzznope", "tok=zzznope2"],
        7: reader.transcript_query_tokens("user", None, ["w00000"]),
    }
    got = reader.prune_shards_many_distributed(queries, use_tree=False)
    assert set(got) == set(queries)
    for qid, toks in queries.items():
        want = reader.prune_shards(reader.query_bits(list(toks)),
                                   list(toks))
        assert got[qid] == want, qid
    assert got["every"] == sorted(
        int(s) for s in reader.manifest()["shard"])


def test_choose_strategy_regimes(spark, reader, monkeypatch):
    """via="auto" routes a batch by the row-queries that survive pruning
    (the manifest n_turns of every shard each query keeps): within
    LINEAR_MAX_ROW_QUERIES the join-free linear scan, past it — or in
    the distributed-planner regime — the NumPy slab kernel. A single
    query is always linear; search_many plans the batch once; explicit
    via always wins; junk is rejected."""
    bound = reader.LINEAR_MAX_ROW_QUERIES
    assert reader.choose_strategy() == "linear"
    assert reader._resolve_via("auto") == "linear"
    # a bare int still answers: every query assumed to keep every shard
    assert reader.choose_strategy(4) == "linear"
    assert reader.choose_strategy(4, rows=bound + 1) == "slab"

    # a word stored in exactly one shard: a selective query
    stored = reader.storage().toPandas().merge(
        synthesize_transcripts(spark, 1500, seed=42).toPandas(),
        on=["conv_id", "turn_idx"])
    shards_of: dict = {}
    for shard, text in stored[["shard", "text"]].itertuples(index=False):
        for w in text.split():
            shards_of.setdefault(w, set()).add(shard)
    rare = min(w for w, sh in shards_of.items() if len(sh) == 1)
    selective = {"rare": [f"tok={rare}"], "absent": ["tok=zzznope"]}
    broad = {"every": [], "a": reader.transcript_query_tokens(
        "assistant", None, ["w00001"])}

    calls = []
    for fn in ("_plan_query_batch", "_linear_many", "_slab_keys"):
        orig = getattr(reader, fn)
        monkeypatch.setattr(reader, fn, lambda *a, _f=fn, _o=orig:
                            calls.append(_f) or _o(*a))

    def routed(queries):
        calls.clear()
        reader.search_many(queries)
        assert calls[0] == "_plan_query_batch" and len(calls) == 2, calls
        return {"_linear_many": "linear", "_slab_keys": "slab"}[calls[1]]

    assert routed(broad) == "linear"
    # a huge population: each shard holds half the bound
    man = reader.manifest().copy()
    man["n_turns"] = bound // 2
    monkeypatch.setattr(reader, "_manifest", man)
    plan = reader._plan_query_batch(selective)
    assert 0 < reader._surviving_rows(plan) <= bound
    assert routed(selective) == "linear"
    assert reader._surviving_rows(reader._plan_query_batch(broad)) > bound
    assert routed(broad) == "slab"
    assert reader.choose_strategy(2) == "slab"
    # a single query stays linear at any population
    assert reader.choose_strategy(1, rows=10 * bound) == "linear"
    # distributed-planner regime: no manifest sum, the slab outcome
    monkeypatch.setattr(reader, "DRIVER_PRUNE_MAX_SHARDS", 0)
    assert reader._surviving_rows(plan) is None
    assert reader.choose_strategy(2, rows=0) == "slab"
    assert routed(selective) == "slab"
    # explicit choice bypasses the selector entirely
    assert reader._resolve_via("linear") == "linear"
    with pytest.raises(ValueError):
        reader._resolve_via("bogus")


def test_linear_predicates_reject_a_one_word_miss(spark, reader,
                                                  monkeypatch):
    """A query that differs from a stored filter in exactly ONE word —
    its last nonzero word, or its first — must not match that filter.
    Checked on search and on both forms of search_many(via="linear")
    (SQL literal, broadcast join) against the kernel.linear_search
    oracle over the stored filters of the shards the query keeps. The
    query filter is the stored row's own filter plus one bit of its
    shard's summary, so pruning keeps the row's shard."""
    from mdbloom import bits as B
    from mdbloom import kernel as K
    from mdbloom.spark import query as Q
    stored = reader.storage(keep_filter=True).toPandas().merge(
        synthesize_transcripts(spark, 1500, seed=42).toPandas(),
        on=["conv_id", "turn_idx"])
    words = np.stack(stored["filter"].to_numpy()).astype(np.int64) \
        .view(np.uint64)
    shard_col = stored["shard"].to_numpy()
    ids = list(zip(stored["conv_id"], stored["turn_idx"]))

    def tokens(i):
        row = stored.iloc[i]
        tool = row["tool"] if row["tool"] not in (None, "none") else None
        return reader.transcript_query_tokens(row["role"], tool,
                                              row["text"].split())

    def one_word_miss(i, kind):
        """Row i's filter plus one spare shard-summary bit, placed in the
        query's last (or first) nonzero word; None if no bit fits."""
        own = words[i]
        spare = np.bitwise_or.reduce(words[shard_col == shard_col[i]]) & ~own
        nz = np.flatnonzero(own)
        span = (range(nz[-1], len(own)) if kind == "last"
                else range(nz[0], -1, -1))
        w = next((w for w in span if spare[w]), None)
        if w is None:
            return None
        bit = 64 * w + int(np.flatnonzero(B.unpack(spare[w:w + 1], 64))[0])
        qbits = np.union1d(np.flatnonzero(B.unpack(own, reader.shape.m)),
                           [bit]).astype(np.int64)
        query = B.from_bits(qbits, reader.shape.m)
        assert np.flatnonzero(query & ~own).tolist() == [w]
        assert w == np.flatnonzero(query)[-1 if kind == "last" else 0]
        return qbits

    crafted = {}  # token tuple -> crafted query bits
    cases = []    # (name, tokens, row id)
    for shard in sorted(set(shard_col)):
        for i in np.flatnonzero(shard_col == shard):
            found = {k: one_word_miss(i, k) for k in ("last", "first")}
            if any(q is None for q in found.values()):
                continue
            toks = tokens(i)
            assert np.array_equal(B.from_bits(
                reader.query_bits(toks), reader.shape.m), words[i])
            # distinct token orders key the two crafted queries apart
            for kind, toks_k in (("last", toks), ("first", toks[::-1])):
                crafted[tuple(toks_k)] = found[kind]
                cases.append((f"{kind}{i}", toks_k, ids[i]))
            break
    assert len(cases) == 2 * len(set(shard_col))

    orig = reader.query_bits
    monkeypatch.setattr(reader, "query_bits", lambda toks: crafted[
        tuple(toks)] if tuple(toks) in crafted else orig(toks))

    def oracle(toks):
        qbits = crafted[tuple(toks)]
        kept = np.isin(shard_col, reader.prune_shards(qbits, toks))
        hit = K.linear_search(words[kept], B.from_bits(qbits,
                                                       reader.shape.m))
        return {ids[j] for j in np.flatnonzero(kept)[hit]}

    want = {}
    for name, toks, row_id in cases:
        want[name] = oracle(toks)
        assert row_id not in want[name], name
        got = set(map(tuple, reader.search(toks)
                      .select("conv_id", "turn_idx").toPandas()
                      .itertuples(index=False)))
        assert got == want[name], name
    queries = {name: toks for name, toks, _ in cases}

    def batched():
        out = reader.search_many(queries, via="linear").toPandas()
        return {name: set(map(tuple, out[out["query"] == name]
                              [["conv_id", "turn_idx"]]
                              .itertuples(index=False)))
                for name in queries}

    assert batched() == want
    monkeypatch.setattr(Q, "SQL_LITERAL_MAX_PREDS", 0)
    assert batched() == want


def test_single_query_linear_plans_compile_no_new_code(spark, reader,
                                                       monkeypatch):
    """After one warm query, distinct search and get_bitexact(via=
    "linear") queries compile no new code (CodegenMetrics): each query's
    (word, mask) pairs fold into one literal that the generated code
    reaches by reference, so the code text is the same whatever the
    word count or shard set. One query carries a word mask of bit 63
    alone (INT64_MIN), checked against the kernel.linear_search oracle
    over the stored filters of the shards it keeps."""
    from mdbloom import bits as B
    from mdbloom import kernel as K
    stored = reader.storage(keep_filter=True).toPandas().merge(
        synthesize_transcripts(spark, 1500, seed=42).toPandas(),
        on=["conv_id", "turn_idx"])
    words = np.stack(stored["filter"].to_numpy()).astype(np.int64) \
        .view(np.uint64)
    shard_col = stored["shard"].to_numpy()
    ids = list(zip(stored["conv_id"], stored["turn_idx"]))

    def tokens(i):
        row = stored.iloc[i]
        tool = row["tool"] if row["tool"] not in (None, "none") else None
        return reader.transcript_query_tokens(row["role"], tool,
                                              row["text"].split())

    # row i's word w has bit 63 set: the query is that bit alone plus
    # one bit of another of row i's words, so one mask is INT64_MIN
    i, w = np.argwhere(words >> np.uint64(63))[0]
    own = np.flatnonzero(B.unpack(words[i], reader.shape.m))
    other = next(b for b in own if b // 64 != w)
    qbits63 = np.array(sorted([64 * w + 63, other]), dtype=np.int64)
    toks63 = tokens(i)
    assert -(2 ** 63) in B.from_bits(qbits63, reader.shape.m) \
        .view(np.int64).tolist()
    orig = reader.query_bits
    monkeypatch.setattr(reader, "query_bits", lambda toks: qbits63 if
                        list(toks) == toks63 else orig(toks))

    queries = [toks63] + [tokens(int(np.flatnonzero(shard_col == s)[j]))
                          for s in sorted(set(shard_col)) for j in (0, 1)]
    pairs = [len(reader._word_pairs(reader.query_bits(t))) for t in queries]
    kept = [tuple(reader.prune_shards(reader.query_bits(t), t))
            for t in queries]
    assert len(set(pairs)) > 1 and len(set(kept)) > 1, (pairs, kept)

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME().getCount
    warm = tokens(int(np.flatnonzero(shard_col == shard_col[i])[-1]))
    reader.search(warm).collect()
    reader.get_bitexact(warm).collect()
    before = compiles()
    got = {}
    for toks in queries:
        got[tuple(toks)] = (
            {(r.conv_id, r.turn_idx) for r in reader.search(toks).collect()},
            {(r.conv_id, r.turn_idx)
             for r in reader.get_bitexact(toks).collect()})
    assert compiles() == before

    in_kept = np.isin(shard_col, reader.prune_shards(qbits63, toks63))
    query = B.from_bits(qbits63, reader.shape.m)
    hit = K.linear_search(words[in_kept], query)
    exact = (words[in_kept] == query).all(axis=1)
    rows = np.flatnonzero(in_kept)
    assert got[tuple(toks63)] == ({ids[j] for j in rows[hit]},
                                  {ids[j] for j in rows[exact]})
    assert ids[i] in got[tuple(toks63)][0]


def test_search_many_all_miss_batch_is_empty_and_typed(spark, reader,
                                                       monkeypatch):
    """A batch whose every query prunes to a definite miss returns no
    rows, with the column names and types of a non-empty batch, under
    every ``via`` — and runs no strategy to get there; an unknown
    ``via`` is still rejected."""
    vias = ("auto", "linear", "slab", "slab_sql")
    absent = {"a": ["tok=zzznope"], "b": ["role=user", "tok=qqqnope"]}
    assert all(sh is None for _, _, sh in reader._plan_query_batch(absent))
    present = {"p": reader.transcript_query_tokens("assistant", None,
                                                   ["w00001"])}
    want = {via: reader.search_many(present, via=via).dtypes
            for via in vias}
    for fn in ("_linear_many", "_slab_keys", "_slab_sql_keys"):
        monkeypatch.setattr(reader, fn,
                            lambda plan, _f=fn: pytest.fail(_f))
    for via in vias:
        out = reader.search_many(absent, via=via)
        assert out.dtypes == want[via], via
        assert out.count() == 0, via
    with pytest.raises(ValueError):
        reader.search_many(absent, via="bogus")


def test_search_verified_auto_matches_explicit(spark, reader):
    """Auto-selected strategy returns the same rows as every explicit
    one (they are bit-identical by contract)."""
    df = synthesize_transcripts(spark, 1500, seed=42)
    toks = reader.transcript_query_tokens("assistant", None, ["w00001"])
    def got(via):
        return set(map(tuple, reader.search_verified(toks, df, via=via)
                       .select("conv_id", "turn_idx").toPandas()
                       .itertuples(index=False)))
    auto = got("auto")
    assert auto == got("linear") == got("slab") == got("slab_sql")
    qs = {"a": toks, "absent": ["tok=zzznope"]}
    batched = reader.search_verified_many(qs, df, via="auto").toPandas()
    assert set(map(tuple,
                   batched[batched["query"] == "a"]
                   [["conv_id", "turn_idx"]].itertuples(index=False))) \
        == auto


@pytest.fixture(scope="module")
def tree_reader(spark, tmp_path_factory):
    """32 shards grouped 4-per-node -> a 3-level manifest tree above the
    leaf manifest (8 -> 2 -> 1 rows)."""
    path = str(tmp_path_factory.mktemp("tidx") / "index")
    df = synthesize_transcripts(spark, 3000, seed=7)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=32,
                      chunk_slots=256, manifest_group_size=4)
    BloomIndexWriter(spark, cfg).build(df, path)
    return BloomIndexReader(spark, path)


def test_manifest_tree_levels_written(tree_reader):
    import os
    levels = sorted(d for d in os.listdir(
        os.path.join(tree_reader.path, "manifest_tree"))
        if d.startswith("level="))
    assert levels == ["level=1", "level=2", "level=3"]


def _true_shards(spark, df, n_shards, role, tool, words):
    """Shards that TRULY contain a (role, tool, words) match — the set no
    sound pruner may ever drop a member of."""
    w = F.split(F.trim("text"), r"\s+")
    cond = F.lit(True)
    if role is not None:
        cond = cond & (F.col("role") == role)
    if tool is not None:
        cond = cond & (F.col("tool") == tool)
    for x in words or []:
        cond = cond & F.array_contains(w, x)
    sharded = df.withColumn(
        "shard", F.pmod(F.xxhash64("conv_id"),
                        F.lit(n_shards)).cast("int"))
    return {int(r.shard) for r in
            sharded.where(cond).select("shard").distinct().collect()}


def test_prune_tree_sound_subset_of_flat(spark, tree_reader):
    """Tree descent contract: per query a SUBSET of the flat scan (the
    population-sized node gates are sharper than the fixed-shape leaf
    gates, so leaf-gate false positives may be pruned), and SOUND — no
    shard that truly contains a match is ever dropped (node gates are
    built from exact token sets; Bloom has no false negatives)."""
    r = tree_reader
    df = synthesize_transcripts(spark, 3000, seed=7)
    queries = {
        "a": r.transcript_query_tokens("assistant", None, ["w00001"]),
        "b": r.transcript_query_tokens(None, "Bash", ["w00005"]),
        "every": [],
        "absent": ["tok=zzznope", "tok=zzznope2"],
        "rare": r.transcript_query_tokens("user", "Grep", ["w00000"]),
    }
    flat = r.prune_shards_many_distributed(queries, use_tree=False)
    tree, stats = r.prune_shards_many_distributed(
        queries, use_tree=True, return_stats=True)
    for qid in queries:
        assert set(tree[qid]) <= set(flat[qid]), qid
    # match-all carries no tokens: gates never engage, exact equality
    assert tree["every"] == flat["every"] == sorted(
        int(s) for s in r.manifest()["shard"])
    assert tree["absent"] == []
    # soundness against ground truth recomputed from the source table
    specs = {"a": ("assistant", None, ["w00001"]),
             "b": (None, "Bash", ["w00005"]),
             "rare": ("user", "Grep", ["w00000"])}
    for qid, (role, tool, words) in specs.items():
        truth = _true_shards(spark, df, 32, role, tool, words)
        assert truth <= set(tree[qid]), qid


def test_prune_tree_absent_token_rejected_at_root(spark, tree_reader):
    """An absent token must die at the ROOT: the root node gate is sized
    for the whole corpus vocabulary (tiny here), so the descent reads
    exactly one tree row and ZERO leaf manifest rows — the regression
    the v7 OR-folded gates failed (saturated upper levels passed
    everything; measured 0% leaf reduction at 1024 shards)."""
    r = tree_reader
    res, stats = r.prune_shards_many_distributed(
        {"x": ["tok=zzznope"], "y": ["tok=zzqnever"]},
        use_tree=True, return_stats=True)
    assert res == {"x": [], "y": []}
    assert stats["tree_rows_read"] == 1
    assert stats["leaf_rows_scanned"] == 0
    # flat path scans every leaf row for the same batch
    n_shards = len(r.manifest())
    _, flat_stats = r.prune_shards_many_distributed(
        {"x": ["tok=zzznope"], "y": ["tok=zzqnever"]},
        use_tree=False, return_stats=True)
    assert flat_stats["leaf_rows_scanned"] == n_shards


def test_tree_gates_population_sized_and_capped(spark, tmp_path):
    """Tree node gates are sized from each node's own distinct-token
    population; a node whose population needs m above tree_gate_max_m
    stores a NULL gate and conservatively passes (descent stays sound,
    it just prunes less)."""
    import os
    df = synthesize_transcripts(spark, 1200, seed=11)
    # tiny cap: EVERY node exceeds it -> all tree gates NULL
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                      chunk_slots=256, manifest_group_size=2,
                      tree_gate_max_m=64)
    path = str(tmp_path / "capped")
    BloomIndexWriter(spark, cfg).build(df, path)
    r = BloomIndexReader(spark, path)
    lvl1 = spark.read.parquet(
        os.path.join(path, "manifest_tree", "level=1")).toPandas()
    assert lvl1["token_gate"].isna().all()
    assert lvl1["gate_m"].isna().all()
    # NULL gates pass everything: tree == flat exactly (summary-only)
    queries = {"a": r.transcript_query_tokens("assistant", None,
                                              ["w00001"]),
               "absent": ["tok=zzznope"]}
    assert (r.prune_shards_many_distributed(queries, use_tree=True)
            == r.prune_shards_many_distributed(queries, use_tree=False))
    # normal cap: gates present, sized to the node population (m grows
    # with distinct tokens, k fixed by the probability)
    cfg2 = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                       chunk_slots=256, manifest_group_size=2)
    path2 = str(tmp_path / "sized")
    BloomIndexWriter(spark, cfg2).build(df, path2)
    l1 = spark.read.parquet(
        os.path.join(path2, "manifest_tree", "level=1")).toPandas()
    l2 = spark.read.parquet(
        os.path.join(path2, "manifest_tree", "level=2")).toPandas()
    assert l1["token_gate"].notna().all()
    # parent vocabulary >= any child's -> parent gate m >= child gate m
    assert int(l2["gate_m"].max()) >= int(l1["gate_m"].max())
    from mdbloom.shape import Shape
    for _, row in l1.iterrows():
        want = Shape.from_np(max(1, int(row["n_tokens"])), 1e-3)
        assert int(row["gate_m"]) == want.m
        assert int(row["gate_k"]) == want.k


def test_tree_rebuilt_on_incremental_add(spark, tmp_path):
    """Incremental build(resume=True) with NEW rows must refresh the
    tree gates from the token_hashes/ artifact so tokens that exist only
    in the new rows survive the descent — carrying gates over would
    underclaim and silently drop true matches."""
    path = str(tmp_path / "incr")
    full = synthesize_transcripts(spark, 2400, seed=13)
    shard_of = F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int")
    # the added rows land in shard 0 ONLY (the other 7 shards must skip),
    # and carry a sentinel token that exists nowhere else
    half1 = full.where(shard_of != 0)
    half2 = (full.where(shard_of == 0)
             .withColumn("text", F.concat(F.col("text"),
                                          F.lit(" zzsentinel"))))
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                      chunk_slots=256, manifest_group_size=2)
    w = BloomIndexWriter(spark, cfg)
    w.build(half1, path)
    r0 = BloomIndexReader(spark, path)
    assert r0.prune_shards_many_distributed(
        {"s": ["tok=zzsentinel"]}, use_tree=True)["s"] == []
    # incremental: clean shards skip, the dirty shard rebuilds, tree
    # gates recomputed from the merged token_hashes/ stream
    res = w.build(half1.unionByName(half2), path, resume=True)
    assert res["built"] >= 1 and res["skipped"] >= 6
    r = BloomIndexReader(spark, path)
    truth = _true_shards(spark, half2, 8, None, None, ["zzsentinel"])
    assert truth  # the sentinel exists somewhere
    got = set(r.prune_shards_many_distributed(
        {"s": ["tok=zzsentinel"]}, use_tree=True)["s"])
    assert truth <= got


def test_planner_bounded_at_10k_shards_256_queries(spark, tmp_path):
    """VERDICT r4 item 4: the distributed batch planner must never
    round-trip the Q×S (query, shard) cross product through the driver.
    Plan a 256-query batch over a synthesized 10⁴-shard manifest with a
    small per-query cap: broad queries (surviving everywhere — 2.56M
    pairs uncapped) come back as the ALL_SHARDS sentinel (sound
    superset: scan unpruned), selective queries keep their EXACT sorted
    shard lists, and the driver materializes at most Q·(cap+1) ints.

    The manifest is synthesized directly (config.json + manifest
    parquet) — the planner only reads those two artifacts, and a real
    10⁴-shard build would dominate suite wall time for no extra
    coverage."""
    import json as _json
    import os

    import numpy as np
    import pandas as pd

    from mdbloom import bits as B

    n_shards = 10_000
    cfg = IndexConfig(n_per_record=8, probability=1e-3,
                      n_shards=n_shards, chunk_slots=256)
    path = str(tmp_path / "fake_index")
    os.makedirs(path)
    with open(os.path.join(path, "config.json"), "w") as f:
        f.write(cfg.to_json())
    reader = BloomIndexReader(spark, path)

    shape = reader.shape
    rare_shards = [7, 4242, 9999]
    broad = reader._jvm_hasher.packed_filter(["tok=broad"], shape)
    rare = reader._jvm_hasher.packed_filter(["tok=rare"], shape)
    summaries = []
    for s in range(n_shards):
        words = broad.copy()
        if s in rare_shards:
            words = np.bitwise_or(words, rare)
        summaries.append(words.tobytes())
    man = pd.DataFrame({
        "shard": np.arange(n_shards, dtype=np.int32),
        "summary": summaries,
        "token_gate": [None] * n_shards,  # null gate: passes (documented)
    })
    (spark.createDataFrame(
        man, "shard int, summary binary, token_gate binary")
        .repartition(8)
        .write.mode("overwrite").parquet(os.path.join(path, "manifest")))

    queries = {f"broad{i}": ["tok=broad"] for i in range(253)}
    queries["rare_a"] = ["tok=rare"]
    queries["rare_b"] = ["tok=broad", "tok=rare"]
    queries["absent"] = ["tok=zzz_definitely_absent"]
    assert len(queries) == 256

    cap = 64
    got = reader.prune_shards_many_distributed(
        queries, use_tree=False, max_shards_per_query=cap)
    assert set(got) == set(queries)
    # broad queries truncate to the sentinel, never a Q×S materialization
    for i in range(253):
        assert got[f"broad{i}"] is BloomIndexReader.ALL_SHARDS
    # selective queries keep exact sorted lists, equal to the driver path
    assert got["rare_a"] == rare_shards
    assert got["rare_b"] == rare_shards
    want = reader.prune_shards(reader.query_bits(["tok=rare"]),
                               ["tok=rare"])
    assert got["rare_a"] == sorted(want)
    # an absent token may only leak summary false positives (tiny here)
    assert len(got["absent"]) < 10
    # driver-side structure really is bounded: every non-sentinel list
    # is <= cap entries
    total = sum(len(v) for v in got.values()
                if v is not BloomIndexReader.ALL_SHARDS)
    assert total <= len(queries) * (cap + 1)


def test_distributed_planner_wired_into_strategies(spark, reader,
                                                   monkeypatch):
    """Past DRIVER_PRUNE_MAX_SHARDS manifest rows, _plan_query_batch
    switches to the DISTRIBUTED planner (bounded driver memory); all
    three batched strategies must return exactly the driver-planned
    rows — and with every plan degraded to ALL_SHARDS (the over-cap
    fallback), the unpruned scan must still return the same rows
    (sound superset: pruning is an optimization, never a filter)."""
    queries = {
        "a": reader.transcript_query_tokens("assistant", None, ["w00001"]),
        "b": reader.transcript_query_tokens(None, "Bash", ["w00005"]),
        "every": [],
        "absent": ["tok=zzznope"],
    }
    cols = ["query", "conv_id", "turn_idx"]

    def rows(df):
        return set(map(tuple, df.select(*cols).toPandas()
                       .itertuples(index=False)))

    want = {via: rows(reader.search_many(queries, via=via))
            for via in ("slab", "linear", "slab_sql")}
    assert want["slab"] == want["linear"] == want["slab_sql"]
    # one result schema: every strategy yields (query, *storage columns)
    columns = {via: reader.search_many(queries, via=via).columns
               for via in ("slab", "linear", "slab_sql", "auto")}
    assert all(c == columns["linear"] for c in columns.values()), columns
    assert columns["linear"][0] == "query"

    monkeypatch.setattr(reader, "DRIVER_PRUNE_MAX_SHARDS", 0)
    for via in ("slab", "linear", "slab_sql"):
        assert rows(reader.search_many(queries, via=via)) == want[via], via

    # every plan degraded to the over-cap sentinel: scan-unpruned, same rows
    monkeypatch.setattr(
        reader, "prune_shards_many_distributed",
        lambda qs, **kw: {q: BloomIndexReader.ALL_SHARDS for q in qs})
    for via in ("slab", "linear", "slab_sql"):
        assert rows(reader.search_many(queries, via=via)) == want[via], via


def test_distributed_planner_single_query_paths(spark, reader,
                                                monkeypatch):
    """The single-query surfaces (search, search_linear, get,
    get_bitexact, get_many) share the planner-regime switch: forced
    into the distributed regime — and then with every plan degraded to
    ALL_SHARDS — each returns exactly its driver-planned rows."""
    toks = reader.transcript_query_tokens("assistant", None, ["w00001"])
    cols = ["conv_id", "turn_idx"]

    def snap():
        return {
            "search": sorted(map(tuple, reader.search(toks)
                                 .select(*cols).collect())),
            "linear": sorted(map(tuple, reader.search_linear(toks)
                                 .select(*cols).collect())),
            "get": sorted(map(tuple, reader.get(toks)
                              .select(*cols).collect())),
            "bx": sorted(map(tuple, reader.get_bitexact(toks)
                             .select(*cols).collect())),
            "many": sorted(map(tuple, reader.get_many({"a": toks})
                               .select("query", *cols).collect())),
        }

    want = snap()
    monkeypatch.setattr(reader, "DRIVER_PRUNE_MAX_SHARDS", 0)
    assert snap() == want
    monkeypatch.setattr(
        reader, "prune_shards_many_distributed",
        lambda qs, **kw: {q: BloomIndexReader.ALL_SHARDS for q in qs})
    assert snap() == want
