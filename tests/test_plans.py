"""Physical-plan regression locks: the scale claims BENCH.md audits by
hand are asserted here so they can't silently regress — pushed filters
reach the parquet scan, pruned columns stay pruned, the all-JVM linear
path really has no Python nodes, and top-k never plans a global Window.
"""

import pytest

from mdbloom.spark.build import BloomIndexWriter, IndexConfig
from mdbloom.spark.query import BloomIndexReader
from mdbloom.spark.transcripts import (
    synthesize_transcripts,
    synthesize_transcripts_pandas,
)


def plan_str(df, mode: str = "formatted") -> str:
    """The explain() text as a string (what df.explain prints)."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pidx") / "index")
    df = synthesize_transcripts(spark, 800, seed=42)
    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=4,
                      chunk_slots=256)
    BloomIndexWriter(spark, cfg).build(df, path)
    return BloomIndexReader(spark, path)


def test_get_pushes_key_and_shard_to_scan(reader):
    toks = reader.transcript_query_tokens("assistant", "Bash", ["w00001"])
    plan = plan_str(reader.get(toks))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("key" in ln for ln in pushed), pushed
    # the at-rest filter-words column must be pruned from the read schema
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines and all("filter:" not in ln for ln in schema_lines)


def test_get_many_pushes_key_in_list(reader):
    qs = {
        "a": reader.transcript_query_tokens("assistant", "Bash",
                                            ["w00001"]),
        "b": reader.transcript_query_tokens("user", None, ["w00000"]),
    }
    plan = plan_str(reader.get_many(qs))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("In(key" in ln or "In(`key`" in ln for ln in pushed), pushed


def test_linear_search_is_all_jvm_codegen(spark, reader):
    """Every single-query surface plans without a Python node: the
    linear predicate (search, search_rows/search_verified under auto),
    the all-JVM slab kernel (search_keys, get_bitexact via="slab"), and
    the content-key get — including the empty query's slot listing.
    The linear predicate is one ``forall`` over a literal pair array:
    the Filter runs it interpreted (``forall`` has no codegen), inside
    a whole-stage-codegen stage with the scan and project, whose code
    text reaches the folded literal by reference and so is the same
    for every query (compiled once, not per lookup)."""
    toks = reader.transcript_query_tokens("assistant", None, ["w00002"])
    # a source table without Python nodes of its own
    src = spark.createDataFrame(synthesize_transcripts_pandas(800, seed=42))
    surfaces = {
        "search_linear": reader.search_linear(toks),
        "search": reader.search(toks),
        "search_keys": reader.search_keys(toks),
        "search_keys_empty": reader.search_keys([]),
        "search_rows_auto": reader.search_rows(toks, src, via="auto"),
        "search_verified": reader.search_verified(toks, src),
        "get": reader.get(toks),
        "get_bitexact_slab": reader.get_bitexact(toks, via="slab"),
        "get_bitexact_linear": reader.get_bitexact(toks),
    }
    for name, df in surfaces.items():
        plan = plan_str(df)
        if name in ("search_linear", "search", "get_bitexact_linear"):
            assert "codegen id" in plan, name  # whole-stage codegen spans
        for py_node in ("ArrowEvalPython", "BatchEvalPython",
                        "MapInPandas", "FlatMapGroupsInPandas"):
            assert py_node not in plan, (name, py_node)


def test_linear_search_many_is_all_jvm_codegen(reader):
    qs = {
        "a": reader.transcript_query_tokens("assistant", None, ["w00002"]),
        "b": reader.transcript_query_tokens(None, "Bash", ["w00005"]),
    }
    plan = plan_str(reader.search_linear_many(qs))
    assert "codegen id" in plan  # whole-stage codegen spans
    for py_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas"):
        assert py_node not in plan, py_node


def test_cosine_topk_plans_take_ordered_not_global_window(spark):
    from mdbloom.spark.similarity import cosine_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probe = emb.limit(1).collect()[0]["embedding"]
    plan = plan_str(cosine_topk(emb, list(probe), k=5))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_slab_scan_prunes_shards_at_source(reader):
    """A query whose gate pruning keeps a PROPER subset of shards must
    filter them INSIDE the parquet scan (partition pruning on the
    shard-partitioned slab table), not after; a query that survives in
    EVERY shard is hoisted to the shared global plan and scans
    UNFILTERED — the correct full-coverage plan (a redundant
    isin(all-shards) literal would grow with the shard count for
    nothing; see search_keys_many's global-plan compression)."""
    n_total = len(reader._prune_matrices()[0])
    pruning_toks = None
    for w in [f"w{49_00 + i:05d}" for i in range(60, 100)]:
        toks = [f"tok={w}"]
        kept = reader.prune_shards(reader.query_bits(toks), toks)
        if 0 < len(kept) < n_total:
            pruning_toks = toks
            break
    assert pruning_toks, "fixture has no shard-pruning rare token"
    plan = plan_str(reader.search_keys_many({"a": pruning_toks}))
    assert "MapInPandas" in plan  # the NumPy kernel really is in the plan
    scan_lines = [ln for ln in plan.splitlines()
                  if "PartitionFilters" in ln or "PushedFilters" in ln]
    assert any("shard" in ln for ln in scan_lines), scan_lines

    # full-coverage query: global plan, unfiltered scan (still the kernel)
    broad = {"b": reader.transcript_query_tokens("assistant", "Bash",
                                                 ["w00001"])}
    kept = reader.prune_shards(
        reader.query_bits(broad["b"]), broad["b"])
    assert len(kept) == n_total  # fixture invariant: w00001 is everywhere
    plan_b = plan_str(reader.search_keys_many(broad))
    assert "MapInPandas" in plan_b
