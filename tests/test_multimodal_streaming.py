"""Multimodal plumbing (stubbed codecs, real Spark batching) and the
Structured Streaming sketch surface."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mdbloom.sketches import HllSketch
from mdbloom.spark import multimodal as M
from mdbloom.spark.streaming import StreamingSketch, windowed_counts


# ---------------- multimodal ----------------

def test_media_table_deterministic(spark):
    a = M.synthesize_media(spark, 64).orderBy("media_id").toPandas()
    b = M.synthesize_media(spark, 64).orderBy("media_id").toPandas()
    assert (a["payload"] == b["payload"]).all()
    assert set(a["kind"]) == {"image", "audio", "video"}


def test_extract_features_plumbing(spark):
    media = M.synthesize_media(spark, 96)
    feats = M.extract_features(media, decoder=M.fake_decoder,
                               feat_dim=8, sample_every=10).toPandas()
    assert len(feats) == 96
    assert feats["feature"].map(len).eq(8).all()
    assert (feats["channels"].between(1, 3)).all()
    # video frame sampling arithmetic: sampled = max(1, n_frames // 10)
    vids = feats[feats["kind"] == "video"]
    assert (vids["n_frames"] >= 1).all()
    imgs = feats[feats["kind"] == "image"]
    assert (imgs["n_frames"] == 1).all()
    # deterministic features
    again = M.extract_features(media, decoder=M.fake_decoder).toPandas()
    f1 = feats.sort_values("media_id")["feature"].map(tuple).tolist()
    f2 = again.sort_values("media_id")["feature"].map(tuple).tolist()
    assert f1 == f2


def test_default_decoder_rejects_junk_clearly(spark):
    """The default decoder is the REAL codec path now: junk payloads
    (synthesize_media fabricates bytes, not files) must fail loudly —
    never fabricate a shape — and video stays honestly unavailable."""
    media = M.synthesize_media(spark, 4)
    with pytest.raises(Exception) as ei:
        M.extract_features(media).collect()  # junk bytes, real decoder
    msg = str(ei.value)
    assert ("unsupported" in msg or "NotImplementedError" in msg
            or "no built-in decoder" in msg)
    with pytest.raises(NotImplementedError, match="video"):
        M.decode_media(b"anything", "video")


def test_real_decoders_parse_headers_exactly():
    """Pure-function coverage of the built-in codecs: PPM with comment
    lines, top-down (negative-height) BMP, stereo 16-bit WAV — plus
    truncation and unreadable-BMP-header rejection."""
    import struct
    ppm = b"P6\n# a comment\n5 3\n255\n" + bytes(5 * 3 * 3)
    assert M.decode_image(ppm) == {"height": 3, "width": 5,
                                   "channels": 3, "n_frames": 1}
    with pytest.raises(ValueError, match="shorter"):
        M.decode_image(b"P6\n5 3\n255\n" + bytes(10))
    bmp = (b"BM" + struct.pack("<IHHI", 54 + 120, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 10, -3, 1, 32, 0, 120,
                         0, 0, 0, 0) + bytes(120))
    assert M.decode_image(bmp) == {"height": 3, "width": 10,
                                   "channels": 4, "n_frames": 1}
    # headers the decoder cannot read: a 12-byte BITMAPCOREHEADER (int16
    # dims at other offsets) and an RLE8-compressed BITMAPINFOHEADER
    # (its first pixel bytes read as 24 bpp at offset 28, so a decoder
    # that skips the header-size check returns a fabricated shape)
    core = (b"BM" + struct.pack("<IHHI", 26 + 64, 0, 0, 26)
            + struct.pack("<IHHHH", 12, 10, 3, 1, 24)
            + struct.pack("<HH", 0, 24) + bytes(60))
    rle = (b"BM" + struct.pack("<IHHI", 54 + 40, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 10, 3, 1, 8, 1, 40,
                         0, 0, 0, 0) + bytes(40))
    for bad in (core, rle):
        with pytest.raises(ValueError, match="unsupported BMP"):
            M.decode_image(bad)
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    pcm = bytes(44100 * 4)  # exactly 1 second stereo
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
           + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(pcm)) + pcm)
    got = M.decode_audio(wav)
    assert got == {"height": 1, "width": 44100, "channels": 2,
                   "n_frames": 44100}  # duration = n_frames/width = 1 s
    with pytest.raises(ValueError, match="unsupported"):
        M.decode_image(b"\x89PNG\r\n")
    with pytest.raises(ValueError, match="unsupported"):
        M.decode_audio(b"OggS")


def test_real_media_end_to_end_dims(spark):
    """extract_features over REAL synthesized PPM/BMP/WAV files with the
    DEFAULT decoder: every height/width/channels/n_frames must equal the
    synthesis rule (real header parsing, not hash fabrication), and
    audio duration is recoverable as n_frames / width."""
    media = M.synthesize_real_media(spark, 96)
    feats = (M.extract_features(media, feat_dim=8)
             .toPandas().set_index("media_id").sort_index())
    assert len(feats) == 96
    for i in range(96):
        row = feats.loc[i]
        if i % 3 == 0:
            assert row["kind"] == "audio"
            assert row["channels"] == 1 + i % 2
            assert row["width"] == 8000 and row["height"] == 1
            assert row["n_frames"] == 50 + i % 400
        else:
            assert row["kind"] == "image"
            assert row["height"] == 8 + i % 25
            assert row["width"] == 8 + (i * 7) % 31
            assert row["channels"] == 3
            assert row["n_frames"] == 1
    # determinism of the whole real path
    again = (M.extract_features(M.synthesize_real_media(spark, 96),
                                feat_dim=8)
             .toPandas().set_index("media_id").sort_index())
    assert (feats["feature"].map(tuple) == again["feature"].map(tuple)).all()


# ---------------- streaming ----------------

def test_streaming_sketch_matches_batch(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(src)
    schema = events.schema

    stream = spark.readStream.schema(schema).parquet(src)
    acc = StreamingSketch(lambda: HllSketch(13), HllSketch.from_bytes,
                          col="user_id")
    q = acc.start(stream)
    q.awaitTermination(120)
    assert acc.batches_seen >= 1

    batch_est = HllSketch(13).update(
        events.select("user_id").toPandas()["user_id"].to_numpy()).estimate()
    assert acc.sketch.estimate() == batch_est  # same registers either way


def test_stateful_sketch_by_key_resumes_from_checkpoint(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-key HLL
    state across microbatches AND across query restarts — the state
    lives in the streaming checkpoint, so run 2 (new input files, same
    checkpoint) must resume every key's sketch, giving estimates over
    the UNION of both runs' rows."""
    from mdbloom.spark.streaming import stateful_sketch_by_key

    src = str(tmp_path / "st_src")
    ckpt = str(tmp_path / "st_ckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    half_a = events.where(F.col("event_id") % 2 == 0)
    half_b = events.where(F.col("event_id") % 2 == 1)
    import os
    os.makedirs(src, exist_ok=True)
    half_a.write.mode("append").parquet(src)

    def run_once(name):
        stream = spark.readStream.schema(events.schema).parquet(src)
        out = stateful_sketch_by_key(
            stream, ["event_type"], "user_id",
            lambda: HllSketch(13), HllSketch.from_bytes,
            estimate=lambda s: s.estimate())
        got = {}

        def capture(batch_df, _bid):
            for r in batch_df.collect():
                got[r.event_type] = r.estimate

        q = (out.writeStream.outputMode("update").foreachBatch(capture)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return got

    got_a = run_once("st_run1")
    exact_a = {r.event_type: r.d for r in half_a.groupBy("event_type")
               .agg(F.countDistinct("user_id").alias("d")).collect()}
    for k, d in exact_a.items():
        assert abs(got_a[k] - d) / max(d, 1) < 0.1

    half_b.write.mode("append").parquet(src)
    got_b = run_once("st_run2")
    exact_all = {r.event_type: r.d for r in events.groupBy("event_type")
                 .agg(F.countDistinct("user_id").alias("d")).collect()}
    for k, d in exact_all.items():
        # resumed state -> estimate covers BOTH halves' distinct users
        assert abs(got_b[k] - d) / max(d, 1) < 0.1
        assert got_b[k] >= got_a.get(k, 0) - 1e-9


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = str(tmp_path / "wsrc")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_counts(stream, "ts", "event_type", window="1 hour")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("wcounts").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select sum(n) as total from wcounts").collect()[0].total
    assert got == events.count()
    # per-key totals match a batch groupBy
    got_k = {(r.event_type): r.s for r in spark.sql(
        "select event_type, sum(n) as s from wcounts group by 1").collect()}
    want_k = {r.event_type: r.s for r in events.groupBy("event_type")
              .agg(F.count("*").alias("s")).collect()}
    assert got_k == want_k


def test_streaming_novelty_ingest(spark, tmp_path):
    """Online dedup ingest: overlapping microbatches land exactly one
    accepted row per content key in the sink, the index grows
    incrementally, replays are no-ops, and queries see every run's rows."""
    from pyspark.sql import Window

    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader
    from mdbloom.spark.streaming import StreamingNoveltyIngest
    from mdbloom.spark.transcripts import synthesize_transcripts

    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=8,
                      chunk_slots=256)
    full = synthesize_transcripts(spark, 600, seed=42)
    h = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(3))
    part1 = full.where(h != 0)          # thirds {1,2}
    part2 = full.where(h != 2)          # thirds {0,1} -> overlap = third 1

    src = str(tmp_path / "nsrc")
    sink = str(tmp_path / "nsink")
    idx = str(tmp_path / "nidx")
    part1.write.mode("overwrite").parquet(src)

    ingest = StreamingNoveltyIngest(spark, cfg, idx, sink)

    def run(ckpt):
        # a shared checkpoint means a later run() only sees NEW files; a
        # fresh checkpoint dir replays everything
        stream = spark.readStream.schema(full.schema).parquet(src)
        q = (stream.writeStream.foreachBatch(ingest._on_batch)
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(300)

    run("nv_run1")
    n1 = spark.read.parquet(sink).count()
    assert n1 == part1.count()          # first run: everything is novel

    part2.write.mode("append").parquet(src)
    run("nv_run1")                      # same checkpoint -> only new files
    sunk = spark.read.parquet(sink)
    # one accepted row-set per distinct content key of the union
    keyed = BloomIndexWriter(spark, cfg).filters_df(
        part1.unionByName(part2))
    want_records = (keyed.withColumn(
        "_rn", F.row_number().over(
            Window.partitionBy("key").orderBy("conv_id", "turn_idx")))
        .where(F.col("_rn") == 1).count())
    assert sunk.count() == want_records
    assert ingest.rejected_total > 0    # the overlap was rejected

    # replay EVERYTHING (fresh checkpoint): pure no-op
    before = sunk.count()
    acc_before = ingest.accepted_total
    run("nv_run2_replay")
    assert spark.read.parquet(sink).count() == before
    assert ingest.accepted_total == acc_before

    # the incrementally-grown index answers for rows from both runs
    r = BloomIndexReader(spark, idx)
    assert r.value_count() == before
    sunk = spark.read.parquet(sink)
    toks = r.transcript_query_tokens("assistant", None, ["w00001"])
    got = {(row.conv_id, int(row.turn_idx))
           for row in r.search_verified(toks, sunk)
           .select("conv_id", "turn_idx").collect()}
    want = {(row.conv_id, int(row.turn_idx))
            for row in sunk
            .where((F.col("role") == "assistant")
                   & F.array_contains(F.split("text", r"\s+"), "w00001"))
            .select("conv_id", "turn_idx").collect()}
    assert want and got == want


def test_novelty_ingest_idempotent_across_partial_failure(spark, tmp_path,
                                                          monkeypatch):
    """Crash BETWEEN the sink append and the index rebuild, then replay
    the same microbatch: the sink must not gain duplicates (the sink's
    own persisted keys reject replayed rows even though the index never
    saw them) and the index must still converge to the sink."""
    from mdbloom.spark.build import BloomIndexWriter, IndexConfig
    from mdbloom.spark.query import BloomIndexReader
    from mdbloom.spark.streaming import StreamingNoveltyIngest

    cfg = IndexConfig(n_per_record=40, probability=1e-3, n_shards=4,
                      chunk_slots=64)
    rows = [(f"c{i:02d}", 0, "user", f"tokn{i} shared tail{i % 3}", None)
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string")
    sink = str(tmp_path / "sink")
    idx = str(tmp_path / "idx")
    ingest = StreamingNoveltyIngest(spark, cfg, idx, sink)

    orig_build = BloomIndexWriter.build
    state = {"fail": True}

    def flaky_build(self, *a, **k):
        if state["fail"]:
            state["fail"] = False
            raise RuntimeError("injected crash after sink append")
        return orig_build(self, *a, **k)

    monkeypatch.setattr(BloomIndexWriter, "build", flaky_build)
    with pytest.raises(RuntimeError, match="injected"):
        ingest._on_batch(df, 0)
    # sink was appended, index rebuild died
    assert spark.read.parquet(sink).count() == 30
    import os
    assert not os.path.exists(os.path.join(idx, "config.json"))

    ingest._on_batch(df, 0)  # the stream replays the SAME batch
    assert spark.read.parquet(sink).count() == 30, "replay duplicated sink"
    r = BloomIndexReader(spark, idx)
    assert r.value_count() == 30, "index did not converge to the sink"
    # a genuinely new batch still flows through
    more = spark.createDataFrame(
        [("d00", 0, "user", "brandnew words here", None)], df.schema)
    ingest._on_batch(more, 1)
    assert spark.read.parquet(sink).count() == 31
    assert BloomIndexReader(spark, idx).value_count() == 31


def test_byte_quantiles_bit_equal_to_np_quantile():
    """The vectorized histogram quantile (one bincount, no Python loop)
    must reproduce per-payload np.quantile bit-for-bit — including empty
    segments (NaN), single-byte segments, and interpolated positions on
    both sides of numpy's t >= 0.5 lerp switch."""
    import numpy as np

    from mdbloom.spark.multimodal import _byte_quantiles

    rng = np.random.default_rng(3)
    q_grid = np.linspace(0, 1, 6)
    payloads = [rng.integers(0, 256, size=n).astype(np.uint8)
                for n in [0, 1, 2, 3, 7, 100, 1000, 65537]]
    lens = np.array([len(p) for p in payloads], dtype=np.int64)
    concat = (np.concatenate([p for p in payloads if p.size])
              if lens.sum() else np.zeros(0, dtype=np.uint8))
    got = _byte_quantiles(concat, lens, q_grid)
    for i, p in enumerate(payloads):
        if p.size == 0:
            assert np.isnan(got[i]).all()
        else:
            want = np.quantile(p, q_grid)
            assert np.array_equal(got[i], want), (i, got[i], want)


def test_streaming_sketch_ledger_exactly_once(spark, tmp_path):
    """The (batch_id, state) ledger closes the non-idempotent-sketch gap:
    a replayed microbatch (same batch_id — Spark's at-least-once replay
    contract) must not double-count a CMS, and a RESTARTED accumulator
    must resume the ledgered state and still no-op the replay."""
    from mdbloom.sketches.cms import CountMinSketch

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pdf = events.select("user_id").toPandas()
    ids = pdf["user_id"].to_numpy()
    hot = pdf["user_id"].mode()[0]
    truth = int((ids == hot).sum())

    def hits(sk):
        return int(sk.query(np.array([hot]))[0])

    ledger = str(tmp_path / "ledger")
    mk = lambda: CountMinSketch(depth=5, width=2048)
    acc = StreamingSketch(mk, CountMinSketch.from_bytes, col="user_id",
                          ledger_path=ledger)
    b0, b1 = events.where(F.col("event_id") % 2 == 0), \
        events.where(F.col("event_id") % 2 == 1)
    acc._on_batch(b0, 0)
    acc._on_batch(b1, 1)
    assert hits(acc.sketch) >= truth  # CMS overestimates only
    exact_once = hits(acc.sketch)
    # replay of the last batch: a no-op, not a double-count
    acc._on_batch(b1, 1)
    assert hits(acc.sketch) == exact_once
    assert acc.batches_replayed == 1
    # restart: a fresh accumulator resumes the ledgered state, and the
    # replayed batch is STILL a no-op across the restart boundary
    acc2 = StreamingSketch(mk, CountMinSketch.from_bytes, col="user_id",
                           ledger_path=ledger)
    assert acc2.last_batch_id == 1
    assert hits(acc2.sketch) == exact_once
    acc2._on_batch(b1, 1)
    assert hits(acc2.sketch) == exact_once
    # ...while a genuinely NEW batch still advances the total
    acc2._on_batch(b1.limit(50), 2)
    assert acc2.sketch.total > acc.sketch.total
    # without a ledger the same replay WOULD double-count (the documented
    # at-least-once default for non-idempotent sketches)
    plain = StreamingSketch(mk, CountMinSketch.from_bytes, col="user_id")
    plain._on_batch(b1, 1)
    one_total = plain.sketch.total
    plain._on_batch(b1, 1)
    assert plain.sketch.total == 2 * one_total  # counts doubled


def test_ledger_requires_checkpoint_and_survives_query_restart(
        spark, tmp_path):
    """r4 review finding: batch ids only stay stable under a streaming
    checkpoint, so start() must refuse a ledger without one — and with
    one, a stopped-and-restarted query over NEW input must extend the
    ledgered state exactly once (ids continue past the ledgered id
    instead of restarting at 0 and being dropped as replays)."""
    from mdbloom.sketches.cms import CountMinSketch

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ledger = str(tmp_path / "ledger")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    schema = events.schema
    first = events.where(F.col("event_id") % 2 == 0)
    first.write.mode("overwrite").parquet(src)

    mk = lambda: CountMinSketch(depth=5, width=2048)
    acc = StreamingSketch(mk, CountMinSketch.from_bytes, col="user_id",
                          ledger_path=ledger)
    with pytest.raises(ValueError, match="checkpoint_dir"):
        acc.start(spark.readStream.schema(schema).parquet(src))
    q = acc.start(spark.readStream.schema(schema).parquet(src),
                  checkpoint_dir=ckpt)
    q.awaitTermination(120)
    total_first = acc.sketch.total
    assert total_first == first.count() and acc.last_batch_id >= 0

    # new files arrive; a FRESH accumulator restarts the query from the
    # same checkpoint — batch ids continue, only the new rows merge
    second = events.where(F.col("event_id") % 2 == 1)
    second.write.mode("append").parquet(src)
    acc2 = StreamingSketch(mk, CountMinSketch.from_bytes, col="user_id",
                           ledger_path=ledger)
    assert acc2.sketch.total == total_first  # resumed ledgered state
    q2 = acc2.start(spark.readStream.schema(schema).parquet(src),
                    checkpoint_dir=ckpt)
    q2.awaitTermination(120)
    assert acc2.sketch.total == events.count()  # each row exactly once
    assert acc2.last_batch_id > acc.last_batch_id


def test_append_mode_late_data_within_vs_beyond_watermark(spark, tmp_path):
    """VERDICT r4 item 9, as direct assertions (the q73 oracle pins the
    same semantics): across two availableNow runs sharing a checkpoint,
    a late row whose window is still open (inside the watermark) is
    counted; a late row whose window closed (beyond the watermark) is
    dropped; an open trailing window never reaches the append sink."""
    from mdbloom.spark.streaming import windowed_counts
    base = 1767261600  # 2026-01-01T10:00:00Z
    src, sink, ckpt = [str(tmp_path / d) for d in ("src", "sink", "ck")]

    def stage(rows):
        (spark.createDataFrame(rows, "event_type string, minutes int")
         .select("event_type",
                 F.timestamp_seconds(F.lit(base) + F.col("minutes") * 60)
                 .alias("ts"))
         .coalesce(1).write.mode("append").parquet(src))

    def run_once():
        stream = (spark.readStream
                  .schema("event_type string, ts timestamp").parquet(src))
        agg = windowed_counts(stream, "ts", "event_type",
                              window="10 minutes", watermark="10 minutes")
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(300)

    stage([("A", 0), ("A", 5), ("B", 30), ("B", 35)])
    run_once()  # watermark now 10:25; window 10:00-10:10 closed+emitted
    got1 = {(r.event_type, r.window.start.minute): r.n
            for r in spark.read.parquet(sink).collect()}
    assert got1 == {("A", 0): 2}
    # beyond-watermark D@10:02 dropped; within-watermark L@10:28 counted;
    # F@11:55 advances the final watermark to 11:45 (own window open)
    stage([("D", 2), ("L", 28), ("C", 60), ("F", 115)])
    run_once()
    rows = spark.read.parquet(sink).collect()
    got = {(r.event_type, r.window.start.hour * 60
            + r.window.start.minute): r.n for r in rows}
    assert got == {("A", 600): 2,    # run-1 emission, D never added
                   ("L", 620): 1,    # late WITHIN watermark: counted
                   ("B", 630): 2,
                   ("C", 660): 1}
    assert not any(r.event_type in ("D", "F") for r in rows)
