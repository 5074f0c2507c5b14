"""Streaming incremental mode + multimodal plumbing tests."""

import os

import pyspark.sql.functions as F
import pytest

from entity_linkings_spark.operators import multimodal as M
from entity_linkings_spark.plans.pipeline import LinkagePipeline
from entity_linkings_spark.sources.dictionary import dictionary_token_sets
from entity_linkings_spark.streaming.incremental import (
    incremental_linkage,
    stream_transcripts,
    windowed_mention_counts,
)


def test_incremental_linkage_foreachbatch(spark, tiny, tiny_paths, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    # split the tiny transcripts into two "arriving" files
    t = tiny["transcripts"]
    t.where(F.col("conv_id") < "conv-000025").write.parquet(src + "/part1")
    t.where(F.col("conv_id") >= "conv-000025").write.parquet(src + "/part2")
    # flatten: file source wants files in one dir
    import glob, shutil
    for i, f in enumerate(glob.glob(src + "/part*/*.parquet")):
        shutil.move(f, src + f"/file{i}.parquet")
    for d in glob.glob(src + "/part*"):
        shutil.rmtree(d)

    pipe = LinkagePipeline(tiny["dictionary"])
    stream = stream_transcripts(spark, src, max_files=1)
    sink, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = incremental_linkage(stream, pipe, sink, ckpt).start()
    q.awaitTermination(300)

    out = spark.read.parquet(sink)
    assert out.count() == 286  # every tiny mention arrived incrementally
    assert out.select("epoch_id").distinct().count() >= 2  # multiple batches
    # restart with no new files -> no duplicates (checkpointed progress)
    q2 = incremental_linkage(stream_transcripts(spark, src, 1), pipe, sink, ckpt).start()
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 286


def test_sessionized_linkage_two_layers_end_to_end(spark, tiny, tmp_path):
    """VERDICT r2 item 8: stateful sessionization (applyInPandasWithState)
    COMPOSED with the foreachBatch linkage path — closed sessions drive
    per-session mention extraction + resolution, with epoch replay safety."""
    from entity_linkings_spark.streaming.incremental import (
        session_batch_processor,
        sessionized_linkage,
    )

    t0 = 1735725600000  # 2025-01-01 10:00 UTC, ms
    MIN = 60_000
    # one conversation, two sessions: turns 5 min apart, then a 3-hour gap
    # (>> the 30-min session gap) closes session 1 inside the first batch
    from pyspark.sql import Window

    conv = tiny["transcripts"].orderBy("conv_id", "turn_idx").limit(6)
    turns = conv.withColumn(
        "rn",
        F.row_number().over(Window.orderBy("conv_id", "turn_idx")) - 1,
    ).withColumn(
        "ts",
        F.timestamp_millis(
            F.lit(t0)
            + F.col("rn") * 5 * MIN
            + F.when(F.col("rn") >= 3, 180 * MIN).otherwise(0)
        ),
    ).drop("rn")
    src = str(tmp_path / "sess_in")
    turns.coalesce(1).write.parquet(src)

    pipe = LinkagePipeline(tiny["dictionary"])
    sink, ckpt = str(tmp_path / "sess_out"), str(tmp_path / "sess_ckpt")
    stream = stream_transcripts(spark, src, max_files=1)
    q = sessionized_linkage(
        stream, pipe, src, sink, ckpt, gap_ms=30 * MIN, watermark="10 minutes"
    ).start()
    q.awaitTermination(300)

    out = spark.read.parquet(sink)
    rows = out.collect()
    assert len(rows) > 0  # session 1 closed in-batch and was resolved
    # every emitted mention is tagged with session 1's id and belongs to the
    # first three turns (session 2 is still open in state, not emitted)
    conv_id = turns.select("conv_id").first()[0]
    assert {r["session_id"] for r in rows} == {f"{conv_id}:{t0}"}
    assert all(r["turn_idx"] <= 2 for r in rows)
    assert all(r["entity_id"] is not None for r in rows)

    # replay safety at the composed layer: re-running an epoch's session
    # batch overwrites its partition instead of appending duplicates
    sess_batch = spark.createDataFrame(
        [(conv_id, t0, t0 + 10 * MIN, 3)],
        "user_id string, session_start_ms long, session_end_ms long, n_events long",
    )
    process = session_batch_processor(pipe, src, sink)
    process(sess_batch, 99)
    n1 = spark.read.parquet(sink).count()
    process(sess_batch, 99)  # replay the SAME epoch
    assert spark.read.parquet(sink).count() == n1


def test_windowed_mention_counts(spark, tiny, tmp_path):
    toks = dictionary_token_sets(tiny["dictionary"])[0]
    src = str(tmp_path / "in2")
    tiny["transcripts"].write.parquet(src)
    stream = stream_transcripts(spark, src)
    agg = windowed_mention_counts(stream, None, toks[:40])
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wmc")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # append mode only emits closed windows; assert the plan ran and the
    # state schema is right rather than exact counts
    df = spark.sql("select * from wmc")
    assert df.columns == ["window", "token", "n"]


def test_multimodal_features_and_frames(spark):
    assets = M.synthetic_assets(spark, 30)
    feats = M.extract_features(assets).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["features"]) == M.FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r["features"])
    # determinism
    feats2 = M.extract_features(M.synthetic_assets(spark, 30)).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))
    # frame sampling: only videos, duration 4000ms @1000ms -> 4 frames
    frames = M.sample_frames(assets).groupBy("asset_id").count().collect()
    assert all(r["count"] == 4 for r in frames)
    assert len(frames) == 10  # 30 assets, kind cycle -> 10 videos


def test_real_decoders_and_stub_boundary(spark):
    assets = M.synthetic_assets(spark, 12)
    feats = M.extract_features(assets, real_decode=False)
    by_kind: dict[str, set] = {}
    for r in feats.collect():
        by_kind.setdefault(r["kind"], set()).add(r["decoder"])
    # stdlib-decodable formats decode FOR REAL (images alternate PPM/BMP,
    # videos alternate real uncompressed-DIB AVI and the fake fallback)
    assert by_kind == {"image": {"ppm", "bmp"}, "audio": {"wav"}, "video": {"avi", "fake"}}
    # with real_decode=True every real container still succeeds...
    ok = M.extract_features(
        assets.where("kind != 'video'"), real_decode=True
    ).collect()
    assert {r["decoder"] for r in ok} == {"ppm", "bmp", "wav"}
    # ...and the containerless payloads (the md5-stream videos) fail loudly
    # at the marked swap-in site
    with pytest.raises(Exception, match="NotImplementedError|no codec"):
        M.extract_features(assets.where("kind = 'video'"), real_decode=True).collect()


def test_ppm_roundtrip_and_resize(spark):
    import numpy as np

    arr = np.arange(48 * 64 * 3, dtype=np.uint32).reshape(48, 64, 3) % 256
    arr = arr.astype(np.uint8)
    assert (M.decode_ppm(M.encode_ppm(arr)) == arr).all()
    # raster starting with a whitespace byte must survive (header parse uses
    # exactly one terminator char)
    tricky = np.full((2, 2, 3), 0x20, np.uint8)
    assert (M.decode_ppm(M.encode_ppm(tricky)) == tricky).all()
    # constant image stays constant under block-mean resize
    const = np.full((48, 64, 3), 77, np.uint8)
    assert (M.block_mean_resize(const, 16, 12) == 77).all()
    assets = M.synthetic_assets(spark, 9)
    out = M.resize_images(assets, 16, 12).collect()
    assert len(out) == 3  # only the images
    formats = set()
    for r in out:
        b = bytes(r["payload"])
        dec = M.decode_ppm(b) if b.startswith(b"P6") else M.decode_bmp(b)
        formats.add(b[:2])
        assert dec.shape == (12, 16, 3)
    assert formats == {b"P6", b"BM"}  # resize re-encodes in the source format


def test_bmp_roundtrip_padding_and_topdown():
    import struct

    import numpy as np

    # w=3 -> stride 12 with 3 pad bytes per row: padding must round-trip
    arr = (np.arange(5 * 3 * 3, dtype=np.uint32) % 256).astype(np.uint8).reshape(5, 3, 3)
    assert (M.decode_bmp(M.encode_bmp(arr)) == arr).all()
    # top-down variant (negative height) decodes to the same image
    enc = bytearray(M.encode_bmp(arr))
    h = struct.unpack_from("<i", enc, 22)[0]
    struct.pack_into("<i", enc, 22, -h)
    off = struct.unpack_from("<I", enc, 10)[0]
    stride = (3 * 3 + 3) // 4 * 4
    rows = [bytes(enc[off + y * stride : off + (y + 1) * stride]) for y in range(h)]
    enc[off:] = b"".join(reversed(rows))
    assert (M.decode_bmp(bytes(enc)) == arr).all()
    # loud failure on unsupported bpp
    bad = bytearray(M.encode_bmp(arr))
    struct.pack_into("<H", bad, 28, 8)
    with pytest.raises(ValueError, match="unsupported BMP"):
        M.decode_bmp(bytes(bad))


def test_wav_roundtrip():
    import numpy as np

    x = (np.sin(np.arange(4000) / 7.0) * 20000).astype(np.int16)
    sr, back = M.decode_wav(M.encode_wav(x, 16000))
    assert sr == 16000 and (back == x).all()


def test_epoch_replay_is_idempotent(spark, tiny, tmp_path):
    """A replayed epoch (failure after write, before checkpoint commit) must
    rewrite its partition, not append duplicates — the dynamic-partition-
    overwrite foreachBatch pattern."""
    from entity_linkings_spark.plans.pipeline import LinkagePipeline
    from entity_linkings_spark.streaming.incremental import batch_processor

    pipe = LinkagePipeline(tiny["dictionary"])
    sink = str(tmp_path / "sink")
    process = batch_processor(pipe, sink)
    batch = tiny["transcripts"].limit(50)
    process(batch, 7)
    n1 = spark.read.parquet(sink).count()
    process(batch, 7)  # replay the SAME epoch
    out = spark.read.parquet(sink)
    assert out.count() == n1  # no duplicates
    # a different epoch with different data appends alongside
    process(tiny["transcripts"].limit(80), 8)
    assert set(r["epoch_id"] for r in out.select("epoch_id").distinct().collect()) <= {7, 8}
    assert spark.read.parquet(sink).where("epoch_id = 7").count() == n1


def test_epochs_hold_persisted_rdds_flat(spark, tiny, tmp_path):
    """Epochs through one pipeline leave no persisted RDD behind: each epoch
    unpersists the mentions it cached, and the pipeline's dictionary state is
    built once. RDDs are compared by id, since the context cleaner may drop
    other tests' RDDs at any time."""
    from entity_linkings_spark.streaming.incremental import batch_processor

    process = batch_processor(LinkagePipeline(tiny["dictionary"]), str(tmp_path / "sink"))
    convs = sorted(r[0] for r in tiny["transcripts"].select("conv_id").distinct().collect())

    def persisted_after(epoch):
        process(tiny["transcripts"].where(F.col("conv_id").isin(convs[epoch::4])), epoch)
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    after_first = persisted_after(0)
    for epoch in range(1, 4):
        ids = persisted_after(epoch)
        assert ids <= after_first, f"epoch {epoch} left RDDs {ids - after_first} persisted"


def _quarters(tiny):
    convs = sorted(r[0] for r in tiny["transcripts"].select("conv_id").distinct().collect())
    return [tiny["transcripts"].where(F.col("conv_id").isin(convs[q::4])) for q in range(4)]


def test_epochs_derive_dictionary_state_once(tiny, tmp_path, monkeypatch):
    """Stream epochs reuse the pipeline's token sets and prior table."""
    from entity_linkings_spark.operators import prior as P
    from entity_linkings_spark.plans import pipeline
    from entity_linkings_spark.streaming.incremental import batch_processor

    calls = []

    def spy(mod, name):
        real = getattr(mod, name)
        monkeypatch.setattr(mod, name, lambda *a, **k: calls.append(name) or real(*a, **k))

    spy(pipeline, "dictionary_token_sets")
    spy(P, "prior_table")
    pipe = LinkagePipeline(tiny["dictionary"])
    process = batch_processor(pipe, str(tmp_path / "sink"))
    try:
        for epoch, turns in enumerate(_quarters(tiny)[:3]):
            process(turns, epoch)
    finally:
        pipe.close()
    assert sorted(calls) == ["dictionary_token_sets", "prior_table"]


def test_failed_epoch_releases_its_mentions(spark, tiny, tmp_path, monkeypatch):
    """A sink write that raises after the epoch's mentions were computed
    still unpersists them."""
    from pyspark.sql import DataFrameWriter

    from entity_linkings_spark.streaming.incremental import batch_processor

    pipe = LinkagePipeline(tiny["dictionary"])
    process = batch_processor(pipe, str(tmp_path / "sink"))
    first, second = _quarters(tiny)[:2]
    process(first, 0)  # builds the pipeline's own state
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def failing_write(writer, path, *a, **k):
        writer._df.count()  # the epoch's plan, mentions included, runs
        raise RuntimeError("sink unavailable")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    with pytest.raises(RuntimeError, match="sink unavailable"):
        process(second, 1)
    left = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - before
    assert not left, f"the failed epoch left RDDs {left} persisted"
    pipe.close()


def test_sniffed_but_undecodable_falls_back_not_crashes(spark):
    """A payload that LOOKS like a known format but cannot decode (unsupported
    bpp, truncated raster, a fake payload starting 'BM') must honor the module
    contract: fake fallback under real_decode=False, loud failure under
    real_decode=True, silent drop in resize."""
    import struct

    import numpy as np

    good = M.encode_bmp(np.zeros((2, 2, 3), np.uint8))
    bad_bpp = bytearray(good)
    struct.pack_into("<H", bad_bpp, 28, 32)  # 32-bit BMP: unsupported
    rows = [
        ("a-bad-bmp", "image", bytes(bad_bpp), None),
        ("a-trunc-ppm", "image", b"P6\n8 8\n255\nxx", None),
        ("a-bm-prefix", "video", b"BMnot really a bitmap", None),
    ]
    df = spark.createDataFrame(rows, M.ASSET_SCHEMA)
    feats = {r["asset_id"]: r["decoder"] for r in M.extract_features(df).collect()}
    assert feats == {"a-bad-bmp": "fake", "a-trunc-ppm": "fake", "a-bm-prefix": "fake"}
    with pytest.raises(Exception, match="unsupported BMP|ValueError"):
        M.extract_features(df.where("asset_id = 'a-bad-bmp'"), real_decode=True).collect()
    assert M.resize_images(df, 4, 4).count() == 0  # dropped, not crashed


def test_stream_epoch_matches_batch_pipeline_row_for_row(spark, tiny, tmp_path):
    """VERDICT r3 item 7: value-check the streaming path against the batch
    pipeline on the SAME slice — the sessionized stream's resolved output
    for a closed session must equal the full batch pipeline run over that
    session's member turns, row for row on every shared column (the batch
    side is the oracle-gated flagship; cluster ids are excluded — the
    stream's within-batch clusters are trivial by design)."""
    from pyspark.sql import Window

    from entity_linkings_spark.streaming.incremental import sessionized_linkage

    t0 = 1735725600000  # 2025-01-01 10:00 UTC, ms
    MIN = 60_000
    conv = tiny["transcripts"].orderBy("conv_id", "turn_idx").limit(6)
    turns = conv.withColumn(
        "rn", F.row_number().over(Window.orderBy("conv_id", "turn_idx")) - 1
    ).withColumn(
        "ts",
        F.timestamp_millis(
            F.lit(t0)
            + F.col("rn") * 5 * MIN
            + F.when(F.col("rn") >= 3, 180 * MIN).otherwise(0)
        ),
    ).drop("rn")
    src = str(tmp_path / "rb_in")
    turns.coalesce(1).write.parquet(src)

    pipe = LinkagePipeline(tiny["dictionary"])
    sink, ckpt = str(tmp_path / "rb_out"), str(tmp_path / "rb_ckpt")
    q = sessionized_linkage(
        stream_transcripts(spark, src, max_files=1), pipe, src, sink, ckpt,
        gap_ms=30 * MIN, watermark="10 minutes",
    ).start()
    q.awaitTermination(300)

    cols = ["conv_id", "turn_idx", "start", "end", "mention", "mention_id",
            "entity_id", "score"]
    streamed = spark.read.parquet(sink).select(*cols)

    # the batch side on the identical slice: session 1's member turns
    member = spark.read.parquet(src).where(F.col("turn_idx") <= 2)
    batch = pipe.run(member)["resolved_mentions"].select(*cols)

    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert len(s_rows) > 0
    assert s_rows == b_rows


def test_stream_dedup_exact_bounded_state(spark, tiny, tmp_path):
    """Streaming exact dedup keeps one row per normalized text hash across
    micro-batches, with watermark-bounded state
    (dropDuplicatesWithinWatermark)."""
    from entity_linkings_spark.streaming.incremental import (
        stream_dedup_exact,
        stream_transcripts,
    )

    src = str(tmp_path / "dd_in")
    os.makedirs(src)
    base = tiny["transcripts"].limit(40).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    # file 1: the base turns; file 2: the SAME texts under new conv ids
    # (cross-batch duplicates) plus 5 genuinely new texts
    base.coalesce(1).write.parquet(src + "/f1")
    dup = base.limit(20).withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("-dup")))
    fresh = tiny["transcripts"].orderBy(F.desc("conv_id"), F.desc("turn_idx")).limit(5)
    dup.unionByName(fresh.select(*base.columns)).coalesce(1).write.parquet(src + "/f2")
    import glob, shutil
    for i, f in enumerate(sorted(glob.glob(src + "/f*/*.parquet"))):
        shutil.move(f, src + f"/file{i}.parquet")
    for d in glob.glob(src + "/f1") + glob.glob(src + "/f2"):
        shutil.rmtree(d)

    out = stream_dedup_exact(stream_transcripts(spark, src, max_files=1))
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("sdd")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select text_hash, count(*) n from sdd group by 1").collect()
    distinct_texts = (
        base.select("text").unionByName(fresh.select("text")).distinct().count()
    )
    assert len(got) == distinct_texts     # one survivor per distinct text
    assert all(r["n"] == 1 for r in got)  # never a duplicate emission


def test_avi_roundtrip_and_real_frame_sampling(spark):
    """The RIFF/AVI container decodes FOR REAL (uncompressed DIB frames):
    encode->decode is exact, sample_frames extracts the true frames
    re-encoded as standalone BMPs, and compressed codecs stay behind the
    loud boundary."""
    import numpy as np

    frames = [np.full((12, 16, 3), 17 * (k + 1), np.uint8) for k in range(4)]
    payload = M.encode_avi(frames, fps=1)
    fps, out = M.decode_avi(payload)
    assert fps == 1 and len(out) == 4
    assert all(np.array_equal(a, b) for a, b in zip(frames, out))

    assets = spark.createDataFrame(
        [("v0", "video", bytearray(payload),
          {"width": None, "height": None, "sample_rate": None, "duration_ms": 4000})],
        M.ASSET_SCHEMA,
    )
    sampled = M.sample_frames(assets, every_ms=1000).collect()
    assert len(sampled) == 4
    for r in sampled:
        # each sampled frame is a REAL standalone BMP of the source frame
        arr = M.decode_bmp(bytes(r["frame_payload"]))
        assert np.array_equal(arr, frames[r["frame_idx"]])

    # features flow through the real path
    f = M.extract_features(assets, real_decode=True).collect()[0]
    assert f["decoder"] == "avi" and len(f["features"]) == M.FEATURE_DIM

    # a compressed-codec AVI is refused loudly under real_decode and falls
    # back to the fake otherwise
    mjpg = payload.replace(b"DIB ", b"MJPG", 1)
    bad = spark.createDataFrame(
        [("v1", "video", bytearray(mjpg),
          {"width": None, "height": None, "sample_rate": None, "duration_ms": 1000})],
        M.ASSET_SCHEMA,
    )
    assert M.extract_features(bad).collect()[0]["decoder"] == "fake"
    with pytest.raises(Exception, match="unsupported AVI video codec"):
        M.extract_features(bad, real_decode=True).collect()
    # sniffed-but-undecodable also keeps the fake FRAME fallback
    assert len(M.sample_frames(bad, every_ms=1000).collect()) == 1


def test_cross_epoch_cluster_maintenance(spark, tmp_path):
    """The streaming label table (apply_edge_epoch): edges folded in epoch
    by epoch equal a full CC recompute over everything seen; replaying an
    epoch is a no-op (idempotent under foreachBatch retry); the CURRENT
    pointer always reads a committed table."""
    from entity_linkings_spark.operators.clustering import connected_components
    from entity_linkings_spark.streaming.incremental import (
        apply_edge_epoch,
        read_cluster_labels,
    )

    labels_dir = str(tmp_path / "labels")
    assert read_cluster_labels(spark, labels_dir) is None

    epochs = [
        [("a", "b"), ("c", "d")],
        [("b", "c"), ("x", "y")],          # merges {a,b} with {c,d}; fresh pair
        [("d", "e"), ("x", "x2"), ("a", "b")],  # grow + grow + replayed edge
    ]
    for i, es in enumerate(epochs):
        apply_edge_epoch(
            labels_dir, spark.createDataFrame(es, "u string, v string"), i
        )
    got = {r["node"]: r["cluster_id"]
           for r in read_cluster_labels(spark, labels_dir).collect()}
    full = {r["node"]: r["cluster_id"] for r in connected_components(
        spark.createDataFrame(
            [e for es in epochs for e in es], "u string, v string"
        )
    ).collect()}
    assert got == full == {
        "a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
        "x": "x", "y": "x", "x2": "x",
    }

    # retry/replay of the last epoch AFTER commit: pure no-op
    apply_edge_epoch(
        labels_dir, spark.createDataFrame(epochs[-1], "u string, v string"), 2
    )
    again = {r["node"]: r["cluster_id"]
             for r in read_cluster_labels(spark, labels_dir).collect()}
    assert again == full
    assert (tmp_path / "labels" / "CURRENT").read_text() == "epoch-2"

    # crash-before-swap replay: epoch 3 lands, the pointer is rolled back to
    # epoch-2 (simulating a crash between parquet write and commit), and the
    # replayed epoch recomputes from epoch-2 to the same final labels
    e3 = [("y", "z"), ("e", "f")]
    apply_edge_epoch(labels_dir, spark.createDataFrame(e3, "u string, v string"), 3)
    (tmp_path / "labels" / "CURRENT").write_text("epoch-2")
    apply_edge_epoch(labels_dir, spark.createDataFrame(e3, "u string, v string"), 3)
    final = {r["node"]: r["cluster_id"]
             for r in read_cluster_labels(spark, labels_dir).collect()}
    assert final == {r["node"]: r["cluster_id"] for r in connected_components(
        spark.createDataFrame(
            [e for es in epochs for e in es] + e3, "u string, v string"
        )
    ).collect()}
    assert (tmp_path / "labels" / "CURRENT").read_text() == "epoch-3"


def test_streaming_cluster_maintenance_end_to_end(spark, tiny, tmp_path):
    """clustering_maintenance_processor as a real foreachBatch sink: the
    cross-epoch label table folded micro-batch by micro-batch equals one
    batch CC over every edge ever streamed — surfaces arriving in DIFFERENT
    epochs still merge (via their shared normalized-form node), which the
    old per-batch _trivial_clusters could never do."""
    import glob
    import shutil

    from entity_linkings_spark.functions.strings import norm_alnum
    from entity_linkings_spark.operators.clustering import connected_components
    from entity_linkings_spark.streaming.incremental import (
        clustering_maintenance_processor,
        read_cluster_labels,
        stream_transcripts,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    t = tiny["transcripts"]
    t.where(F.col("conv_id") < "conv-000025").write.parquet(src + "/part1")
    t.where(F.col("conv_id") >= "conv-000025").write.parquet(src + "/part2")
    for i, f in enumerate(glob.glob(src + "/part*/*.parquet")):
        shutil.move(f, src + f"/file{i}.parquet")
    for d in glob.glob(src + "/part*"):
        shutil.rmtree(d)

    pipe = LinkagePipeline(tiny["dictionary"])

    def edge_fn(batch):
        surf = pipe.surfaces(pipe.mentions(batch))
        return surf.select(
            F.col("skey").alias("u"),
            F.concat(F.lit("n:"), norm_alnum(F.col("surface"))).alias("v"),
        )

    labels_dir = str(tmp_path / "labels")
    q = (
        stream_transcripts(spark, src, max_files=1)
        .writeStream.foreachBatch(
            clustering_maintenance_processor(labels_dir, edge_fn)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {r["node"]: r["cluster_id"]
           for r in read_cluster_labels(spark, labels_dir).collect()}
    full = {r["node"]: r["cluster_id"]
            for r in connected_components(edge_fn(t)).collect()}
    assert got == full and len(got) > 0


def test_vector_epoch_index_maintenance(spark, tmp_path):
    """apply_vector_epoch: an ANN index grown epoch by epoch (codebook
    frozen at epoch 0, arrivals appended) searches identically to one
    assignment pass of every vector against that same codebook; a replayed
    epoch is a no-op, so no vector is ever double-appended."""
    import pyspark.sql.functions as FF

    from entity_linkings_spark.operators.similarity import ivf_append, ivf_search
    from entity_linkings_spark.streaming.incremental import apply_vector_epoch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    epochs = [emb.where(FF.col("vec_id") % 3 == i) for i in range(3)]
    idx = str(tmp_path / "ann")
    for i, d in enumerate(epochs):
        cent_ids, cmat, lists = apply_vector_epoch(idx, d, i, num_centroids=16)
    # replay the last epoch: must short-circuit (no duplicate residents)
    c2, m2, lists = apply_vector_epoch(idx, epochs[-1], 2, num_centroids=16)
    assert lists.groupBy("list_id", "neighbor_id").count().where(
        FF.col("count") > 1).count() == 0
    # replay of an OLDER epoch must ALSO no-op on the committed table
    # (ADVICE r5: re-appending epoch 1's vectors onto the grown lists
    # would silently duplicate residents)
    n_before = lists.count()
    _, _, lists_old = apply_vector_epoch(idx, epochs[1], 1, num_centroids=16)
    assert lists_old.count() == n_before
    assert lists_old.groupBy("list_id", "neighbor_id").count().where(
        FF.col("count") > 1).count() == 0
    # full assignment of everything against the SAME (epoch-0) codebook
    full = ivf_append(cent_ids, cmat, lists.where(FF.lit(False)), emb)
    q = emb.where(FF.col("vec_id") % 25 == 0)
    got = {tuple(r) for r in ivf_search(q, c2, m2, lists, k=5).collect()}
    want = {tuple(r) for r in ivf_search(q, cent_ids, cmat, full, k=5).collect()}
    assert got == want and len(got) > 0


def test_streaming_index_epochs_end_to_end(spark, tmp_path):
    """apply_vector_epoch behind a REAL StreamingQuery: embedding files
    arrive one per micro-batch, the index grows epoch by epoch, and the
    final committed index equals one assignment pass of every vector
    against the frozen epoch-0 codebook; a checkpointed restart with no
    new files changes nothing."""
    import glob
    import shutil

    import pyspark.sql.functions as FF

    from entity_linkings_spark.operators.similarity import ivf_append, ivf_search
    from entity_linkings_spark.streaming.incremental import (
        apply_vector_epoch,
        read_vector_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "in")
    os.makedirs(src)
    emb.where(FF.col("vec_id") % 2 == 0).coalesce(1).write.parquet(src + "/a")
    emb.where(FF.col("vec_id") % 2 == 1).coalesce(1).write.parquet(src + "/b")
    for i, f in enumerate(sorted(glob.glob(src + "/[ab]/*.parquet"))):
        shutil.move(f, src + f"/file{i}.parquet")
    for d in (src + "/a", src + "/b"):
        shutil.rmtree(d)

    idx = str(tmp_path / "ann")

    def process(batch, epoch_id):
        if batch.isEmpty():
            return
        apply_vector_epoch(idx, batch, epoch_id, num_centroids=16)

    def run_stream():
        return (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    run_stream().awaitTermination(300)
    cent_ids, cmat, lists = read_vector_index(idx, spark)
    n1 = lists.count()
    assert lists.groupBy("list_id", "neighbor_id").count().where(
        FF.col("count") > 1).count() == 0
    full = ivf_append(cent_ids, cmat, lists.where(FF.lit(False)), emb)
    q = emb.where(FF.col("vec_id") % 25 == 0)
    got = {tuple(r) for r in ivf_search(q, cent_ids, cmat, lists, k=5).collect()}
    want = {tuple(r) for r in ivf_search(q, cent_ids, cmat, full, k=5).collect()}
    assert got == want and len(got) > 0

    # restart with nothing new: checkpoint prevents re-processing
    run_stream().awaitTermination(120)
    _, _, lists2 = read_vector_index(idx, spark)
    assert lists2.count() == n1


def test_vector_epoch_histogram_triggered_rebalance(spark, tmp_path):
    """apply_vector_epoch with max_list_size: a skewed arrival epoch fattens
    the anchor-nearest lists past the cap, the epoch runs ivf_rebalance
    BEFORE committing, the updated codebook lands under codebook-<epoch>
    ahead of the CURRENT swap, and every later consumer — replay,
    read_vector_index, the next epoch's append — resolves the override."""
    import os

    import pyspark.sql.functions as FF

    from entity_linkings_spark.streaming.incremental import (
        apply_vector_epoch,
        read_vector_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where(FF.col("vec_id") % 3 == 0)
    anchor = emb.orderBy("vec_id").first()["embedding"]
    alit = FF.array(*[FF.lit(float(x)) for x in anchor])
    skew = emb.where(FF.col("vec_id") % 3 == 1).select(
        "vec_id",
        FF.zip_with(alit, "embedding", lambda a, b: a * 0.95 + b * 0.05)
        .alias("embedding"),
    )
    tail = emb.where(FF.col("vec_id") % 3 == 2)
    idx = str(tmp_path / "ann")
    kw = dict(num_centroids=16, max_list_size=40, target_list_size=20)
    c0, m0, l0 = apply_vector_epoch(idx, base, 0, **kw)
    assert not os.path.isdir(os.path.join(idx, "codebook-epoch-0"))  # no skew yet
    c1, m1, l1 = apply_vector_epoch(idx, skew, 1, **kw)
    # the skewed epoch split: override committed, cap restored, no rows lost
    assert os.path.isdir(os.path.join(idx, "codebook-epoch-1"))
    sizes = {r["list_id"]: r["n"] for r in
             l1.groupBy("list_id").agg(FF.count("*").alias("n")).collect()}
    assert max(sizes.values()) <= 40
    assert l1.count() == l0.count() + 2 * skew.count()  # assign_lists=2
    assert len(c1) > len(c0)  # sub-centroids joined the codebook
    # replay of the rebalanced epoch returns the REBALANCED codebook
    cr, mr, lr = apply_vector_epoch(idx, skew, 1, **kw)
    assert list(cr) == list(c1) and lr.count() == l1.count()
    # read_vector_index resolves the override too
    ci, mi, li = read_vector_index(idx, spark)
    assert list(ci) == list(c1)
    # the next epoch appends against the rebalanced codebook — and the
    # size invariant HOLDS ACROSS EPOCHS: any list the new arrivals push
    # past the cap is split again before that epoch commits
    c2, m2, l2 = apply_vector_epoch(idx, tail, 2, **kw)
    assert l2.count() == l1.count() + 2 * tail.count()
    sizes2 = {r["list_id"]: r["n"] for r in
              l2.groupBy("list_id").agg(FF.count("*").alias("n")).collect()}
    assert max(sizes2.values()) <= 40
    assert set(int(x) for x in l2.select("list_id").distinct().toPandas()
               ["list_id"]) <= set(int(x) for x in c2)


def test_append_only_epoch_preserves_rebalanced_codebook(spark, tmp_path):
    """ADVICE r6 (high): epoch 1 rebalances and commits codebook-epoch-1;
    epoch 2 is PURE APPEND (no cap) and commits no override of its own.
    The resolver must pick the newest override at-or-below the requested
    epoch — exact-name matching made the first append-only epoch after a
    rebalance revert read_vector_index and every later epoch's append to
    the stale base codebook (sub-lists unprobeable, split parents
    silently re-populated)."""
    import os

    import pyspark.sql.functions as FF

    from entity_linkings_spark.streaming.incremental import (
        apply_vector_epoch,
        read_vector_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where(FF.col("vec_id") % 4 == 0)
    anchor = emb.orderBy("vec_id").first()["embedding"]
    alit = FF.array(*[FF.lit(float(x)) for x in anchor])
    skew = emb.where(FF.col("vec_id") % 4 == 1).select(
        "vec_id",
        FF.zip_with(alit, "embedding", lambda a, b: a * 0.95 + b * 0.05)
        .alias("embedding"),
    )
    t2 = emb.where(FF.col("vec_id") % 4 == 2)
    t3 = emb.where(FF.col("vec_id") % 4 == 3)
    idx = str(tmp_path / "ann")
    kw = dict(num_centroids=16, max_list_size=40, target_list_size=20)
    apply_vector_epoch(idx, base, 0, **kw)
    c1, m1, l1 = apply_vector_epoch(idx, skew, 1, **kw)
    assert os.path.isdir(os.path.join(idx, "codebook-epoch-1"))
    # epoch 2: NO max_list_size -> pure append, commits no codebook
    c2, m2, l2 = apply_vector_epoch(idx, t2, 2, num_centroids=16)
    assert not os.path.isdir(os.path.join(idx, "codebook-epoch-2"))
    # a reader of the committed epoch-2 resolves epoch-1's override
    ci, mi, li = read_vector_index(idx, spark)
    assert list(ci) == list(c1)
    assert li.count() == l1.count() + 2 * t2.count()
    # ...and epoch 3's append assigns against the override too: every
    # list id in the committed table is one the REBALANCED codebook knows
    c3, m3, l3 = apply_vector_epoch(idx, t3, 3, num_centroids=16)
    assert list(c3) == list(c1)
    got_lids = {int(r["list_id"])
                for r in l3.select("list_id").distinct().collect()}
    assert got_lids <= {int(x) for x in c1}


def test_substring_epoch_equals_prefix_model_and_replays(spark, tmp_path):
    """apply_substring_epoch over 3 epochs == the pure-Python PREFIX model
    (each doc cut against everything that arrived before it), including a
    cross-epoch quote pair; a replay of an already-committed epoch serves
    the committed output instead of re-cutting docs against their own
    stored grams."""
    import random

    from entity_linkings_spark.streaming.incremental import (
        apply_substring_epoch,
        read_gram_store,
    )
    from tests.test_properties import substring_cut_prefix_py

    rng = random.Random(11)
    docs = {}
    for d in range(1, 31):
        docs[d] = [f"u{d}_{j}" for j in range(rng.randint(12, 30))]
    quote = [f"q{i}" for i in range(12)]
    # cross-epoch pair: doc 4 (epoch 0) holds the quote first, doc 27
    # (epoch 2) repeats it; intra-epoch pair: docs 12 and 18 (epoch 1)
    for d, off in ((4, 3), (27, 7), (12, 0), (18, 5)):
        docs[d] = docs[d][:off] + quote + docs[d][off:]
    texts = {d: " ".join(w) for d, w in docs.items()}
    store = str(tmp_path / "grams")
    epochs = [range(1, 11), range(11, 21), range(21, 31)]
    got = {}
    for e, ids in enumerate(epochs):
        df = spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        )
        out = apply_substring_epoch(store, df, e, k=3, min_len=8)
        got.update({r["doc_id"]: r["text"] for r in out.collect()})
    want = substring_cut_prefix_py(texts, k=3, min_len=8)
    assert got == want
    # the quote survives ONLY in its earliest holder
    assert "q0" in got[4] and all("q0" not in got[d] for d in (12, 18, 27))
    # replay epoch 1: identical committed output, store untouched
    df1 = spark.createDataFrame(
        [(d, texts[d]) for d in epochs[1]], "doc_id long, text string"
    )
    replay = {r["doc_id"]: r["text"]
              for r in apply_substring_epoch(store, df1, 1, k=3, min_len=8).collect()}
    assert replay == {d: got[d] for d in epochs[1]}
    n_grams = read_gram_store(spark, store).count()
    apply_substring_epoch(store, df1, 1, k=3, min_len=8)
    assert read_gram_store(spark, store).count() == n_grams


def test_gram_store_compaction_preserves_semantics(spark, tmp_path):
    """compact_gram_store folds the epoch deltas into one base: the reader
    view is unchanged row-for-row, folded dirs are gone, a stray
    at-or-below-base delta (the crash-between-swap-and-delete window) is
    ignored, and later epochs keep composing against the compacted base."""
    import os
    import random

    from entity_linkings_spark.streaming.incremental import (
        apply_substring_epoch,
        compact_gram_store,
        read_gram_store,
    )

    rng = random.Random(5)
    texts = {d: " ".join(f"u{d}_{j}" for j in range(rng.randint(12, 25)))
             for d in range(1, 25)}
    quote = " ".join(f"q{i}" for i in range(12))
    texts[3] = quote + " " + texts[3]
    texts[22] = texts[22] + " " + quote       # epoch-2 repeat of epoch-0 text
    store = str(tmp_path / "grams")
    for e, ids in enumerate((range(1, 9), range(9, 17), range(17, 25))):
        df = spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        )
        apply_substring_epoch(store, df, e, k=3, min_len=8)
    before = {(r["h"], r["gm"]) for r in read_gram_store(spark, store).collect()}
    assert compact_gram_store(store, spark) == 3
    assert {(r["h"], r["gm"]) for r in read_gram_store(spark, store).collect()} == before
    assert not any(d.startswith("grams-epoch-") for d in os.listdir(store))
    assert os.path.isdir(os.path.join(store, "grams-base-2"))
    # crash window: a stray delta at or below the base must be ignored
    spark.createDataFrame([("deadbeef", 999)], "h string, gm long").write.parquet(
        os.path.join(store, "grams-epoch-1")
    )
    assert {(r["h"], r["gm"]) for r in read_gram_store(spark, store).collect()} == before
    # idempotent: nothing further to fold (the stray is below base)
    assert compact_gram_store(store, spark) == 0
    # epoch 3 composes against the compacted base: a repeat of doc 3's
    # quote arriving now is still cut
    d4 = spark.createDataFrame(
        [(30, quote + " " + " ".join(f"z{j}" for j in range(15)))],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"]
           for r in apply_substring_epoch(store, d4, 3, k=3, min_len=8).collect()}
    assert "q0" not in out[30] and "z0" in out[30]


def _neardup_corpus():
    """30 docs / 3 epochs with planted near-dup pairs: cross-epoch (2<->24:
    one word changed; 7<->15: two words changed), in-batch (11<->13), and a
    3-doc cluster spanning all epochs (5, 16, 28) — every planted pair has
    word-3-shingle Jaccard >= 0.5, everything else is unique vocabulary."""
    import random

    rng = random.Random(23)
    texts = {d: " ".join(f"w{d}_{j}" for j in range(rng.randint(15, 22)))
             for d in range(1, 31)}
    base = " ".join(f"b{j}" for j in range(20))
    texts[2] = base
    texts[24] = base.replace("b7", "x7")                     # 1 word changed
    texts[7] = " ".join(f"c{j}" for j in range(30))
    texts[15] = texts[7].replace("c4", "y4").replace("c12", "y12")
    texts[11] = " ".join(f"d{j}" for j in range(16))
    texts[13] = texts[11].replace("d9", "z9")
    tri = " ".join(f"t{j}" for j in range(19))
    texts[5], texts[16], texts[28] = tri, tri.replace("t2", "u2"), tri
    return texts


def _batch_neardup_edges(spark, texts, tau=0.5):
    from entity_linkings_spark.operators.dedup import (
        minhash_band_pairs,
        shingle_jaccard,
        word_shingles,
    )

    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    cand = minhash_band_pairs(docs, "doc_id", word_shingles("text", 3))
    ver = shingle_jaccard(docs, cand.select("id_a", "id_b"), "doc_id", "text", 3)
    return {(r["id_a"], r["id_b"], r["jaccard"])
            for r in ver.where(F.col("jaccard") >= tau).collect()}


def test_neardup_epoch_equals_batch_and_replays(spark, tmp_path):
    """apply_neardup_epoch over 3 epochs == the one-shot batch pipeline
    (minhash band candidates + exact shingle-Jaccard >= tau) on the full
    corpus — near-dup pairs are symmetric, so the stream discovers each
    pair when its later member arrives and the epoch-union is exactly the
    batch edge set. A replay serves the committed edges and appends
    nothing to the store."""
    from entity_linkings_spark.streaming.incremental import (
        apply_neardup_epoch,
        read_band_store,
    )

    texts = _neardup_corpus()
    store = str(tmp_path / "nd")
    epochs = [range(1, 11), range(11, 21), range(21, 31)]
    got = set()
    for e, ids in enumerate(epochs):
        df = spark.createDataFrame(
            [(d, texts[d]) for d in ids], "doc_id long, text string"
        )
        out = apply_neardup_epoch(store, df, e, n=3)
        got |= {(r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect()}
    want = _batch_neardup_edges(spark, texts)
    assert got == want
    planted = {(2, 24), (7, 15), (11, 13), (5, 16), (5, 28), (16, 28)}
    assert planted <= {(a, b) for a, b, _ in got}
    assert (5, 28) in {(a, b) for a, b, j in got if j == 1.0}
    # replay epoch 1: same committed edges, store row counts untouched
    bands, sh = read_band_store(spark, store)
    nb, ns = bands.count(), sh.count()
    df1 = spark.createDataFrame(
        [(d, texts[d]) for d in epochs[1]], "doc_id long, text string"
    )
    replay = {(r["id_a"], r["id_b"], r["jaccard"])
              for r in apply_neardup_epoch(store, df1, 1, n=3).collect()}
    # id_a < id_b always, so an edge belongs to epoch 1 iff its LATER
    # member does — exactly what the committed out-epoch-1 holds
    assert replay == {(a, b, j) for a, b, j in got if b in epochs[1]}
    bands2, sh2 = read_band_store(spark, store)
    assert (bands2.count(), sh2.count()) == (nb, ns)


def test_neardup_maintenance_labels_equal_batch_cc(spark, tmp_path):
    """The composed processor (near-dup epochs -> edge epochs): after the
    last micro-batch the global label table equals batch connected
    components over the full corpus's verified near-dup edges."""
    from entity_linkings_spark.operators.clustering import connected_components
    from entity_linkings_spark.streaming.incremental import (
        neardup_maintenance_processor,
        read_cluster_labels,
    )

    texts = _neardup_corpus()
    store, labels = str(tmp_path / "nd"), str(tmp_path / "labels")
    process = neardup_maintenance_processor(store, labels, n=3)
    for e, ids in enumerate([range(1, 11), range(11, 21), range(21, 31)]):
        process(
            spark.createDataFrame(
                [(d, texts[d]) for d in ids], "doc_id long, text string"
            ),
            e,
        )
    got = {(r["node"], r["cluster_id"])
           for r in read_cluster_labels(spark, labels).collect()}
    batch_edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b, _ in _batch_neardup_edges(spark, texts)],
        "u string, v string",
    )
    want = {(r["node"], r["cluster_id"])
            for r in connected_components(batch_edges).collect()}
    assert got == want
    # the cross-epoch triangle collapsed into one cluster
    tri = {c for n, c in got if n in {"5", "16", "28"}}
    assert len(tri) == 1


def test_band_store_compaction_preserves_semantics(spark, tmp_path):
    """compact_band_store folds band + shingle deltas into one base each:
    the reader view is unchanged row-for-row, folded dirs are gone, and a
    later epoch still detects a near-dup of a PRE-compaction document."""
    from entity_linkings_spark.streaming.incremental import (
        apply_neardup_epoch,
        compact_band_store,
        read_band_store,
    )

    texts = _neardup_corpus()
    store = str(tmp_path / "nd")
    for e, ids in enumerate([range(1, 11), range(11, 21), range(21, 31)]):
        apply_neardup_epoch(
            store,
            spark.createDataFrame(
                [(d, texts[d]) for d in ids], "doc_id long, text string"
            ),
            e,
            n=3,
        )
    bands, sh = read_band_store(spark, store)
    b_before = {tuple(r) for r in bands.collect()}
    s_before = {tuple(r) for r in sh.collect()}
    assert compact_band_store(store, spark) == 6
    bands2, sh2 = read_band_store(spark, store)
    assert {tuple(r) for r in bands2.collect()} == b_before
    assert {tuple(r) for r in sh2.collect()} == s_before
    assert not any(d.startswith(("bands-epoch-", "shingles-epoch-"))
                   for d in os.listdir(store))
    assert compact_band_store(store, spark) == 0  # nothing left to fold
    # epoch 3 composes against the compacted base: a near-copy of doc 2
    # (epoch 0, folded into the base) is still caught
    dup = texts[2].replace("b3", "n3")
    out = apply_neardup_epoch(
        store,
        spark.createDataFrame([(40, dup)], "doc_id long, text string"),
        3,
        n=3,
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (2, 40) in pairs and (24, 40) in pairs


def test_neardup_epoch_resent_id_never_self_pairs(spark, tmp_path):
    """A doc id re-sent in a LATER epoch (caller error, not a replay) must
    not pair against its own stored bands — and still pairs normally with
    genuinely distinct near-dups, at the CORRECT Jaccard: its shingle rows
    exist in both the store and the arriving delta, and without the
    (id, sh) dedupe sizes and intersections double-count, silently shifting
    every Jaccard the re-sent doc participates in (ADVICE r7)."""
    from entity_linkings_spark.streaming.incremental import apply_neardup_epoch

    store = str(tmp_path / "nd")
    base = " ".join(f"b{j}" for j in range(20))
    apply_neardup_epoch(
        store,
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        0, n=3,
    )
    out = apply_neardup_epoch(
        store,
        spark.createDataFrame(
            [(1, base), (2, base.replace("b9", "x9"))],
            "doc_id long, text string",
        ),
        1, n=3,
    )
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    pairs = set(rows)
    assert (1, 1) not in pairs and (2, 2) not in pairs
    assert (1, 2) in pairs
    # 20 tokens -> 18 3-shingles per doc; replacing b9 rewrites the 3
    # shingles that cover it, so |A ∩ B| = 15, |A ∪ B| = 21. The doubled
    # rows would have read 30/(36 + 18 - 30) = 1.25 — not even a Jaccard.
    assert rows[(1, 2)] == round(15 / 21, 6)


def test_band_store_stray_below_base_delta_ignored(spark, tmp_path):
    """Crash window between the BASE swap and the delta cleanup: a stray
    at-or-below-base delta dir must be invisible to readers and to a
    second compaction (same contract as the gram store)."""
    from entity_linkings_spark.streaming.incremental import (
        apply_neardup_epoch,
        compact_band_store,
        read_band_store,
    )

    texts = _neardup_corpus()
    store = str(tmp_path / "nd")
    for e, ids in enumerate([range(1, 11), range(11, 21)]):
        apply_neardup_epoch(
            store,
            spark.createDataFrame(
                [(d, texts[d]) for d in ids], "doc_id long, text string"
            ),
            e, n=3,
        )
    assert compact_band_store(store, spark) == 4
    bands, sh = read_band_store(spark, store)
    before = (bands.count(), sh.count())
    # stray deltas at or below base (epoch 1) reappear after a "crash"
    spark.createDataFrame(
        [(999, 0, "deadbeef")], "doc_id long, band_idx int, band_hash string"
    ).write.parquet(os.path.join(store, "bands-epoch-1"))
    spark.createDataFrame(
        [(999, "deadbeef")], "doc_id long, sh string"
    ).write.parquet(os.path.join(store, "shingles-epoch-1"))
    bands2, sh2 = read_band_store(spark, store)
    assert (bands2.count(), sh2.count()) == before
    assert compact_band_store(store, spark) == 0
    # replay AFTER compaction: epoch outputs are never folded, so a
    # replayed epoch still serves its committed edges verbatim
    df1 = spark.createDataFrame(
        [(d, texts[d]) for d in range(11, 21)], "doc_id long, text string"
    )
    replay = {(r["id_a"], r["id_b"])
              for r in apply_neardup_epoch(store, df1, 1, n=3).collect()}
    committed = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(
        os.path.join(store, "out-epoch-1")).collect()}
    assert replay == committed and (7, 15) in replay


def test_counter_store_parity_replay_compaction(spark, tmp_path):
    """The 4th store family on the shared EpochStore protocol
    (apply_counter_epoch): 3-epoch sum == one-shot batch counts; a replay
    serves the committed delta without growing the store; compaction
    folds deltas into one summed base with a row-identical reader view;
    and the committed view is schema-identical to the S4 alias-counts
    table — it drives resolve_by_prior directly."""
    from entity_linkings_spark.operators.prior import resolve_by_prior
    from entity_linkings_spark.streaming.incremental import (
        apply_counter_epoch,
        compact_counter_store,
        read_counter_store,
    )

    store = str(tmp_path / "counts")
    epochs = [
        [("Vera Tanaka", "E1"), ("vera tanaka", "E1"), ("V. Tanaka", "E1")],
        [("Vera Tanaka", "E1"), ("Sara Ito", "E2"), ("sara ito", "E2")],
        [("Sara Ito", "E2"), ("Vera Tanaka", "E3")],  # ambiguous surface
    ]
    for e, rows in enumerate(epochs):
        apply_counter_epoch(
            store,
            spark.createDataFrame(rows, "mention string, entity_id string"),
            e,
        )
    got = {(r["mention"], r["entity_id"]): r["count"]
           for r in read_counter_store(spark, store).collect()}
    # batch model: lowercase+trim then count
    from collections import Counter
    want = Counter((m.lower().strip(), ent) for rows in epochs for m, ent in rows)
    assert got == dict(want)
    assert got[("vera tanaka", "E1")] == 3 and got[("vera tanaka", "E3")] == 1
    # replay of epoch 1: committed delta served, reader view unchanged
    replay = apply_counter_epoch(
        store,
        spark.createDataFrame([("SHOULD NOT", "COUNT")],
                              "mention string, entity_id string"),
        1,
    )
    assert {(r["mention"], r["entity_id"], r["count"]) for r in replay.collect()} \
        == {("vera tanaka", "E1", 1), ("sara ito", "E2", 2)}
    assert {(r["mention"], r["entity_id"]): r["count"]
            for r in read_counter_store(spark, store).collect()} == got
    # compaction: 3 delta dirs fold into one summed base, view identical
    assert compact_counter_store(store, spark) == 3
    assert {(r["mention"], r["entity_id"]): r["count"]
            for r in read_counter_store(spark, store).collect()} == got
    assert not any(d.startswith("counts-epoch-") for d in os.listdir(store))
    # epoch 3 composes against the base; the committed view then drives
    # the prior cascade (schema-identical to the S4 alias-counts table)
    apply_counter_epoch(
        store,
        spark.createDataFrame([("Vera Tanaka", "E1")],
                              "mention string, entity_id string"),
        3,
    )
    counts = read_counter_store(spark, store)
    surfaces = spark.createDataFrame(
        [("s1", "vera tanaka"), ("s2", "sara ito"), ("s3", "unknown name")],
        "skey string, surface string",
    )
    resolved = {r["skey"]: r["prior_entity"]
                for r in resolve_by_prior(surfaces, counts).collect()}
    assert resolved["s1"] == "E1"  # 4-vs-1 argmax beats the E3 noise
    assert resolved["s2"] == "E2"
    assert resolved["s3"] is None


def test_prune_epoch_outputs_bounds_disk(spark, tmp_path):
    """prune_epoch_outputs: outputs older than keep_last epochs below
    CURRENT are deleted (the corpus-duplication bound for the substring
    store); the retained window still replays verbatim, deltas are
    untouched (readers unaffected), and a pruned epoch's replay fails
    loudly instead of recomputing."""
    from entity_linkings_spark.streaming.incremental import (
        apply_neardup_epoch,
        prune_epoch_outputs,
        read_band_store,
    )

    texts = _neardup_corpus()
    store = str(tmp_path / "nd")
    for e, ids in enumerate([range(1, 11), range(11, 21), range(21, 31)]):
        apply_neardup_epoch(
            store,
            spark.createDataFrame(
                [(d, texts[d]) for d in ids], "doc_id long, text string"
            ),
            e, n=3,
        )
    bands, sh = read_band_store(spark, store)
    before = (bands.count(), sh.count())
    assert prune_epoch_outputs(store, keep_last=1) == ["out-epoch-0", "out-epoch-1"]
    assert os.path.isdir(os.path.join(store, "out-epoch-2"))
    # deltas untouched -> readers identical
    bands2, sh2 = read_band_store(spark, store)
    assert (bands2.count(), sh2.count()) == before
    # retained epoch replays verbatim
    df2 = spark.createDataFrame(
        [(d, texts[d]) for d in range(21, 31)], "doc_id long, text string"
    )
    assert apply_neardup_epoch(store, df2, 2, n=3).count() > 0
    # pruned epoch replay fails loudly (no silent recompute)
    df1 = spark.createDataFrame(
        [(d, texts[d]) for d in range(11, 21)], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist"):
        apply_neardup_epoch(store, df1, 1, n=3).count()
    # idempotent; keep_last validation
    assert prune_epoch_outputs(store, keep_last=1) == []
    with pytest.raises(ValueError):
        prune_epoch_outputs(store, keep_last=0)

def test_fs_pattern_store_streaming_fit_matches_batch(spark, tmp_path):
    """The 5th store family (apply_fs_pattern_epoch): the FS model's entire
    distributed input is the gamma pattern-count aggregate, so per-epoch
    deltas sum-reduce to EXACTLY the batch table and em_fit on the
    committed view is bit-identical to a batch fit on the concatenated
    pair stream — the linkage model refreshes O(delta) per epoch. Also:
    replay serves the committed cumulative table (no double counting),
    compaction keeps the reader view row-identical, and an empty store
    fails loudly on fit."""
    from entity_linkings_spark.operators.linkage_model import (
        comparison_levels,
        em_fit,
        fs_score,
        pattern_counts,
    )
    from entity_linkings_spark.streaming.incremental import (
        apply_fs_pattern_epoch,
        compact_fs_pattern_store,
        fit_fs_from_store,
        read_fs_pattern_store,
    )

    ths = {"jw": [0.7, 0.9], "tok": [0.5]}
    features = list(ths)
    n_levels = {"jw": 3, "tok": 2}
    # deterministic synthetic pair stream: matches sit high on both
    # features, non-matches low, with a band of ambiguous pairs
    def pairs(seed0, n):
        rows = []
        for i in range(n):
            h = (seed0 * 131 + i * 17) % 100
            if h < 20:      # match-like
                rows.append((0.92 + (h % 5) * 0.01, 0.8))
            elif h < 35:    # ambiguous
                rows.append((0.75, 0.55 if h % 2 else 0.3))
            else:           # non-match-like
                rows.append((0.3 + (h % 7) * 0.05, 0.1))
        return rows

    epochs = [pairs(s, n) for s, n in [(1, 40), (2, 55), (3, 25)]]
    store = str(tmp_path / "fs")

    with pytest.raises(ValueError, match="no committed epoch"):
        fit_fs_from_store(spark, store, features, n_levels)

    for e, rows in enumerate(epochs):
        df = spark.createDataFrame(rows, "jw double, tok double")
        apply_fs_pattern_epoch(store, comparison_levels(df, ths), e, features)

    # cumulative committed view == batch pattern_counts on all pairs
    allp = spark.createDataFrame(
        [r for rows in epochs for r in rows], "jw double, tok double"
    )
    batch_pat = {
        (r["gamma_jw"], r["gamma_tok"]): r["n"]
        for r in pattern_counts(comparison_levels(allp, ths), features).collect()
    }
    store_pat = {
        (r["gamma_jw"], r["gamma_tok"]): r["n"]
        for r in read_fs_pattern_store(spark, store).collect()
    }
    assert store_pat == batch_pat

    # em_fit bit-identical: streaming fit == batch fit (canonical sort
    # inside em_fit makes epoch boundaries and partitioning invisible)
    p_stream = fit_fs_from_store(spark, store, features, n_levels)
    p_batch = em_fit(
        pattern_counts(comparison_levels(allp, ths), features),
        features, n_levels,
    )
    assert p_stream == p_batch  # dataclass equality over float tuples

    # replay of epoch 1 serves the committed cumulative-at-1 table —
    # garbage input is ignored, reader view unchanged
    garbage = comparison_levels(
        spark.createDataFrame([(0.99, 0.99)] * 10, "jw double, tok double"), ths
    )
    replay = apply_fs_pattern_epoch(store, garbage, 1, features)
    want01 = {}
    for rows in epochs[:2]:
        df = spark.createDataFrame(rows, "jw double, tok double")
        for r in pattern_counts(comparison_levels(df, ths), features).collect():
            k = (r["gamma_jw"], r["gamma_tok"])
            want01[k] = want01.get(k, 0) + r["n"]
    got01 = {(r["gamma_jw"], r["gamma_tok"]): r["n"] for r in replay.collect()}
    assert got01 == want01
    assert {
        (r["gamma_jw"], r["gamma_tok"]): r["n"]
        for r in read_fs_pattern_store(spark, store).collect()
    } == batch_pat

    # compaction folds the 3 deltas into one sum-reduced base, view identical
    assert compact_fs_pattern_store(store, spark) == 3
    assert {
        (r["gamma_jw"], r["gamma_tok"]): r["n"]
        for r in read_fs_pattern_store(spark, store).collect()
    } == batch_pat
    assert not any(d.startswith("patterns-epoch-") for d in os.listdir(store))

    # a post-compaction epoch composes against the base; the refreshed
    # model scores identically to a full batch refit
    extra = pairs(9, 30)
    df = spark.createDataFrame(extra, "jw double, tok double")
    apply_fs_pattern_epoch(store, comparison_levels(df, ths), 3, features)
    p2_stream = fit_fs_from_store(spark, store, features, n_levels)
    all2 = spark.createDataFrame(
        [r for rows in epochs for r in rows] + extra, "jw double, tok double"
    )
    p2_batch = em_fit(
        pattern_counts(comparison_levels(all2, ths), features),
        features, n_levels,
    )
    assert p2_stream == p2_batch
    scored = fs_score(comparison_levels(df, ths), p2_stream).select(
        "fs_posterior"
    ).collect()
    assert all(0.0 <= r["fs_posterior"] <= 1.0 for r in scored)


def test_label_store_supersession_and_threshold_sweep(spark, tmp_path):
    """The 6th store family (apply_label_epoch): newest-epoch verdicts
    supersede older ones (assertion semantics, not increments), pair
    orientation canonicalizes to one verdict, within-epoch conflicts
    fail loudly, replay serves the committed delta, compaction keeps the
    view identical — and the committed view drives threshold_sweep as
    its labels side (the human-in-the-loop cycle: review_queue ->
    verdict epochs -> accuracy audit)."""
    from entity_linkings_spark.operators.evaluate import threshold_sweep
    from entity_linkings_spark.streaming.incremental import (
        apply_label_epoch,
        compact_label_store,
        read_label_store,
    )

    store = str(tmp_path / "labels")
    schema = "skey_a string, skey_b string, is_match boolean"
    # epoch 0: three verdicts, one stored in swapped orientation later
    apply_label_epoch(
        store,
        spark.createDataFrame(
            [("a", "b", True), ("c", "d", False), ("e", "f", True)], schema
        ),
        0,
    )
    # epoch 1: relabel (c,d) -> True via the SWAPPED orientation, plus a
    # new pair; duplicate identical verdicts within the epoch collapse
    apply_label_epoch(
        store,
        spark.createDataFrame(
            [("d", "c", True), ("d", "c", True), ("g", "h", False)], schema
        ),
        1,
    )
    got = {(r["pa"], r["pb"]): (r["is_match"], r["epoch"])
           for r in read_label_store(spark, store).collect()}
    assert got == {
        ("a", "b"): (True, 0),
        ("c", "d"): (True, 1),   # superseded, canonical orientation
        ("e", "f"): (True, 0),
        ("g", "h"): (False, 1),
    }
    # conflicting verdicts within one epoch fail loudly
    with pytest.raises(ValueError, match="conflicting"):
        apply_label_epoch(
            store,
            spark.createDataFrame(
                [("x", "y", True), ("y", "x", False)], schema
            ),
            2,
        )
    # replay of epoch 1 ignores new input, serves the committed delta
    replay = apply_label_epoch(
        store,
        spark.createDataFrame([("zz", "zz2", True)], schema),
        1,
    )
    assert {(r["pa"], r["pb"], r["is_match"]) for r in replay.collect()} == {
        ("c", "d", True), ("g", "h", False)
    }
    # compaction: view identical, deltas folded
    assert compact_label_store(store, spark) == 2
    assert {(r["pa"], r["pb"]): (r["is_match"], r["epoch"])
            for r in read_label_store(spark, store).collect()} == got
    # a post-compaction relabel still supersedes the base row
    apply_label_epoch(
        store, spark.createDataFrame([("a", "b", False)], schema), 2
    )
    got2 = {(r["pa"], r["pb"]): (r["is_match"], r["epoch"])
            for r in read_label_store(spark, store).collect()}
    assert got2[("a", "b")] == (False, 2)
    # committed view -> threshold_sweep labels side
    labels = read_label_store(spark, store).select(
        F.col("pa").alias("skey_a"), F.col("pb").alias("skey_b"), "is_match"
    )
    scored = spark.createDataFrame(
        [("a", "b", 0.9), ("c", "d", 0.4), ("e", "f", 0.8), ("g", "h", 0.2)],
        "skey_a string, skey_b string, combined double",
    )
    sweep = {r["threshold"]: (r["tp"], r["fp"], r["fn"], r["tn"])
             for r in threshold_sweep(scored, labels, [0.5]).collect()}
    # truth now: ab=False cd=True ef=True gh=False; link iff >= 0.5
    assert sweep[0.5] == (1, 1, 1, 1)


def test_label_store_nonmatch_verdicts_drive_decremental_clustering(spark, tmp_path):
    """The full human-in-the-loop retraction cycle: review verdicts commit
    as label epochs, the committed NONMATCH pairs become the retraction
    set, and decremental_components updates the clustering to exactly what
    a full recompute over the surviving edges gives — including a
    supersession (a pair rejected in epoch 1 re-accepted in epoch 2 must
    NOT be retracted)."""
    from entity_linkings_spark.operators.clustering import (
        connected_components,
        decremental_components,
    )
    from entity_linkings_spark.streaming.incremental import (
        apply_label_epoch,
        read_label_store,
    )

    d = str(tmp_path / "labels")
    # chain a-b-c-d plus pair x-y; reviewers reject b-c and x-y in epoch 1
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "u string, v string"
    )
    labels = connected_components(edges)
    e1 = spark.createDataFrame(
        [("c", "b", False), ("x", "y", False), ("a", "b", True)],
        "skey_a string, skey_b string, is_match boolean",
    )
    apply_label_epoch(d, e1, 1)
    # epoch 2: x-y re-reviewed and ACCEPTED — supersedes the rejection
    e2 = spark.createDataFrame(
        [("y", "x", True)], "skey_a string, skey_b string, is_match boolean"
    )
    apply_label_epoch(d, e2, 2)
    verdicts = read_label_store(spark, d)
    from pyspark.sql import functions as F

    retract = verdicts.where(~F.col("is_match")).select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    )
    got = {r["node"]: r["cluster_id"]
           for r in decremental_components(labels, edges, retract).collect()}
    # only b-c stays retracted: chain splits, x-y survives the relabel
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c", "x": "x", "y": "x"}


def test_stable_edge_epochs_keep_ids_across_merges(spark, tmp_path):
    """The continuity contract of apply_stable_edge_epoch across three
    epochs: cluster_id stays the raw min-node labeling (bit-equal to a
    batch CC over all edges so far — the incremental_components contract),
    while stable_id (1) never changes for clusters untouched by an epoch,
    (2) survives a merge on the larger constituent even though the
    min-node label renames, and (3) replays idempotently after commit."""
    from entity_linkings_spark.operators.clustering import connected_components
    from entity_linkings_spark.streaming.incremental import (
        apply_stable_edge_epoch,
        read_cluster_labels,
    )

    labels_dir = str(tmp_path / "stable-labels")
    mk = lambda es: spark.createDataFrame(es, "u string, v string")  # noqa: E731

    # epoch 1: three clusters m1{m1,m2,m3}, a1{a1,a2}, z8{z8,z9}
    e1 = [("m1", "m2"), ("m2", "m3"), ("a1", "a2"), ("z8", "z9")]
    t1 = {r["node"]: (r["cluster_id"], r["stable_id"])
          for r in apply_stable_edge_epoch(labels_dir, mk(e1), 1).collect()}
    assert t1["m3"] == ("m1", "m1") and t1["a2"] == ("a1", "a1")

    # epoch 2: a0 joins and bridges a-cluster into m-cluster -> min-node
    # label renames to a0, but the stable id stays m1 (larger constituent)
    e2 = [("a0", "a1"), ("a2", "m1")]
    t2 = {r["node"]: (r["cluster_id"], r["stable_id"])
          for r in apply_stable_edge_epoch(labels_dir, mk(e2), 2).collect()}
    for n in ("m1", "m2", "m3", "a0", "a1", "a2"):
        assert t2[n] == ("a0", "m1"), n
    assert t2["z8"] == ("z8", "z8")  # untouched cluster: both ids verbatim

    # epoch 3: a brand-new cluster appears; everything else untouched
    t3 = {r["node"]: (r["cluster_id"], r["stable_id"])
          for r in apply_stable_edge_epoch(
              labels_dir, mk([("q1", "q2")]), 3).collect()}
    assert t3["q1"] == ("q1", "new:q1")  # genuinely new -> namespaced
    assert t3["m3"] == ("a0", "m1") and t3["z9"] == ("z8", "z8")

    # cluster_id column == batch CC over the union of all epochs' edges
    batch = {r["node"]: r["cluster_id"]
             for r in connected_components(mk(e1 + e2 + [("q1", "q2")])).collect()}
    assert {n: c for n, (c, _) in t3.items()} == batch

    # replay after commit is a pure no-op serving the committed table
    replay = {r["node"]: (r["cluster_id"], r["stable_id"])
              for r in apply_stable_edge_epoch(
                  labels_dir, mk([("poison", "rows")]), 3).collect()}
    assert replay == t3
    # and the served view is the committed 3-column table
    got = {r["node"]: (r["cluster_id"], r["stable_id"])
           for r in read_cluster_labels(spark, labels_dir).collect()}
    assert got == t3


def test_assignment_store_commitments_replay_compaction(spark, tmp_path):
    """The 7th EpochStore family (apply_assignment_epoch): matches are
    commitments — an epoch-1 loser matches a later arrival, a later
    higher-scoring pair never displaces a committed match (the pinned
    divergence from batch greedy) — and replay/compaction keep the
    committed view identical."""
    from entity_linkings_spark.streaming.incremental import (
        apply_assignment_epoch,
        compact_assignment_store,
        read_assignment_store,
    )

    store = str(tmp_path / "assign")
    sch = "left_id string, right_id string, score double"
    epochs = {
        1: [("l1", "r1", 0.9), ("l2", "r1", 0.8)],
        2: [("l2", "r2", 0.3)],
        3: [("l3", "r1", 0.99)],  # r1 is committed to l1: must NOT displace
    }
    outs = {}
    for e, rows in epochs.items():
        out = apply_assignment_epoch(store, spark.createDataFrame(rows, sch), e)
        outs[e] = {(r["left_id"], r["right_id"], r["epoch"]) for r in out.collect()}
    assert outs[1] == {("l1", "r1", 1)}
    assert outs[2] == {("l2", "r2", 2)}  # the epoch-1 loser matched later
    assert outs[3] == set()  # commitment holds against the 0.99 late pair
    view = {(r["left_id"], r["right_id"], r["epoch"])
            for r in read_assignment_store(spark, store).collect()}
    assert view == {("l1", "r1", 1), ("l2", "r2", 2)}
    # batch greedy on the union WOULD differ — the documented divergence
    from entity_linkings_spark.operators.assignment import one_to_one_match

    batch = one_to_one_match(
        spark.createDataFrame(sum(epochs.values(), []), sch)
    )
    got_batch = {(r["left_id"], r["right_id"]) for r in batch.collect()}
    assert got_batch == {("l3", "r1"), ("l2", "r2")}
    assert got_batch != {(a, b) for a, b, _ in view}
    # replay serves the committed output, not a recompute against a store
    # already holding epoch 2's rows
    replay = apply_assignment_epoch(
        store, spark.createDataFrame(epochs[2], sch), 2
    )
    assert {(r["left_id"], r["right_id"], r["epoch"])
            for r in replay.collect()} == outs[2]
    # compaction folds both families and keeps the reader view identical
    assert compact_assignment_store(store, spark) > 0
    assert {(r["left_id"], r["right_id"], r["epoch"])
            for r in read_assignment_store(spark, store).collect()} == view


def test_assignment_store_parity_with_sequential_model(spark, tmp_path):
    """Random-epoch parity: the store's cumulative matching equals a pure
    Python epoch-sequential greedy model (arrive -> open pool -> greedy ->
    commit), including best-score collapse of re-arrived pairs."""
    import random

    from entity_linkings_spark.streaming.incremental import (
        apply_assignment_epoch,
        read_assignment_store,
    )

    rng = random.Random(83)
    store = str(tmp_path / "assign_rand")
    sch = "left_id string, right_id string, score double"
    pool, taken_l, taken_r, model = {}, set(), set(), set()
    for e in range(1, 4):
        rows = [
            (f"l{rng.randint(0, 9)}", f"r{rng.randint(0, 6)}",
             rng.randint(1, 9) / 9.0)
            for _ in range(12)
        ]
        apply_assignment_epoch(store, spark.createDataFrame(rows, sch), e)
        for l, r, s in rows:  # model: arrivals collapse to best score
            pool[(l, r)] = max(pool.get((l, r), s), s)
        open_pairs = sorted(
            ((l, r, s) for (l, r), s in pool.items()
             if l not in taken_l and r not in taken_r),
            key=lambda t: (-t[2], t[0], t[1]),
        )
        for l, r, s in open_pairs:  # sequential greedy over the open pool
            if l not in taken_l and r not in taken_r:
                taken_l.add(l)
                taken_r.add(r)
                model.add((l, r))
    got = {(r["left_id"], r["right_id"])
           for r in read_assignment_store(spark, store).collect()}
    assert got == model
