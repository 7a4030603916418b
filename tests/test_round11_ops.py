"""Round-11 fixes: adversarial-input codec hardening (reserved MP4
fullbox versions, MP3 Layer I/II tables), streaming replay identity,
and the IVF fixed-nlist growth law."""

import pytest


# ---------------------------------------------------------------------------
# MP4: reserved fullbox version must hit the honest fallback, not TypeError
# ---------------------------------------------------------------------------

def _corrupt_mvhd_version(payload: bytes, version: int) -> bytes:
    i = payload.find(b"mvhd")
    assert i > 0
    buf = bytearray(payload)
    buf[i + 4] = version  # fullbox version byte follows the box type
    return bytes(buf)


def test_mp4_reserved_fullbox_version_raises_value_error():
    from steel_datafusion_spark.pipeline.codecs import encode_mp4, probe_mp4

    good = encode_mp4(2000, [{"kind": "video", "codec": "avc1",
                              "width": 64, "height": 48,
                              "duration_ms": 2000}])
    assert probe_mp4(good).duration_ms == 2000
    bad = _corrupt_mvhd_version(good, 2)
    with pytest.raises(ValueError, match="reserved fullbox version"):
        probe_mp4(bad)


def test_mp4_reserved_fullbox_version_probed_false(spark):
    """One malformed mvhd in a crawl corpus must degrade to probed=false,
    never kill the Spark task (ADVICE round-10)."""
    from steel_datafusion_spark.pipeline.codecs import encode_mp4
    from steel_datafusion_spark.pipeline.multimodal import (
        MEDIA_SCHEMA, extract_container_metadata,
    )

    good = encode_mp4(1000, [{"kind": "audio", "codec": "mp4a", "width": 0,
                              "height": 0, "duration_ms": 1000}])
    bad = _corrupt_mvhd_version(good, 7)
    df = spark.createDataFrame(
        [(1, "video", bytearray(good), (0, 0, 0)),
         (2, "video", bytearray(bad), (0, 0, 0))],
        MEDIA_SCHEMA)
    rows = {r.media_id: r.probed
            for r in extract_container_metadata(df).collect()}
    assert rows == {1: True, 2: False}


# ---------------------------------------------------------------------------
# MP3: Layer I / II headers probe with their OWN bitrate/spf tables
# ---------------------------------------------------------------------------

def _mp3_frame_header(ver_bits: int, layer_bits: int, br_idx: int,
                      sr_idx: int, mode: int = 0) -> bytes:
    return bytes([0xFF, 0xE0 | (ver_bits << 3) | (layer_bits << 1) | 1,
                  (br_idx << 4) | (sr_idx << 2), mode << 6])


def test_mp3_layer2_uses_layer2_tables():
    from steel_datafusion_spark.pipeline.codecs import probe_mp3

    # MPEG-1 (ver_bits=3) Layer II (layer_bits=2), 128 kbps (V1L2 idx 8),
    # 44100 Hz (idx 0), stereo
    hdr = _mp3_frame_header(3, 2, 8, 0)
    frame_len = 144 * 128 * 1000 // 44100  # layer II: 1152 spf
    payload = (hdr + b"\x00" * (frame_len - 4)) * 10
    m = probe_mp3(payload)
    assert (m.version, m.layer) == ("1", 2)
    assert m.bitrate_kbps == 128
    assert m.sample_rate == 44100
    assert not m.vbr
    assert m.n_frames == 10
    assert m.duration_ms == 10 * 1152 * 1000 // 44100


def test_mp3_layer1_uses_layer1_tables():
    from steel_datafusion_spark.pipeline.codecs import probe_mp3

    # MPEG-1 (3) Layer I (layer_bits=3), 256 kbps (V1L1 idx 8), 48 kHz
    # (idx 1), mono
    hdr = _mp3_frame_header(3, 3, 8, 1, mode=3)
    frame_len = (12 * 256 * 1000 // 48000) * 4  # 4-byte slots
    payload = (hdr + b"\x00" * (frame_len - 4)) * 8
    m = probe_mp3(payload)
    assert (m.version, m.layer) == ("1", 1)
    assert m.bitrate_kbps == 256
    assert m.channels == 1
    assert m.n_frames == 8
    assert m.duration_ms == 8 * 384 * 1000 // 48000


def test_mp3_layer3_still_exact():
    from steel_datafusion_spark.pipeline.codecs import encode_mp3, probe_mp3

    m = probe_mp3(encode_mp3(n_frames=5, bitrate_kbps=128))
    assert (m.layer, m.bitrate_kbps, m.n_frames) == (3, 128, 5)


def test_hard_negatives_index_matches_inline_and_guards_label(spark):
    """Mining against the stored index must reproduce the re-assigning
    path exactly (same nlist), and an index built WITHOUT the label must
    refuse to mine rather than return same-label 'negatives'."""
    from pyspark.sql import functions as F

    from steel_datafusion_spark.pipeline.similarity import (
        build_ann_index, hard_negatives_index, hard_negatives_ivf,
    )

    corpus = _vec_corpus(spark, 80, dim=5).withColumn(
        "label", (F.col("vec_id") % 3).cast("long"))
    build_ann_index(corpus, "t_hn_idx", nlist=6, n_buckets=4,
                    carry=("label",))
    build_ann_index(corpus.drop("label").withColumn(
        "label_missing", F.lit(1)), "t_hn_plain", nlist=6, n_buckets=4)
    try:
        got = hard_negatives_index(corpus, "t_hn_idx", k=3, nprobe=2)
        want = hard_negatives_ivf(corpus, k=3, nprobe=2, nlist=6)
        assert sorted(map(tuple, got.collect())) == \
               sorted(map(tuple, want.collect()))
        # every returned negative crosses the label boundary
        lab = corpus.select(F.col("vec_id").alias("neighbor_id"),
                            F.col("label").alias("n_label"))
        a = corpus.select(F.col("vec_id").alias("anchor_id"),
                          F.col("label").alias("a_label"))
        crossed = (got.join(lab, "neighbor_id").join(a, "anchor_id")
                   .filter(F.col("a_label") == F.col("n_label")).count())
        assert crossed == 0
        with pytest.raises(ValueError, match="does not carry"):
            hard_negatives_index(corpus, "t_hn_plain", k=3)
    finally:
        for n in ("t_hn_idx", "t_hn_plain"):
            for t in (f"{n}_centroids", f"{n}_assign", f"{n}_meta"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ann_index_kmeans_trained_centroids(spark):
    """build_ann_index(train='kmeans'): data-adapted cells through the
    same stored-table probe path; centroid count = nlist regardless of
    the corpus, meta records the trainer."""
    from steel_datafusion_spark.pipeline.similarity import (
        build_ann_index, ivf_topk_index,
    )

    corpus = _vec_corpus(spark, 90, dim=5)
    build_ann_index(corpus, "t_ann_km", nlist=6, n_buckets=4,
                    train="kmeans", train_iters=2)
    try:
        assert spark.table("t_ann_km_centroids").count() == 6
        meta = spark.table("t_ann_km_meta").head()
        assert (meta.nlist, meta.train) == (6, "kmeans")
        q = spark.createDataFrame(
            corpus.filter("vec_id < 3").collect(), schema=corpus.schema)
        got = ivf_topk_index(q, "t_ann_km", k=4, nprobe=2)
        rows = got.collect()
        assert {r.query_id for r in rows} == {0, 1, 2}
        assert all(1 <= r.rank <= 4 for r in rows)
        # every corpus vector is assigned exactly once
        assert spark.table("t_ann_km_assign").count() == 90
    finally:
        for t in ("t_ann_km_centroids", "t_ann_km_assign", "t_ann_km_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    with pytest.raises(ValueError, match="train must be"):
        build_ann_index(corpus, "t_ann_bad", train="random")


# ---------------------------------------------------------------------------
# FLAC / Ogg container probes (round-11 crawl-envelope widening)
# ---------------------------------------------------------------------------

def test_flac_probe_malformed_inputs():
    from steel_datafusion_spark.pipeline.codecs import (
        encode_flac, probe_flac,
    )

    with pytest.raises(ValueError, match="fLaC"):
        probe_flac(b"not flac at all")
    with pytest.raises(ValueError, match="STREAMINFO"):
        # a PADDING block first violates the mandatory-first-block rule
        good = encode_flac(1000)
        probe_flac(b"fLaC" + bytes([0x81]) + (4).to_bytes(3, "big")
                   + b"\x00" * 4 + good[4:])
    with pytest.raises(ValueError, match="sample rate"):
        probe_flac(encode_flac(1000, sample_rate=0))


def test_ogg_probe_malformed_inputs():
    from steel_datafusion_spark.pipeline.codecs import (
        encode_ogg, probe_ogg,
    )

    with pytest.raises(ValueError, match="OggS"):
        probe_ogg(b"RIFFxxxxWAVE")
    # an Ogg page whose first packet is not a Vorbis id header (e.g. Opus)
    opus = bytearray(encode_ogg(1000))
    body = 27 + opus[26]
    opus[body:body + 8] = b"OpusHead"
    with pytest.raises(ValueError, match="Vorbis"):
        probe_ogg(bytes(opus))


def test_flac_ogg_probe_in_spark_metadata_pass(spark):
    from steel_datafusion_spark.pipeline.codecs import (
        encode_flac, encode_ogg,
    )
    from steel_datafusion_spark.pipeline.multimodal import (
        MEDIA_SCHEMA, extract_container_metadata,
    )

    df = spark.createDataFrame(
        [(1, "audio", bytearray(encode_flac(441000, 44100, 2, 16)),
          (0, 0, 0)),
         (2, "audio", bytearray(encode_ogg(88200, 44100, 1)), (0, 0, 0)),
         (3, "audio", bytearray(b"fLaCgarbage"), (0, 0, 7))],
        MEDIA_SCHEMA)
    got = {r.media_id: (r.container, r.probed, r.duration_ms, r.audio_codec)
           for r in extract_container_metadata(df).collect()}
    assert got[1] == ("flac", True, 10000, "flac")
    assert got[2] == ("ogg", True, 2000, "vorbis")
    assert got[3] == ("flac", False, 7, "")


def test_mpegts_roundtrip_and_rejects():
    from steel_datafusion_spark.pipeline.codecs import (
        encode_mpegts, probe_mpegts, sniff_format,
    )

    p = encode_mpegts(90000, [("video", "h264"), ("audio", "aac")],
                      program_number=3)
    assert sniff_format(p) == "mpegts"
    m = probe_mpegts(p)
    assert m.duration_ms == 90000
    assert m.program_number == 3
    assert [(t.kind, t.codec) for t in m.tracks] == \
        [("video", "h264"), ("audio", "aac")]
    with pytest.raises(ValueError, match="packet-aligned"):
        probe_mpegts(b"\x47" + b"x" * 100)
    with pytest.raises(ValueError, match="sync"):
        probe_mpegts(b"\x47" + b"x" * 187 + b"\x00" * 188)
    with pytest.raises(ValueError, match="PAT"):
        probe_mpegts((b"\x47" + b"\xff" * 187) * 2)
    with pytest.raises(ValueError, match="unsupported TS stream"):
        encode_mpegts(1000, [("video", "av1")])


def test_mpegts_probe_in_spark_metadata_pass(spark):
    from steel_datafusion_spark.pipeline.codecs import encode_mpegts
    from steel_datafusion_spark.pipeline.multimodal import (
        MEDIA_SCHEMA, extract_container_metadata,
    )

    good = encode_mpegts(42000, [("video", "hevc")])
    bad = (b"\x47" + b"\xff" * 187) * 2   # sync ok, no PAT
    df = spark.createDataFrame(
        [(1, "video", bytearray(good), (0, 0, 0)),
         (2, "video", bytearray(bad), (0, 0, 123))],
        MEDIA_SCHEMA)
    got = {r.media_id: (r.container, r.probed, r.duration_ms,
                        r.video_codec)
           for r in extract_container_metadata(df).collect()}
    assert got[1] == ("mpegts", True, 42000, "hevc")
    assert got[2] == ("mpegts", False, 123, "")


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    @settings(max_examples=40, deadline=None)
    @given(
        total=st.integers(min_value=0, max_value=(1 << 36) - 1),
        sr=st.integers(min_value=1, max_value=655350),
        ch=st.integers(min_value=1, max_value=8),
        bits=st.integers(min_value=4, max_value=32),
        pad=st.integers(min_value=0, max_value=64),
    )
    def test_flac_roundtrip_property(total, sr, ch, bits, pad):
        from steel_datafusion_spark.pipeline.codecs import (
            encode_flac, probe_flac,
        )

        m = probe_flac(encode_flac(total, sr, ch, bits, padding=pad))
        assert (m.total_samples, m.sample_rate, m.channels,
                m.bits_per_sample) == (total, sr, ch, bits)
        assert m.duration_ms == total * 1000 // sr

    @settings(max_examples=40, deadline=None)
    @given(
        total=st.integers(min_value=0, max_value=(1 << 62)),
        sr=st.integers(min_value=1, max_value=200_000),
        ch=st.integers(min_value=1, max_value=255),
        serial=st.integers(min_value=0, max_value=(1 << 32) - 1),
    )
    def test_ogg_roundtrip_property(total, sr, ch, serial):
        from steel_datafusion_spark.pipeline.codecs import (
            encode_ogg, probe_ogg,
        )

        m = probe_ogg(encode_ogg(total, sr, ch, serial=serial))
        assert (m.granule_end, m.sample_rate, m.channels) == (total, sr, ch)
        assert m.duration_ms == total * 1000 // sr


# ---------------------------------------------------------------------------
# No forced broadcasts on SF-proportional base tables (VERDICT r10 #2)
# ---------------------------------------------------------------------------

def test_no_forced_broadcast_on_sf_proportional_tables():
    """F.broadcast is a FORCED hint — it bypasses
    autoBroadcastJoinThreshold and AQE demotion, so forcing it on a table
    that scales with SF (part/supplier/customer/orders/lineitem) is an
    executor OOM at 100×.  Forced hints are allowed only on fixed-size
    frames (nation/region, bounded group stats, 1-row aggregates); the
    SF-proportional ones must be left to AQE or routed through
    hints.broadcast_if_small."""
    import os
    import re

    import steel_datafusion_spark.queries as qmod

    src = open(os.path.abspath(qmod.__file__)).read()
    banned = re.compile(
        r'F\.broadcast\(\s*(?:df_filter\(\s*)?t\["'
        r'(part|supplier|customer|orders|lineitem)"\]')
    hits = [src[:m.start()].count("\n") + 1 for m in banned.finditer(src)]
    assert not hits, (
        f"forced F.broadcast on SF-proportional base tables at "
        f"queries.py lines {hits}")


# ---------------------------------------------------------------------------
# Streaming replay identity (Delta txnAppId+txnVersion pattern)
# ---------------------------------------------------------------------------

def test_replayed_batch_same_identity_skips():
    from steel_datafusion_spark.sources.manifest import _replayed_batch

    cur = {"meta": {"batch_id": 3, "txn_app": "/ckpt/a"}}
    assert _replayed_batch(cur, "/ckpt/a", 3) is True
    assert _replayed_batch(cur, "/ckpt/a", 0) is True
    assert _replayed_batch(cur, "/ckpt/a", 4) is False
    assert _replayed_batch(None, "/ckpt/a", 0) is False


# ---------------------------------------------------------------------------
# IVF growth law: centroid count fixed by nlist, independent of corpus rows
# ---------------------------------------------------------------------------

@pytest.fixture()
def no_auto_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _vec_corpus(spark, n, dim=4):
    rows = [(i, [float((i * 7 + d * 3) % 11) + 1.0 for d in range(dim)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_centroid_count_independent_of_corpus_size(spark):
    """VERDICT r10 #1: nlist fixes the centroid count — the broadcast and
    the per-vector assignment work must NOT grow with N."""
    from steel_datafusion_spark.pipeline.similarity import ivf_assign

    for n in (60, 600):
        cent, assign = ivf_assign(_vec_corpus(spark, n), nlist=6)
        assert cent.count() == 6, f"N={n}"
        assert assign.count() == n


def test_ivf_nlist_mod_exact_ceil(spark):
    from steel_datafusion_spark.pipeline.similarity import ivf_nlist_mod

    assert ivf_nlist_mod(_vec_corpus(spark, 500), 10) == 50
    assert ivf_nlist_mod(_vec_corpus(spark, 501), 10) == 51
    assert ivf_nlist_mod(_vec_corpus(spark, 3), 10) == 1


def test_ivf_deprecated_stride_still_selects_by_mod(spark):
    from steel_datafusion_spark.pipeline.similarity import ivf_assign

    cent, _ = ivf_assign(_vec_corpus(spark, 60), centroid_mod=20)
    assert sorted(r.centroid_id for r in cent.collect()) == [0, 20, 40]


# ---------------------------------------------------------------------------
# Persisted dense-vector index: build once, probe without corpus re-scan
# ---------------------------------------------------------------------------

def test_ann_index_probe_matches_inline_and_skips_corpus(
        spark, no_auto_broadcast):
    from steel_datafusion_spark.pipeline.similarity import (
        build_ann_index, ivf_topk, ivf_topk_index,
    )

    corpus = _vec_corpus(spark, 120, dim=6)
    build_ann_index(corpus, "t_ann_idx", nlist=8, n_buckets=4)
    try:
        queries = spark.createDataFrame(
            corpus.filter("vec_id < 4").collect(), schema=corpus.schema)
        got = ivf_topk_index(queries, "t_ann_idx", k=5, nprobe=2)
        plan = got._jdf.queryExecution().executedPlan().toString()
        # the stored-index probe shuffles ONLY the query side: exactly one
        # centroid_id exchange (probes); the bucketed assignment scan has
        # none above it
        assert plan.count("hashpartitioning(centroid_id") == 1, plan[:3000]
        assert "t_ann_idx_assign" in plan and "t_ann_idx_centroids" in plan
        want = ivf_topk(queries, corpus, k=5, nprobe=2, nlist=8)
        assert sorted(map(tuple, got.collect())) == \
               sorted(map(tuple, want.collect()))
        # one index serves a second batch with no rebuild
        q2 = spark.createDataFrame(
            corpus.filter("vec_id >= 100").collect(), schema=corpus.schema)
        got2 = ivf_topk_index(q2, "t_ann_idx", k=3, nprobe=1)
        assert got2.count() > 0
    finally:
        for t in ("t_ann_idx_centroids", "t_ann_idx_assign", "t_ann_idx_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_replayed_batch_fresh_checkpoint_raises_not_skips():
    """batch_id 0 from a NEW checkpoint against an existing table is a
    restart, not a replay — silent skip would lose data (ADVICE r10)."""
    from steel_datafusion_spark.sources.manifest import _replayed_batch

    cur = {"meta": {"batch_id": 3, "txn_app": "/ckpt/a"}}
    with pytest.raises(ValueError, match="fresh checkpoint"):
        _replayed_batch(cur, "/ckpt/B", 0)
    # legacy tables (no txn_app recorded) keep the old skip behavior
    legacy = {"meta": {"batch_id": 3}}
    assert _replayed_batch(legacy, "/ckpt/B", 0) is True
