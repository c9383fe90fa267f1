"""Direct unit tests for the scale-pipeline operator families
(similarity search, multimodal plumbing, dedup kernels) — these are
otherwise covered only through the driver's oracle gate."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from firepit_spark.functions import dedup as dd
from firepit_spark.functions import similarity as sim
from firepit_spark.functions.multimodal import synthesize_media


# ------------------------------------------------------------- similarity


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.9, 0.1]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(spark, vectors):
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    got = sim.brute_force_topk(vectors, q, k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in got] == [(0, 1), (1, 2)]
    assert got[0]["cos_sim"] == 1.0
    expect = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(got[1]["cos_sim"] - expect) < 1e-5


def test_lsh_topk_subset_of_exact(spark, vectors):
    q = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0])], "query_id long, query_vec array<double>"
    )
    exact = {r["neighbor_id"] for r in sim.brute_force_topk(vectors, q, k=5).collect()}
    approx = sim.lsh_topk(vectors, q, k=5, n_planes=4).collect()
    # LSH returns a subset of the corpus, every hit also present in exact
    assert {r["neighbor_id"] for r in approx} <= exact
    assert len(approx) >= 1  # the query's own bucket can't be empty


def test_ivf_topk(spark):
    import random

    rng = random.Random(7)
    # two well-separated blobs so 2 cells split them cleanly
    rows = [(i, [rng.gauss(5, 0.1), rng.gauss(5, 0.1)]) for i in range(20)] + [
        (100 + i, [rng.gauss(-5, 0.1), rng.gauss(-5, 0.1)]) for i in range(20)
    ]
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(1, [5.0, 5.0]), (2, [-5.0, -5.0])], "query_id long, query_vec array<double>"
    )
    got = sim.ivf_topk(vectors, q, k=3, n_cells=2, n_probe=1)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert all(n < 100 for n in by_q[1])  # query 1 only probes the +5 blob
    assert all(n >= 100 for n in by_q[2])
    assert len(by_q[1]) == 3 and len(by_q[2]) == 3
    # with both cells probed, matches brute force exactly
    full = sim.ivf_topk(vectors, q, k=3, n_cells=2, n_probe=2)
    brute = sim.brute_force_topk(vectors, q, k=3)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, brute.collect()))
    # fit once, search many: the persisted index answers successive query
    # batches without re-running k-means, with identical results
    index = sim.ivf_fit(vectors, n_cells=2).persist()
    try:
        r1 = sim.ivf_search(index, q, k=3, n_probe=2)
        assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, full.collect()))
        q2 = spark.createDataFrame(
            [(3, [4.8, 5.2])], "query_id long, query_vec array<double>"
        )
        r2 = sim.ivf_search(index, q2, k=2, n_probe=1).collect()
        assert len(r2) == 2 and all(r["neighbor_id"] < 100 for r in r2)
    finally:
        index.unpersist()


def test_quantize_embeddings(spark):
    df = spark.createDataFrame(
        [(0, [1.0, -0.5, 0.25]), (1, [0.0, 0.0, 0.0]), (2, [2.0, 2.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in sim.quantize_embeddings(df).collect()}
    assert got[0]["qvec"] == [127, -64, 32]  # round(±x*127/max)
    assert abs(got[0]["qscale"] - 1.0 / 127.0) < 1e-12
    # zero vector: zero codes, NULL scale, no division error
    assert got[1]["qvec"] == [0, 0, 0] and got[1]["qscale"] is None
    assert got[2]["qvec"] == [127, 127, 127]
    # cosine is scale-invariant: ranking on quantized == on originals
    q = sim.quantize_embeddings(df.filter(F.col("vec_id") != 1))
    cos_q = q.select(
        "vec_id",
        F.round(sim.cosine(
            F.transform("qvec", lambda v: v.cast("double")),
            F.array(F.lit(1.0), F.lit(1.0), F.lit(1.0)),
        ), 2).alias("c"),
    ).collect()
    cos_o = df.filter(F.col("vec_id") != 1).select(
        "vec_id",
        F.round(sim.cosine(
            F.col("embedding"), F.array(F.lit(1.0), F.lit(1.0), F.lit(1.0))
        ), 2).alias("c"),
    ).collect()
    assert {r["vec_id"]: r["c"] for r in cos_q} == {r["vec_id"]: r["c"] for r in cos_o}


def test_label_centroids(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("a", [3.0, 2.0]), ("b", [0.0, 4.0])],
        "label string, embedding array<double>",
    )
    got = {r["label"]: r["centroid"] for r in sim.label_centroids(df).collect()}
    assert got["a"] == [2.0, 1.0]
    assert got["b"] == [0.0, 4.0]


# ------------------------------------------------------------- multimodal


def test_decode_image_audio_fallback_paths():
    """decode_image/decode_audio: pure-python kernels cover PNG/JPEG/WAV;
    other containers route to Pillow/soundfile when installed,
    decode_stub when not (this container has neither, so assert the
    honest stub error). A blob with a JPEG magic but garbage inside is
    MALFORMED data, not a missing codec — the r9 kernel raises
    ValueError for it (the Arrow wrappers quarantine either way)."""
    import numpy as np
    import pytest as _pytest

    from firepit_spark.functions import multimodal as mm

    img = mm.png_encode((np.arange(64, dtype=np.uint8).reshape(8, 8)))
    assert mm.decode_image(img).shape == (8, 8, 1)
    wav = mm.wav_encode(np.zeros(80), sample_rate=8000)
    samples, rate = mm.decode_audio(wav)
    assert rate == 8000 and samples.shape[1] == 1
    with _pytest.raises(ValueError, match="JPEG"):
        mm.decode_image(b"\xff\xd8\xff\xe0" + b"\0" * 32)
    # GIF/FLAC now have built-in kernels (r10): a blob with the right
    # magic but garbage inside is MALFORMED data, not a missing codec
    with _pytest.raises(ValueError):
        mm.decode_image(b"GIF89a" + b"\0" * 32)
    with _pytest.raises(ValueError):
        mm.decode_audio(b"fLaC" + b"\0" * 16)
    # a blob that sniffs as NO known container is malformed, with a
    # precise message — never "codec missing"
    with _pytest.raises(ValueError, match="recognized audio container"):
        mm.decode_audio(b"not audio at all")
    webp_like = b"RIFF\x10\0\0\0WEBPVP8 " + b"\0" * 16  # truly library-bound
    try:
        import PIL  # noqa: F401
    except ImportError:
        with _pytest.raises(NotImplementedError, match="no image codec"):
            mm.decode_image(webp_like)
    mp3_like = b"\xff\xfb\x90\x00" + b"\0" * 32  # sniffs audio/mpeg
    try:
        import soundfile  # noqa: F401
    except ImportError:
        with _pytest.raises(NotImplementedError, match="no audio codec"):
            mm.decode_audio(mp3_like)
    # video frame decode has no built-in kernel: the stub raises loudly
    with _pytest.raises(NotImplementedError, match="video"):
        mm.decode_stub("video", b"\x00\x00")


def test_sniff_mime_magic():
    from firepit_spark.functions import multimodal as mm

    assert mm.sniff_mime(b"\x89PNG\r\n\x1a\n" + b"\0" * 16) == "image/png"
    assert mm.sniff_mime(b"\xff\xd8\xff\xe0rest") == "image/jpeg"
    assert mm.sniff_mime(b"GIF89a" + b"\0" * 8) == "image/gif"
    assert mm.sniff_mime(b"BM" + b"\0" * 30) == "image/bmp"
    assert mm.sniff_mime(b"RIFF\0\0\0\0WAVEfmt ") == "audio/wav"
    assert mm.sniff_mime(b"RIFF\0\0\0\0WEBPVP8 ") == "image/webp"
    assert mm.sniff_mime(b"\0\0\0\x20ftypisom\0\0") == "video/mp4"
    assert mm.sniff_mime(b"ID3\x04\0") == "audio/mpeg"
    assert mm.sniff_mime(b"garbage") is None
    assert mm.sniff_mime(None) is None
    assert mm.sniff_mime(b"") is None


def test_image_dims_headers():
    import struct

    from firepit_spark.functions import multimodal as mm

    # JPEG: APP0 then SOF0 carrying height=480 width=640
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xc0\x00\x11\x08"
        + struct.pack(">HH", 480, 640)
        + b"\x03" + b"\0" * 9
    )
    assert mm.image_dims(jpeg) == (640, 480)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\0\0\0"
    assert mm.image_dims(gif) == (320, 200)
    # BMP with top-down (negative) height
    bmp = b"BM" + b"\0" * 16 + struct.pack("<ii", 100, -50) + b"\0" * 8
    assert mm.image_dims(bmp) == (100, 50)
    png = mm.png_encode(np.zeros((7, 11), dtype=np.uint8))
    assert mm.image_dims(png) == (11, 7)
    assert mm.image_dims(b"not an image") is None
    assert mm.image_dims(None) is None


def test_png_roundtrip():
    from firepit_spark.functions import multimodal as mm

    yy, xx = np.mgrid[0:13, 0:17]
    gray = ((3 * xx + 5 * yy) % 256).astype(np.uint8)
    assert np.array_equal(mm.png_decode(mm.png_encode(gray))[:, :, 0], gray)
    rgb = np.stack([(xx + yy) % 256, (2 * xx) % 256, (3 * yy) % 256], axis=2).astype(np.uint8)
    assert np.array_equal(mm.png_decode(mm.png_encode(rgb)), rgb)
    rgba = np.concatenate([rgb, np.full((13, 17, 1), 200, np.uint8)], axis=2)
    assert np.array_equal(mm.png_decode(mm.png_encode(rgba)), rgba)


def test_png_decode_all_filters():
    """Decode a hand-filtered PNG using every filter type (0,1,2,3,4)."""
    import struct
    import zlib

    from firepit_spark.functions import multimodal as mm

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(5, 6, 3)).astype(np.uint8)
    h, w, ch = px.shape
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = px[y].reshape(-1).astype(np.int32)
        ftype = y % 5
        raw.append(ftype)
        for x in range(w * ch):
            left = int(cur[x - ch]) if x >= ch else 0
            up = int(prev[x])
            ul = int(prev[x - ch]) if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
            raw.append((int(cur[x]) - pred) & 0xFF)
        prev = cur

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    blob = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))
    assert np.array_equal(mm.png_decode(blob), px)


def test_resize_nearest():
    from firepit_spark.functions import multimodal as mm

    yy, xx = np.mgrid[0:8, 0:8]
    img = ((xx + yy) % 256).astype(np.uint8)
    up = mm.resize_nearest(img, 16, 16)
    assert up.shape == (16, 16)
    assert np.array_equal(up[::2, ::2], img)
    down = mm.resize_nearest(img, 4, 4)
    assert np.array_equal(down, img[::2, ::2])


def test_probe_media_distributed(spark):
    from firepit_spark.functions.multimodal import probe_media

    media = synthesize_media(spark, n=30, partitions=3)
    probed = {r["media_id"]: r for r in probe_media(media).collect()}
    assert len(probed) == 30
    for i in range(30):
        if i % 3 == 0:  # image: real PNG with known dims
            assert probed[i]["mime_sniffed"] == "image/png"
            assert probed[i]["width"] == 64 + i % 32
            assert probed[i]["height"] == 64 + i % 16
        elif i % 3 == 1:  # audio: real WAV container
            assert probed[i]["mime_sniffed"] == "audio/wav"
            assert probed[i]["width"] is None
        else:  # video: real MP4 ftyp box
            assert probed[i]["mime_sniffed"] == "video/mp4"
            assert probed[i]["width"] is None


def test_image_features_real_decode(spark):
    from firepit_spark.functions.multimodal import image_features

    media = synthesize_media(spark, n=9, partitions=2)
    feats = {r["media_id"]: r for r in image_features(media).collect()}
    # image 3: 67x65 gradient ((x+y+3)%256) — compare mean to numpy
    w, h = 64 + 3 % 32, 64 + 3 % 16
    yy, xx = np.mgrid[0:h, 0:w]
    expected = ((xx + yy + 3) % 256).astype(np.uint8)
    assert feats[3]["width"] == w and feats[3]["height"] == h
    assert feats[3]["mean_px"] == repr(float(expected.mean()))
    assert feats[3]["err"] is None
    # non-PNG rows quarantine the codec error instead of failing the job
    assert feats[1]["err"] is not None and feats[1]["width"] is None


def test_wav_roundtrip():
    from firepit_spark.functions import multimodal as mm

    t = np.arange(8000) / 8000.0
    mono = 0.25 * np.sin(2 * np.pi * 440 * t)
    samples, rate = mm.wav_decode(mm.wav_encode(mono, sample_rate=8000))
    assert rate == 8000 and samples.shape == (8000, 1)
    # int16 quantization: truncating cast + 32767/32768 scale mismatch
    assert np.abs(samples[:, 0] - mono).max() < 1.0 / 16000
    stereo = np.stack([mono, -mono], axis=1)
    s2, _ = mm.wav_decode(mm.wav_encode(stereo, sample_rate=8000))
    assert s2.shape == (8000, 2)
    with pytest.raises(ValueError):
        mm.wav_decode(b"RIFF\0\0\0\0AVI LIST")
    with pytest.raises(ValueError):
        mm.wav_decode(b"not audio")


def test_audio_stats_exact():
    from firepit_spark.functions import multimodal as mm

    rate = 1000
    sq = np.where(np.arange(1000) % 100 < 50, 0.5, -0.5)  # 1 s square wave
    st = mm.audio_stats(sq[:, None], rate)
    assert st["duration_ms"] == 1000 and st["sample_rate"] == 1000
    assert st["channels"] == 1
    assert abs(st["rms"] - 0.5) < 1e-12 and st["peak"] == 0.5
    assert st["zero_crossings"] == 19  # 10 half-periods alternate 20 times - 1


def test_audio_features_distributed(spark):
    from firepit_spark.functions.multimodal import audio_features

    media = synthesize_media(spark, n=9, partitions=2)
    feats = {r["media_id"]: r for r in audio_features(media).collect()}
    # audio 1: 8 kHz sine, duration 100 + 10*(1%20) = 110 ms
    assert feats[1]["err"] is None
    assert feats[1]["sample_rate"] == 8000 and feats[1]["channels"] == 1
    assert feats[1]["duration_ms"] == 110
    # sine rms ~ 0.5/sqrt(2) (int16-quantized)
    assert abs(float(feats[1]["rms"]) - 0.5 / np.sqrt(2)) < 1e-3
    # non-WAV rows quarantine the codec error instead of failing the job
    assert feats[0]["err"] is not None and feats[0]["sample_rate"] is None


def test_mp4_probe_and_video_probe(spark):
    from firepit_spark.functions import multimodal as mm
    from firepit_spark.functions.multimodal import video_probe

    blob = mm.mp4_encode_stub(12345, timescale=600, n_tracks=2)
    info = mm.mp4_probe(blob)
    assert info["brand"] == "isom" and info["n_tracks"] == 2
    assert info["timescale"] == 600
    # duration round-trips through the timescale conversion
    assert abs(info["duration_ms"] - 12345) <= 1000 // 600 + 1
    with pytest.raises(ValueError):
        mm.mp4_probe(b"RIFF\0\0\0\0WAVEfmt ")

    # track-level probe (judge r7 #7): stts/stsz walk recovers frame
    # count, rate, and byte volume without any codec
    blob2 = mm.mp4_encode_stub(2000, fps=3, n_tracks=2, frame_sizes=[10, 20, 30, 40, 50, 60])
    tracks = mm.mp4_track_probe(blob2)
    assert len(tracks) == 2
    vide, soun = tracks
    assert vide["handler"] == "vide" and soun["handler"] == "soun"
    assert vide["n_samples"] == 6 and vide["fps"] == 3.0
    assert vide["duration_ms"] == 2000 and vide["timescale"] == 3
    assert vide["sample_bytes"] == 210  # explicit per-frame sizes
    assert soun["sample_bytes"] == 512 * 6  # constant-size leg
    # a trak without sample tables (no fps arg) reports Nones
    legacy = mm.mp4_track_probe(blob)
    assert len(legacy) == 2 and all(t["n_samples"] is None for t in legacy)

    # stss keyframe leg (r11): writer lists every 4th sample as sync,
    # the probe reads counts+positions back, absent box stays None
    kf = mm.mp4_track_probe(
        mm.mp4_encode_stub(2000, fps=6, keyframe_every=4)
    )[0]
    assert kf["n_samples"] == 12 and kf["n_sync"] == 3
    assert kf["sync_samples"] == [1, 5, 9]
    assert vide["n_sync"] is None and vide["sync_samples"] is None

    # hand-assembled stss bytes (independent of the writer): a minimal
    # ftyp + moov/trak/mdia/minf/stbl with ONLY an stss box listing
    # samples 2 and 7 — pins the box layout (fullbox header + count +
    # 1-based uint32 entries) straight from ISO 14496-12 8.6.2
    import struct as st

    def _box(t, p):
        return st.pack(">I", 8 + len(p)) + t + p

    stss = _box(b"stss", st.pack(">IIII", 0, 2, 2, 7))
    hand = (
        _box(b"ftyp", b"isom" + st.pack(">I", 512))
        + _box(
            b"moov",
            _box(
                b"trak",
                _box(b"mdia", _box(b"minf", _box(b"stbl", stss))),
            ),
        )
    )
    t = mm.mp4_track_probe(hand)[0]
    assert t["n_sync"] == 2 and t["sync_samples"] == [2, 7]

    media = synthesize_media(spark, n=9, partitions=2)
    probed = {r["media_id"]: r for r in video_probe(media).collect()}
    # video 5: duration 1000*(1+5%30) = 6000 ms, 1 + 5%2 = 2 tracks
    assert probed[5]["err"] is None
    assert probed[5]["duration_ms"] == 6000 and probed[5]["n_tracks"] == 2
    assert probed[5]["brand"] == "isom"
    # fixture videos carry full sample tables at 24 fps since r8
    assert probed[5]["fps"] == 24.0
    assert probed[5]["n_frames"] == 6000 * 24 // 1000
    assert probed[5]["frame_bytes"] == 512 * probed[5]["n_frames"]
    # image rows quarantine the non-MP4 error
    assert probed[0]["err"] is not None


# ------------------------------------------------------------------ dedup


def test_exact_duplicates_and_dedup(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "  The  quick brown FOX "),  # dup after lowercase + ws-normalize
            (3, "the quick brown fox"),
            (4, "something else"),
        ],
        "doc_id long, text string",
    )
    dups = dd.exact_duplicates(df).collect()
    assert len(dups) == 1 and dups[0]["keeper"] == 1 and dups[0]["n_docs"] == 3
    kept = sorted(r["doc_id"] for r in dd.dedup_exact(df).collect())
    assert kept == [1, 4]


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "totally different words here now ok yes no"),
        ],
        "doc_id long, text string",
    )
    got = dd.ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()
    assert len(got) == 1
    assert (got[0]["id_a"], got[0]["id_b"], got[0]["jaccard"]) == (1, 2, 1.0)


def test_minhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5"), (3, "x y z q r s t")],
        "doc_id long, text string",
    )
    sig = dd.minhash_signature_array(df, num_perm=8).collect()
    by = {r["doc_id"]: r["signature"] for r in sig}
    assert by[1] == by[2]
    assert by[1] != by[3]
    assert len(by[1]) == 8


def test_minhash_lsh_index_lookup_roundtrip(spark, tmp_path):
    """Persisted band-hash index screens later batches without recompute:
    parquet round trip preserves buckets bit-exactly, near-dups of indexed
    docs surface, novel docs don't, and an identical re-submitted doc
    doesn't match itself."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "an entirely different document about spark rollups and sketches"),
         (3, "completely unrelated text mentioning parquet row groups")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lsh_index")
    dd.minhash_lsh_index(corpus, num_perm=8, bands=4).write.parquet(path)
    index = spark.read.parquet(path)
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
         (101, "zzz novel content qqq having no overlap whatsoever vvv"),
         (1, "the quick brown fox jumps over the lazy dog today")],   # resubmit
        "doc_id long, text string",
    )
    got = {(r["new_id"], r["index_id"])
           for r in dd.minhash_lsh_lookup(index, batch, num_perm=8, bands=4).collect()}
    assert (100, 1) in got            # exact dup shares every band
    assert all(n != 101 for n, _ in got)   # novel doc matches nothing
    assert (1, 1) not in got          # self-match dropped
    # lookup against the index == the batch rows of full-candidates
    both = corpus.unionByName(batch.filter(F.col("doc_id") > 50))
    full = {tuple(sorted((r["id_a"], r["id_b"])))
            for r in dd.minhash_lsh_candidates(both, num_perm=8, bands=4).collect()}
    assert {tuple(sorted(p)) for p in got} <= full


# ------------------------------------------------------------------ rollup


def test_rollup_composition_exact(spark):
    from firepit_spark.functions.rollup import build_rollup, reaggregate

    rows = [(i, f"2024-01-01T{i % 5:02d}:{(i * 7) % 60:02d}:00", "t" + str(i % 2), float(i))
            for i in range(200)]
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double") \
        .withColumn("ts", F.to_timestamp("ts"))
    fine = build_rollup(df, "ts", ["event_type"], "value", bucket_seconds=60)
    hourly = reaggregate(fine, bucket_seconds=3600)
    # direct hourly aggregation must agree with composed rollup
    direct = (df.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.sum("value"), 6).alias("vs"),
                     F.min("value").alias("vmin"), F.max("value").alias("vmax")))
    got = {(str(r["bucket"]), r["event_type"]): (r["n"], round(float(r["val_sum"]), 6), r["val_min"], r["val_max"])
           for r in hourly.collect()}
    want = {(str(r["bucket"]), r["event_type"]): (r["n"], float(r["vs"]), r["vmin"], r["vmax"])
            for r in direct.collect()}
    assert got == want
    # rolling up a dimension too
    total = reaggregate(fine, bucket_seconds=3600, dims=[])
    assert total.agg(F.sum("n")).first()[0] == 200


def test_shuffle_corpus_deterministic_order(spark):
    from firepit_spark.functions.pipeline import shuffle_corpus

    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(300)], "doc_id long, text string"
    )
    o1 = [r["doc_id"] for r in shuffle_corpus(df, "doc_id", seed="e0").collect()]
    o2 = [r["doc_id"] for r in
          shuffle_corpus(df.repartition(7), "doc_id", seed="e0").collect()]
    # same seed -> same total order, independent of input partitioning
    assert o1 == o2
    assert sorted(o1) == list(range(300))
    # different seed -> different permutation; explicit partition count keeps
    # the same global order when read back in partition-index order
    o3 = [r["doc_id"] for r in shuffle_corpus(df, "doc_id", seed="e1").collect()]
    assert o1 != o3
    o4 = [r["doc_id"] for r in
          shuffle_corpus(df, "doc_id", seed="e0", n_partitions=5).collect()]
    assert o4 == o1


# ------------------------------------------------------------------- graph


def test_process_ancestors_and_tree(spark):
    from firepit_spark.functions.graph import ancestors, process_tree, roots

    # r1 -> a -> b -> c ; r2 (isolated root)
    rows = [("r1", None), ("a", "r1"), ("b", "a"), ("c", "b"), ("r2", None)]
    df = spark.createDataFrame(rows, "id string, parent_ref string")
    anc = {(r["descendant_id"], r["ancestor_id"]): r["depth"]
           for r in ancestors(df).collect()}
    assert anc[("a", "r1")] == 1
    assert anc[("c", "b")] == 1 and anc[("c", "a")] == 2 and anc[("c", "r1")] == 3
    assert ("r1", "a") not in anc
    assert {r["id"] for r in roots(df).collect()} == {"r1", "r2"}
    tree = {r["id"]: (r["root_id"], r["depth"]) for r in process_tree(df).collect()}
    assert tree["c"] == ("r1", 3)
    assert tree["r2"] == ("r2", 0)
    assert tree["r1"] == ("r1", 0)


def test_ancestors_depth_bound(spark):
    from firepit_spark.functions.graph import ancestors

    # chain of 6; max_depth=3 truncates
    rows = [(str(i), str(i - 1) if i else None) for i in range(6)]
    df = spark.createDataFrame(rows, "id string, parent_ref string")
    anc = ancestors(df, max_depth=3).collect()
    assert max(r["depth"] for r in anc) == 3
    assert ("5", "2") in {(r["descendant_id"], r["ancestor_id"]) for r in anc
                          if r["depth"] == 3}


def test_cross_ngram_jaccard(spark):
    """Decontamination join: finds right-corpus docs that near-dup a
    left-corpus doc, never pairs within one corpus."""
    from firepit_spark.functions import release

    train = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely unrelated training content with other words"),
         (4, "the quick brown fox jumps over the lazy dog today")],  # dup of 0, same side
        "doc_id long, text string",
    )
    heldout = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),  # contaminated
         (3, "novel heldout material nothing shares these tokens")],
        "doc_id long, text string",
    )
    got = dd.cross_ngram_jaccard(train, heldout, k=3, threshold=0.5)
    rows = got.collect()
    # both identical train docs flag the contaminated heldout doc; the
    # within-train duplicate (0,4) is NOT reported — cross-corpus only
    assert {(r["left_id"], r["right_id"]) for r in rows} == {(0, 1), (4, 1)}
    assert all(r["jaccard"] == 1.0 for r in rows)
    release(got)

    # bloom-prescreened path (for right corpora too big to broadcast):
    # provably identical output — no false negatives in the prescreen
    bloomed = dd.cross_ngram_jaccard(train, heldout, k=3, threshold=0.5, bloom_fpp=0.01)
    assert {tuple(r) for r in bloomed.collect()} == {tuple(r) for r in rows}
    release(bloomed)


def test_connected_components(spark):
    from firepit_spark.functions import release
    from firepit_spark.functions.graph import connected_components, dedup_clusters

    # two components: a 4-chain {1,2,3,4} (diameter 3 forces multiple
    # propagation rounds) and a pair {10, 11}; 7 isolated-by-edge {7,8}
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (10, 11), (8, 7)], "id_a long, id_b long"
    )
    labels = connected_components(edges)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7}
    release(labels)

    clusters = dedup_clusters(edges)
    byc = {}
    for r in clusters.collect():
        byc.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    assert byc == {1: {1, 2, 3, 4}, 10: {10, 11}, 7: {7, 8}}
    release(clusters)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir routes lineage truncation through reliable
    checkpoint() (failure-durable on a real cluster, unlike
    localCheckpoint); results are identical and checkpoint files land in
    the configured dir."""
    import os

    from firepit_spark.functions import release
    from firepit_spark.functions.graph import connected_components

    ckpt = str(tmp_path / "ckpt")
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (10, 11)], "id_a long, id_b long"
    )
    labels = connected_components(edges, checkpoint_dir=ckpt)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # reliable checkpoints were actually written to the shared dir
    wrote = any(files for _, _, files in os.walk(ckpt))
    assert wrote, "no checkpoint data written under checkpoint_dir"
    release(labels)


def test_connected_components_strict_iteration_budget(spark):
    """max_iter is a hard propagation-step budget (r14-opt): on a
    non-converged chain, exactly max_iter steps run — the r13 double-round
    loop could run max_iter+1. One min-label+jump step over identity
    labels moves every chain node one hop (the jump reads the PREVIOUS
    round's identity labels), so after max_iter=1 node v holds v-1; the
    old behavior (2 steps) would hold v-3 for v>=3."""
    from firepit_spark.functions import release
    from firepit_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    labels = connected_components(edges, max_iter=1)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    release(labels)
    # an even budget still converges the 6-chain (diameter 5, jumps halve)
    labels = connected_components(edges, max_iter=6)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {n: 0 for n in range(6)}
    release(labels)


def test_connected_components_converges_early(spark):
    """A clique converges in one round regardless of max_iter; labels are
    partitioning-independent."""
    from firepit_spark.functions import release
    from firepit_spark.functions.graph import connected_components

    pairs = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long").repartition(4)
    labels = connected_components(edges, max_iter=50)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {n: 0 for n in range(5)}
    release(labels)


def test_release_frees_operator_caches(spark):
    """Iterative/multi-consumer operators persist intermediates; release()
    must drop every cache the operator added (long-lived sessions would
    otherwise accumulate executor storage per call). Tracks the specific
    RDD ids added by each operator — absolute counts would race with the
    ContextCleaner freeing unrelated (e.g. checkpoint) blocks."""
    from firepit_spark.functions import release
    from firepit_spark.functions.graph import ancestors

    def cached_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = cached_ids()

    rows = [(str(i), str(i - 1) if i else None) for i in range(5)]
    df = spark.createDataFrame(rows, "id string, parent_ref string")
    anc = ancestors(df, max_depth=4)
    anc.collect()
    added = cached_ids() - before
    assert added  # levels are cached during/after the run
    release(anc)
    assert not (cached_ids() & added)

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)],
        "doc_id int, text string",
    )
    pairs = dd.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    pairs.collect()
    added = cached_ids() - before
    release(pairs)
    assert not (cached_ids() & added)
    release(pairs)  # idempotent, and safe on plain DataFrames
    release(docs)

    # a projection of a result still frees everything: caches are pinned
    # in one registry, not attached to the returned frame
    wrapped = [
        ancestors(df, max_depth=4).select("descendant_id", "ancestor_id"),
        dd.ngram_jaccard_pairs(docs, k=3, threshold=0.5).select("id_a"),
    ]
    for w in wrapped:
        w.collect()
    added = cached_ids() - before
    assert added
    release(wrapped[0])
    assert not (cached_ids() & added)
    for w in wrapped:
        plan = w.select("*")._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan


# ---------------------------------------------------------------- temporal


def test_asof_join_basic(spark):
    from firepit_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [("u1", "2024-01-01T00:05:00", "e1"),
         ("u1", "2024-01-01T00:20:00", "e2"),
         ("u2", "2024-01-01T00:10:00", "e3"),
         ("u1", "2024-01-01T00:00:00", "e0")],  # before any state
        "k string, ts string, ev string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01T00:03:00", 10.0),
         ("u1", "2024-01-01T00:20:00", 20.0),  # equal-ts visible
         ("u2", "2024-01-01T00:09:00", 30.0)],
        "k string, ts string, state double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r["ev"]: r["state_right"] for r in asof_join(left, right, "k").collect()}
    assert got == {"e0": None, "e1": 10.0, "e2": 20.0, "e3": 30.0}


def test_asof_join_tolerance(spark):
    from firepit_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [("u1", "2024-01-01T01:00:00", "late")], "k string, ts string, ev string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01T00:00:00", 1.0)], "k string, ts string, state double"
    ).withColumn("ts", F.to_timestamp("ts"))
    ok = asof_join(left, right, "k", tolerance_seconds=7200).collect()[0]
    assert ok["state_right"] == 1.0
    out = asof_join(left, right, "k", tolerance_seconds=60).collect()[0]
    assert out["state_right"] is None


def test_asof_and_range_join_on_ntz_timestamps(spark):
    """The driver's events.parquet carries TIMESTAMP_NTZ, where a direct
    cast('double') is illegal — the tolerance and bucketing paths must go
    through the NTZ-safe epoch helper (regression for the round-3 crash)."""
    from firepit_spark.functions.temporal import asof_join, range_join

    ntz = lambda c: F.to_timestamp(c).cast("timestamp_ntz")
    left = spark.createDataFrame(
        [("u1", "2024-01-01T01:00:00", "late")], "k string, ts string, ev string"
    ).withColumn("ts", ntz("ts"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01T00:00:00", 1.0)], "k string, ts string, state double"
    ).withColumn("ts", ntz("ts"))
    ok = asof_join(left, right, "k", tolerance_seconds=7200).collect()[0]
    assert ok["state_right"] == 1.0
    out = asof_join(left, right, "k", tolerance_seconds=60).collect()[0]
    assert out["state_right"] is None

    events = spark.createDataFrame(
        [(1, "2024-01-01T00:30:00"), (2, "2024-01-02T00:00:00")],
        "event_id long, ts string",
    ).withColumn("ts", ntz("ts"))
    iv = spark.createDataFrame(
        [("w1", "2024-01-01T00:00:00", "2024-01-01T01:00:00")],
        "name string, start string, end string",
    ).withColumn("start", ntz("start")).withColumn("end", ntz("end"))
    got = [(r["event_id"], r["name"]) for r in range_join(events, iv, "ts").collect()]
    assert got == [(1, "w1")]


def test_range_join_keyless_bucketized(spark):
    from firepit_spark.functions.temporal import range_join

    events = spark.createDataFrame(
        [(1, "2024-01-01T00:30:00"), (2, "2024-01-01T05:00:00"),
         (3, "2024-01-02T00:00:00")],
        "event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    iv = spark.createDataFrame(
        [("w1", "2024-01-01T00:00:00", "2024-01-01T01:00:00"),
         ("w2", "2024-01-01T04:00:00", "2024-01-01T06:00:00")],
        "name string, start string, end string",
    ).withColumn("start", F.to_timestamp("start")).withColumn("end", F.to_timestamp("end"))
    got = sorted((r["event_id"], r["name"]) for r in range_join(events, iv, "ts").collect())
    assert got == [(1, "w1"), (2, "w2")]


def test_cosine_near_dup_pairs(spark, vectors):
    got = sim.cosine_near_dup_pairs(vectors, threshold=0.99).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (0, 1) in pairs  # [1,0,0] vs [.9,.1,0] -> cos ~0.9939? no: 0.9939 < 0.99?
    # compute: cos = .9/sqrt(.82) = 0.9939 -> included at 0.99
    assert (2, 3) in pairs  # [0,1,0] vs [0,.9,.1] -> same structure
    assert all(r["cos_sim"] >= 0.99 for r in got)
    # LSH variant returns a subset of the exact pairs
    approx = {(r["id_a"], r["id_b"])
              for r in sim.lsh_near_dup_pairs(vectors, threshold=0.99, n_planes=2).collect()}
    assert approx <= pairs


def test_asof_join_multi_key(spark):
    from firepit_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [("u1", "a", "2024-01-01T00:10:00", "e1"),
         ("u1", "b", "2024-01-01T00:10:00", "e2")],
        "k1 string, k2 string, ts string, ev string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("u1", "a", "2024-01-01T00:05:00", 1.0),
         ("u1", "b", "2024-01-01T00:06:00", 2.0)],
        "k1 string, k2 string, ts string, state double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r["ev"]: r["state_right"]
           for r in asof_join(left, right, ["k1", "k2"]).collect()}
    assert got == {"e1": 1.0, "e2": 2.0}


def test_ann_recall_on_testdata(spark):
    """Quality gate for the approximate operators: recall@5 vs brute force
    on the real embeddings table. Multi-table LSH (OR-amplification) must
    recover what a single table misses; IVF with n_probe=2 of 4 cells must
    beat both a priori floors."""
    import os

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        import pytest

        pytest.skip("testdata not present")
    from firepit_spark.session import testdata_resolver

    vecs = testdata_resolver(spark, sf_dir)("embeddings")
    qs = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = {(r["query_id"], r["neighbor_id"])
             for r in sim.brute_force_topk(vecs, qs, k=5).collect()}
    one = {(r["query_id"], r["neighbor_id"])
           for r in sim.lsh_topk(vecs, qs, k=5, n_planes=4).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in sim.lsh_topk(vecs, qs, k=5, n_planes=4, n_tables=8).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in sim.ivf_topk(vecs, qs, k=5, n_cells=4, n_probe=2).collect()}
    r_one = len(one & truth) / len(truth)
    r_multi = len(multi & truth) / len(truth)
    r_ivf = len(ivf & truth) / len(truth)
    assert r_multi >= r_one  # OR-amplification can only add candidates
    assert r_multi >= 0.5    # 8 tables must recover the majority
    assert r_ivf >= 0.6
    # pair variant: same amplification, always a subset of the exact pairs
    sub = vecs.filter(F.col("vec_id") < 300)
    exact_p = {(r["id_a"], r["id_b"])
               for r in sim.cosine_near_dup_pairs(sub, threshold=0.35).collect()}
    multi_p = {(r["id_a"], r["id_b"])
               for r in sim.lsh_near_dup_pairs(
                   sub, threshold=0.35, n_planes=4, n_tables=8).collect()}
    assert multi_p <= exact_p
    assert len(multi_p & exact_p) / len(exact_p) >= 0.5


# ------------------------------------------------------------------ layout


def test_zorder_clustering_tightens_rowgroup_stats(spark, tmp_path):
    """Z-ordered layout keeps parquet row-group min/max tight on BOTH dims,
    so a selective filter on either dim can skip most groups; a layout
    sorted on one dim alone cannot skip on the other. Verified from the
    actual parquet footer stats."""
    import pyarrow.parquet as pq

    from firepit_spark.functions.layout import cluster_zorder

    n = 100_000
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") * 7919 % 10000).alias("a"),
        (F.col("id") * 104729 % 10000).alias("b"),
    )
    opts = {"parquet.block.size": str(64 * 1024)}

    def rowgroup_spans(path, col):
        meta = pq.ParquetFile(next(p for p in (tmp_path / path).glob("*.parquet"))).metadata
        spans = []
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                if c.path_in_schema == col:
                    spans.append((c.statistics.min, c.statistics.max))
        return spans

    df.orderBy("a").coalesce(1).write.options(**opts).parquet(str(tmp_path / "by_a"))
    cluster_zorder(df, ["a", "b"], bits=12, n_partitions=1).coalesce(1) \
        .write.options(**opts).parquet(str(tmp_path / "zord"))

    def hit_frac(spans, lo, hi):
        hits = sum(1 for mn, mx in spans if mx >= lo and mn <= hi)
        return hits / len(spans)

    # filter box: 2% slice of b
    for layout, frac_bound in [("by_a", 0.95), ("zord", 0.5)]:
        spans = rowgroup_spans(layout, "b")
        assert len(spans) > 8, f"{layout}: want many row groups, got {len(spans)}"
        f = hit_frac(spans, 4000, 4200)
        if layout == "by_a":
            # sorted-by-a: b spans ~everything in every group
            assert f > frac_bound, f
        else:
            # z-ordered: most groups skippable on b...
            assert f < frac_bound, f
    # ...while a remains prunable too
    za = rowgroup_spans("zord", "a")
    assert hit_frac(za, 4000, 4200) < 0.5


def test_semantic_dedup_hot_cell_bound(spark):
    """max_cell_size caps per-cell pair work: a degenerate single-centroid
    corpus is hash-split into ceil(n/cap) sub-cells for pairing, so exact
    duplicates still dedup within each sub-cell while the reported
    sem_cell stays the original cell id; a cap above the cell size is a
    no-op vs the uncapped run."""
    n = 40
    rows = [(i, [1.0, 0.0]) for i in range(n)]  # all identical -> one hot cell
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0]]

    uncapped = sim.semantic_dedup(vecs, centroids=cents, threshold=0.99)
    assert [r["vec_id"] for r in uncapped.collect()] == [0]

    capped = sim.semantic_dedup(
        vecs, centroids=cents, threshold=0.99, max_cell_size=10
    )
    kept = sorted(r["vec_id"] for r in capped.collect())
    # one survivor per non-empty hash sub-cell, never more than ceil(n/cap)
    assert 1 <= len(kept) <= 4
    assert {r["sem_cell"] for r in capped.collect()} == {0}

    big_cap = sim.semantic_dedup(
        vecs, centroids=cents, threshold=0.99, max_cell_size=1000
    )
    assert [r["vec_id"] for r in big_cap.collect()] == [0]


def test_semantic_dedup_greedy_and_components(spark):
    # two tight groups + a chain + a loner, fixed centroids so the cell
    # assignment (and thus the whole run) is deterministic
    rows = [
        (0, [1.0, 0.0, 0.0]),   # group A rep
        (1, [0.999, 0.01, 0.0]),  # ~A (cos>0.999 with 0)
        (2, [0.0, 1.0, 0.0]),   # group B rep
        (3, [0.0, 0.999, 0.01]),  # ~B
        (4, [0.0, 0.0, 1.0]),   # loner
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    out = sim.semantic_dedup(vecs, centroids=cents, threshold=0.99)
    kept = sorted(r["vec_id"] for r in out.collect())
    assert kept == [0, 2, 4]
    assert "sem_cell" in out.columns and "embedding" in out.columns

    # chain a-b-c with only adjacent similarity: greedy drops b AND c,
    # components keeps the min element only — both documented semantics
    import math
    th = 0.95
    a = [1.0, 0.0]
    b = [math.cos(0.25), math.sin(0.25)]   # cos(a,b)=0.969 >= th
    c = [math.cos(0.50), math.sin(0.50)]   # cos(b,c)=0.969, cos(a,c)=0.878 < th
    chain = spark.createDataFrame(
        [(10, a), (11, b), (12, c)], "vec_id long, embedding array<double>"
    )
    one_cell = [[1.0, 0.0]]
    g = sorted(r["vec_id"] for r in
               sim.semantic_dedup(chain, centroids=one_cell, threshold=th).collect())
    assert g == [10]  # greedy: 11 dropped (witness 10), 12 dropped (witness 11)
    comp = sorted(r["vec_id"] for r in
                  sim.semantic_dedup(chain, centroids=one_cell, threshold=th,
                                     method="components").collect())
    assert comp == [10]  # same here: one component -> keep min

    # cross-cell near-dups are NOT seen (the approximation SemDeDup makes)
    split = spark.createDataFrame(
        [(20, [0.71, 0.70]), (21, [0.70, 0.71])],
        "vec_id long, embedding array<double>",
    )
    two_cells = [[1.0, 0.0], [0.0, 1.0]]
    s = sorted(r["vec_id"] for r in
               sim.semantic_dedup(split, centroids=two_cells, threshold=0.9).collect())
    assert s == [20, 21]

    # seeded kmeans path runs and keeps a deterministic survivor count
    fit = sim.semantic_dedup(vecs, n_cells=3, threshold=0.99)
    assert fit.count() == 3

    with pytest.raises(ValueError):
        sim.semantic_dedup(vecs, centroids=cents, method="nope")


def test_ngram_contamination(spark):
    train = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "completely unrelated training text about spark plans"),
            (2, "short doc"),
            (3, "quick brown fox jumps over the lazy dog it said"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps over the lazy dog now")],
        ["doc_id", "text"],
    )
    got = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in dd.ngram_contamination(train, ev, n=5).collect()
    }
    # docs 0 and 3 share >=1 5-gram with the eval doc; 1 and 2 don't
    assert set(got) == {(0, 100), (3, 100)}
    assert all(v >= 1 for v in got.values())
    # n larger than every doc -> nothing flagged
    assert dd.ngram_contamination(train, ev, n=40).count() == 0
    # frequency cutoff of 1 kills the shared (hot) n-grams -> documented
    # false-negative trade kicks in
    assert dd.ngram_contamination(train, ev, n=5, max_ngram_freq=1).count() == 0
    # bloom-prescreened path: identical flags (lossless prescreen)
    bloomed = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in dd.ngram_contamination(train, ev, n=5, bloom_fpp=0.01).collect()
    }
    assert bloomed == got
    # containment: eval doc has 11 tokens -> 7 distinct 5-grams; train 0
    # shares the 9-token "the quick...dog" run -> 5 of them; train 3
    # lacks the leading "the" -> only the 4 grams of the 8-token
    # "quick...dog" run
    cont = {
        (r["train_id"], r["eval_id"]): r
        for r in dd.ngram_contamination(
            train, ev, n=5, with_containment=True
        ).collect()
    }
    assert set(cont) == {(0, 100), (3, 100)}
    r0 = cont[(0, 100)]
    assert r0["eval_size"] == 7
    assert r0["n_shared"] == 5 and r0["containment"] == 5 / 7
    r3 = cont[(3, 100)]
    assert r3["n_shared"] == 4 and r3["containment"] == 4 / 7
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dd.ngram_contamination(train, ev, n=0)


def test_zorder_empty_and_all_null(spark):
    from firepit_spark.functions import layout as ly
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], "a double, b double")
    assert ly.cluster_zorder(empty, ["a", "b"]).count() == 0
    allnull = spark.createDataFrame([(None, 1.0), (None, 2.0)], "a double, b double")
    out = ly.cluster_zorder(allnull, ["a", "b"])
    assert out.count() == 2  # constant dim contributes 0 bits, no crash


def test_minhash_lsh_lookup_column_order(spark):
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps " + ("x" if i % 2 else "y")) for i in range(8)],
        ["doc_id", "text"],
    )
    idx = dd.minhash_lsh_index(docs)
    new = spark.createDataFrame([(100, "the quick brown fox jumps y")], ["doc_id", "text"])
    base = {(r["new_id"], r["index_id"]) for r in dd.minhash_lsh_lookup(idx, new).collect()}
    assert base  # the identical-shingle doc collides in every band
    # a reloaded index with reordered columns must give the SAME pairs
    reordered = idx.select("band", "bucket", "doc_id")
    got = {(r["new_id"], r["index_id"]) for r in dd.minhash_lsh_lookup(reordered, new).collect()}
    assert got == base
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dd.minhash_lsh_lookup(idx.withColumn("extra", dd.F.lit(1)), new)


def test_fuzzy_dedup_pipeline(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base + " extra"),                       # near-dup of 0
        (2, base.replace("quick", "rapid")),        # near-dup of 0
        (3, "completely different text about spark catalyst planning"),
        (4, "another unrelated document mentioning parquet row groups"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    cands = dd.minhash_lsh_candidates(df)
    verified = dd.verify_candidate_pairs(df, cands, threshold=0.5)
    vp = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert (0, 1) in vp and vp[(0, 1)] > 0.5
    assert all(3 not in p and 4 not in p for p in vp)

    out = sorted(r["doc_id"] for r in dd.fuzzy_dedup(df, threshold=0.5).collect())
    # the near-dup cluster keeps only doc 0; singletons pass through
    assert 0 in out and 3 in out and 4 in out
    assert 1 not in out
    assert set(out) <= {0, 2, 3, 4}  # 2 survives only if LSH missed it

    # verification kills false candidates: with a sloppy 1-band setting
    # everything collides more, but exact Jaccard still rejects non-dups
    sloppy = dd.fuzzy_dedup(df, bands=1, threshold=0.5)
    s = sorted(r["doc_id"] for r in sloppy.collect())
    assert 3 in s and 4 in s

    # score_col= flips the keep-one rule to best-scoring: doc 1 (longest)
    # survives its cluster instead of min-id doc 0
    scored = df.withColumn("n_chars", F.length("text"))
    best = sorted(
        r["doc_id"]
        for r in dd.fuzzy_dedup(scored, threshold=0.5, score_col="n_chars").collect()
    )
    assert 1 in best and 0 not in best
    assert 3 in best and 4 in best


def test_funnel_and_retention(spark):
    from firepit_spark.functions import events as evf

    rows = [
        # u1 completes view->cart->buy in order
        (1, "2020-01-01 00:00:00", "view"),
        (1, "2020-01-01 00:10:00", "cart"),
        (1, "2020-01-01 00:20:00", "buy"),
        # u2 views then carts (no buy)
        (2, "2020-01-01 01:00:00", "view"),
        (2, "2020-01-01 01:30:00", "cart"),
        # u3 carts BEFORE viewing: order violated, only reaches 'view'
        (3, "2020-01-01 02:00:00", "cart"),
        (3, "2020-01-01 02:10:00", "view"),
        # u4 never does a funnel step
        (4, "2020-01-01 03:00:00", "error"),
        # u5 completes but cart comes 2h after view (window test)
        (5, "2020-01-02 00:00:00", "view"),
        (5, "2020-01-02 02:00:00", "cart"),
        (5, "2020-01-02 02:05:00", "buy"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string, event_type string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))

    got = {r["stage"]: (r["step"], r["n_users"])
           for r in evf.funnel(ev, ["view", "cart", "buy"]).collect()}
    assert got == {1: ("view", 4), 2: ("cart", 3), 3: ("buy", 2)}

    # 1-hour step window: u5's 2h view->cart gap breaks the chain
    within = {r["stage"]: r["n_users"]
              for r in evf.funnel(ev, ["view", "cart", "buy"],
                                  within_seconds=3600).collect()}
    assert within == {1: 4, 2: 2, 3: 1}

    # retention with daily buckets: u1-u4 are day-0 cohort, u5 day-1;
    # add a comeback on day 2 for u1
    ev2 = ev.unionByName(spark.createDataFrame(
        [(1, "2020-01-03 01:00:00", "view")],
        "user_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp")))
    ret = {(r["cohort_bucket"], r["period"]): r["n_users"]
           for r in evf.retention(ev2, bucket_seconds=86400).collect()}
    day0 = min(c for c, p in ret)
    assert ret[(day0, 0)] == 4          # u1..u4
    assert ret[(day0, 2)] == 1          # u1 back two days later
    assert ret[(day0 + 1, 0)] == 1      # u5's cohort

    import pytest as _pytest
    with _pytest.raises(ValueError):
        evf.funnel(ev, [])
    with _pytest.raises(ValueError):
        evf.retention(ev, bucket_seconds=0)


def test_sessionize_batch(spark):
    from firepit_spark.functions.temporal import sessionize

    rows = [
        (1, "2020-01-01 00:00:00"), (1, "2020-01-01 00:10:00"),  # sess 1
        (1, "2020-01-01 01:00:00"),                               # gap>30m: sess 2
        (2, "2020-01-01 00:00:00"),                               # own key: sess 1
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {(r["user_id"], str(r["ts"])): r["sess_id"]
           for r in sessionize(ev, gap_seconds=1800).collect()}
    assert got[(1, "2020-01-01 00:00:00")] == 1
    assert got[(1, "2020-01-01 00:10:00")] == 1
    assert got[(1, "2020-01-01 01:00:00")] == 2
    assert got[(2, "2020-01-01 00:00:00")] == 1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sessionize(ev, gap_seconds=0)


def test_duplicate_spans(spark):
    """Substring-level dedup: shared >=min_tokens verbatim passages at
    arbitrary offsets, invisible to document-level Jaccard."""
    from firepit_spark.functions import release

    passage = " ".join(f"tok{i}" for i in range(20))  # 20-token shared block
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + passage + " gamma delta epsilon zeta"),
            (2, "totally different lead in words here now " + passage),
            (3, " ".join(f"other{i}" for i in range(30))),  # no overlap
        ],
        "doc_id long, text string",
    )
    got = dd.duplicate_spans(docs, k=8, min_tokens=16)
    rows = got.collect()
    assert len(rows) == 1
    r = rows[0]
    # doc 1 has 2 lead tokens before the passage, doc 2 has 7
    assert (r.id_a, r.id_b, r.start_a, r.start_b, r.span_tokens) == (1, 2, 2, 7, 20)
    release(got)

    # below min_tokens: nothing reported
    short = dd.duplicate_spans(docs, k=8, min_tokens=21)
    assert short.count() == 0
    release(short)

    # hot-gram cutoff bounds fan-out: a gram in every doc gets dropped
    many = spark.createDataFrame(
        [(i, "x " * 3 + passage) for i in range(5)], "doc_id long, text string"
    )
    capped = dd.duplicate_spans(many, k=8, min_tokens=16, max_gram_freq=4)
    assert capped.count() == 0
    release(capped)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dd.duplicate_spans(docs, k=8, min_tokens=4)

    # cross-corpus mode: passage shared train->eval located exactly;
    # within-corpus duplication (docs 1 and 2 both hold it) NOT reported
    evald = spark.createDataFrame(
        [(100, "eval preamble " + passage), (101, "clean eval doc with fresh words")],
        "doc_id long, text string",
    )
    x = dd.duplicate_spans(docs, k=8, min_tokens=16, other=evald)
    xr = {(r.id_a, r.id_b, r.start_a, r.start_b, r.span_tokens) for r in x.collect()}
    release(x)
    assert xr == {(1, 100, 2, 2, 20), (2, 100, 7, 2, 20)}


def test_remove_duplicate_spans(spark):
    """Surgery step: the duplicated passage is cut from the id_b doc only;
    id_a and untouched docs keep their text."""
    from firepit_spark.functions import release

    passage = " ".join(f"tok{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + passage + " gamma delta epsilon zeta"),
            # mixed case + whitespace runs in the survivor region: the cut
            # must hit the right tokens (positions are normalized-indexed)
            # while survivors keep their original casing
            (2, "LEAD One  two Three four FIVE six " + passage),
            (3, "independent content " + " ".join(f"o{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    spans = dd.duplicate_spans(docs, k=8, min_tokens=16)
    cleaned = {r.doc_id: r.text for r in dd.remove_duplicate_spans(docs, spans).collect()}
    release(spans)
    # id_a keeps the passage verbatim
    assert passage in cleaned[1]
    # id_b loses exactly the passage, keeps its lead-in with casing intact
    assert cleaned[2] == "LEAD One two Three four FIVE six"
    # untouched doc passes through byte-identical
    assert cleaned[3] == "independent content " + " ".join(f"o{i}" for i in range(20))

    # margin widens the cut
    spans2 = dd.duplicate_spans(docs, k=8, min_tokens=16)
    wide = {r.doc_id: r.text for r in dd.remove_duplicate_spans(docs, spans2, margin=2).collect()}
    release(spans2)
    assert wide[2] == "LEAD One two Three four"

    # leading non-space whitespace must NOT shift the cut (F.trim strips
    # spaces only; a leading \n once produced an off-by-one that cut an
    # innocent token and leaked the last duplicated one)
    docs_nl = spark.createDataFrame(
        [
            (1, "alpha beta " + passage + " tail"),
            (2, "\n\tLEAD one two three four five six " + passage),
        ],
        "doc_id long, text string",
    )
    spans3 = dd.duplicate_spans(docs_nl, k=8, min_tokens=16)
    fixed = {r.doc_id: r.text for r in dd.remove_duplicate_spans(docs_nl, spans3).collect()}
    release(spans3)
    assert fixed[2] == "LEAD one two three four five six"


def test_lsh_band_plan():
    """Optimal banding: the S-curve inflection lands nearest the target,
    and the curve behaves (high recall at threshold, low far below)."""
    plan = dd.lsh_band_plan(16, 0.5)
    assert plan["bands"] * plan["rows_per_band"] == 16
    # candidate probability is monotone in s for any plan
    assert plan["p_below"] < plan["p_at_threshold"] <= plan["p_above"]
    # a high threshold wants more rows per band (sharper AND)
    strict = dd.lsh_band_plan(128, 0.8)
    loose = dd.lsh_band_plan(128, 0.3)
    assert strict["rows_per_band"] > loose["rows_per_band"]
    assert abs(strict["inflection"] - 0.8) < 0.15
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dd.lsh_band_plan(16, 1.5)
    with _pytest.raises(ValueError):
        dd.lsh_band_plan(1, 0.5)


def test_duplicate_spans_properties(spark):
    """Property-style bulk check on a seeded random corpus with planted
    shared passages: every reported span is a REAL verbatim token match
    (soundness), every planted passage is found at its exact offsets
    (completeness), and surgery converges (re-detection finds nothing)."""
    import random

    from firepit_spark.functions import release

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(5000)]

    def filler(n):
        return [rng.choice(vocab) for _ in range(n)]

    docs, planted = [], []
    did = 0
    for pair in range(12):
        plen = rng.randint(16, 40)
        passage = [f"p{pair}x{i}" for i in range(plen)]  # globally unique tokens
        off_a, off_b = rng.randint(0, 30), rng.randint(0, 30)
        a_toks = filler(off_a) + passage + filler(rng.randint(0, 25))
        b_toks = filler(off_b) + passage + filler(rng.randint(0, 25))
        docs.append((did, " ".join(a_toks)))
        docs.append((did + 1, " ".join(b_toks)))
        planted.append((did, did + 1, off_a, off_b, plen))
        did += 2
    for _ in range(10):  # decoys with no shared passage
        docs.append((did, " ".join(filler(rng.randint(20, 60)))))
        did += 1

    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = dd.duplicate_spans(df, k=8, min_tokens=16)
    rows = spans.collect()
    release(spans)

    toks = {i: t.split(" ") for i, t in docs}
    # soundness: the claimed token ranges really are identical
    for r in rows:
        sa = toks[r.id_a][r.start_a : r.start_a + r.span_tokens]
        sb = toks[r.id_b][r.start_b : r.start_b + r.span_tokens]
        assert sa == sb and len(sa) == r.span_tokens
    # completeness: every planted passage >= 16 tokens reported exactly
    got = {(r.id_a, r.id_b, r.start_a, r.start_b, r.span_tokens) for r in rows}
    for want in planted:
        assert want in got
    # maximality: no reported span extends past the real match on either end
    for r in rows:
        ta, tb = toks[r.id_a], toks[r.id_b]
        if r.start_a > 0 and r.start_b > 0:
            assert ta[r.start_a - 1] != tb[r.start_b - 1]
        ea, eb = r.start_a + r.span_tokens, r.start_b + r.span_tokens
        if ea < len(ta) and eb < len(tb):
            assert ta[ea] != tb[eb]

    # surgery converges: nothing >= 16 shared tokens remains
    spans2 = dd.duplicate_spans(df, k=8, min_tokens=16)
    cleaned = dd.remove_duplicate_spans(df, spans2)
    release(spans2)
    again = dd.duplicate_spans(cleaned, k=8, min_tokens=16)
    assert again.count() == 0
    release(again)


def test_dedup_keep_best(spark):
    """Quality-aware keep-one: the highest-scoring doc survives per
    cluster (ties -> lowest id), unclustered docs always survive."""
    from firepit_spark.functions.graph import (
        cluster_representatives,
        dedup_clusters,
        dedup_keep_best,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.4), (99, 0.1)],
        "doc_id long, quality double",
    )
    labels = dedup_clusters(pairs)
    reps = {r.cluster_id: (r.keeper, r.keeper_score, r.n_docs)
            for r in cluster_representatives(labels, docs, "quality").collect()}
    # cluster {1,2,3}: 2 and 3 tie at 0.9 -> lowest id 2 wins
    assert reps[1] == (2, 0.9, 3)
    assert reps[10] == (10, 0.5, 2)

    kept = {r.doc_id for r in dedup_keep_best(docs, labels, "quality").collect()}
    assert kept == {2, 10, 99}


def test_dedup_keep_best_string_ids(spark):
    """String doc ids must work in cluster_representatives/dedup_keep_best:
    the tie-break orders ids ascending without assuming numeric ids
    (advisor r5: the old unary-minus tie-break errored under ANSI or
    NULLed every keeper on string ids)."""
    from firepit_spark.functions.graph import (
        cluster_representatives,
        dedup_clusters,
        dedup_keep_best,
    )

    pairs = spark.createDataFrame(
        [("doc-a", "doc-b"), ("doc-b", "doc-c")], "id_a string, id_b string"
    )
    docs = spark.createDataFrame(
        [("doc-a", 0.2), ("doc-b", 0.9), ("doc-c", 0.9), ("doc-z", 0.1)],
        "doc_id string, quality double",
    )
    labels = dedup_clusters(pairs)
    reps = cluster_representatives(labels, docs, "quality").collect()
    assert len(reps) == 1
    # b and c tie at 0.9 -> lexically-lowest id doc-b wins
    assert (reps[0].keeper, reps[0].keeper_score, reps[0].n_docs) == ("doc-b", 0.9, 3)
    kept = {r.doc_id for r in dedup_keep_best(docs, labels, "quality").collect()}
    assert kept == {"doc-b", "doc-z"}


def test_semantic_dedup_warns_on_degenerate_cells(spark):
    """Uncapped semantic_dedup must SURFACE degeneracy (verdict r5 #8): a
    corpus collapsing into one cell warns toward max_cell_size=; a capped
    run and a balanced clustering stay quiet."""
    import warnings as _warnings

    n = 40
    vecs = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(n)], "vec_id long, embedding array<double>"
    )
    with pytest.warns(UserWarning, match="max_cell_size"):
        sim.semantic_dedup(vecs, centroids=[[1.0, 0.0]], threshold=0.99).collect()

    with _warnings.catch_warnings():
        _warnings.simplefilter("error")  # any UserWarning -> test failure
        # capped: the bound is explicit, no warning
        sim.semantic_dedup(
            vecs, centroids=[[1.0, 0.0]], threshold=0.99, max_cell_size=10
        ).collect()
        # well-clustered corpus (4 balanced cells, no cell holding a
        # dominant share): no warning
        cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
        bal = spark.createDataFrame(
            [(i, cents[i % 4]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        sim.semantic_dedup(bal, centroids=cents, threshold=0.99).collect()
        # perfectly balanced TWO-cell clustering: each cell holds exactly
        # half the rows, which trips a naive 2*mx >= total share test —
        # must stay quiet (advisor r6)
        two = [[1.0, 0.0], [0.0, 1.0]]
        bal2 = spark.createDataFrame(
            [(i, two[i % 2]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        sim.semantic_dedup(bal2, centroids=two, threshold=0.99).collect()


def test_fuzzy_dedup_checkpoint_dir_passthrough(spark, tmp_path):
    """fuzzy_dedup(checkpoint_dir=) reaches the component loop: results
    unchanged vs the uncheckpointed run and checkpoint files land in the
    configured dir (the knob the cluster-submit recipe wires)."""
    import os

    from firepit_spark.functions.dedup import fuzzy_dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today!"),
        (3, "a completely different document about spark shuffles"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ckpt = str(tmp_path / "ckpt")
    kept = sorted(
        r.doc_id
        for r in fuzzy_dedup(
            docs, threshold=0.5, checkpoint_dir=ckpt
        ).collect()
    )
    plain = sorted(
        r.doc_id for r in fuzzy_dedup(docs, threshold=0.5).collect()
    )
    assert kept == plain
    # rdd-N checkpoint dirs land under the configured dir (AQE may
    # coalesce the tiny test frames to zero partitions, so assert the
    # checkpoint DIRECTORIES rather than part files)
    assert any(
        d.startswith("rdd-") for _, dirs, _ in os.walk(ckpt) for d in dirs
    )


def _synthetic_jpeg(scan: bytes) -> bytes:
    """Structurally-valid baseline JPEG shell: SOI, APP0, SOF0 (480x640,
    3 components, 8-bit), SOS header, entropy-coded scan bytes, EOI."""
    import struct

    return (
        b"\xff\xd8"
        + b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xc0\x00\x11\x08"
        + struct.pack(">HH", 480, 640)
        + b"\x03" + b"\0" * 9
        + b"\xff\xda\x00\x0c\x03" + b"\0" * 9
        + scan
        + b"\xff\xd9"
    )


def test_jpeg_features_header_and_entropy():
    """Pure-python JPEG feature scan (no Huffman decode, no codec lib):
    frame geometry from SOF0 and Shannon byte-entropy of the scan data."""
    import math

    from firepit_spark.functions import multimodal as mm

    # 256 evenly distributed byte values -> entropy exactly 8 bits
    scan = bytes(range(256)).replace(b"\xff", b"\xfe")  # avoid marker bytes
    feats = mm.jpeg_features(_synthetic_jpeg(scan))
    assert feats["width"] == 640 and feats["height"] == 480
    assert feats["bits"] == 8 and feats["n_components"] == 3
    assert feats["progressive"] is False
    assert feats["scan_bytes"] == 256
    # one duplicated value (fe twice), one missing (ff): H = 8 - 2/256
    expected = -(254 * (1 / 256) * math.log2(1 / 256) + (2 / 256) * math.log2(2 / 256))
    assert abs(feats["byte_entropy"] - round(expected, 6)) < 1e-6
    # constant scan -> zero entropy
    flat = mm.jpeg_features(_synthetic_jpeg(b"\x00" * 100))
    assert flat["byte_entropy"] == 0.0
    # non-JPEG input -> None
    assert mm.jpeg_features(b"not a jpeg") is None
    assert mm.jpeg_features(None) is None
