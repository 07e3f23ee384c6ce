"""Tests for the training-data-pipeline operators: dedup (exact, minhash,
simhash, jaccard), similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bda_spadochrony_spark.operators import dedup as D
from bda_spadochrony_spark.operators import similarity as S
from bda_spadochrony_spark.operators import text as T
from bda_spadochrony_spark.operators import multimodal as M

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "completely different text about spark distributed query engines here"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (5, "der schnelle braune fuchs springt und ist nicht mit auf zu haus"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def test_exact_dedup_groups_exact_copies(docs):
    out = {r["keep_doc_id"]: r["n_copies"]
           for r in D.exact_dedup(docs, "text", "doc_id").collect()}
    assert out[1] == 2  # docs 1 and 4
    assert out[2] == 1 and out[3] == 1


def test_exact_dedup_by_hash_matches_exact(docs):
    a = sorted((r["keep_doc_id"], r["n_copies"])
               for r in D.exact_dedup(docs, "text", "doc_id").collect())
    b = sorted((r["keep_doc_id"], r["n_copies"])
               for r in D.exact_dedup_by_hash(docs, "text", "doc_id").collect())
    assert a == b


def test_minhash_finds_near_and_exact_dups(docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in D.minhash_dedup(docs, "doc_id", "text",
                                      num_hashes=32, bands=16).collect()}
    assert (1, 4) in pairs          # exact dup always collides
    assert (1, 2) in pairs or (2, 4) in pairs  # near-dup should band-collide
    assert all(3 not in p and 5 not in p for p in pairs)  # distinct docs don't


def test_minhash_recall_and_pruning_on_realistic_vocabulary(spark):
    """The driver testdata's 31-token vocabulary makes random-pair
    Jaccard ~1e-3, so band collisions there say little about real
    corpora. This fixture uses a 5000-token vocabulary (random-pair
    Jaccard ~0): the 16-hash/16-band pipeline must find EVERY planted
    j>=0.5 near-dup (seeded → deterministic; analytic miss probability
    ~(1-j)^16 <= 1.5e-5/pair) while generating candidates for only a
    tiny fraction of all pairs — the recall AND pruning halves of the
    LSH contract at once."""
    import random
    rng = random.Random(13)
    vocab = [f"t{i}" for i in range(5000)]
    texts = [" ".join(rng.choice(vocab) for _ in range(40))
             for _ in range(280)]
    planted = []
    for i in range(20):                      # near-copy docs 280..299
        src = rng.randrange(280)
        toks = texts[src].split(" ")
        for _ in range(4):                   # 4/40 token edits: j ~ 0.7
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        planted.append((src, 280 + i))
        texts.append(" ".join(toks))
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    truth = {(r["id_a"], r["id_b"])
             for r in D.ngram_jaccard_pairs(df, "doc_id", "text", 3)
             .where(F.col("jaccard") >= 0.5).collect()}
    assert len(truth) >= 15                  # most plants survive as j>=0.5
    found = {(r["id_a"], r["id_b"])
             for r in D.minhash_dedup(df, "doc_id", "text", num_hashes=16,
                                      bands=16, min_jaccard=0.5).collect()}
    assert found == truth                    # perfect recall AND precision
    cands = D.minhash_lsh_candidates(
        D.minhash_signatures(df, "doc_id", "text", 16), "doc_id", 16, 16)
    n_cand = cands.count()
    all_pairs = 300 * 299 // 2
    assert n_cand < 0.02 * all_pairs         # <2% of pairs ever verified


def test_minhash_jaccard_verification(docs):
    verified = D.minhash_dedup(docs, "doc_id", "text", num_hashes=32,
                               bands=16, min_jaccard=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert pairs == {(1, 4)}  # only the exact duplicate survives jaccard≥0.99


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"])
    out = D.ngram_jaccard_pairs(df, "doc_id", "text", shingle_n=2).collect()
    # shingles: {ab,bc,cd} vs {ab,bc,ce} → inter 2, union 4 → 0.5
    assert len(out) == 1 and abs(out[0]["jaccard"] - 0.5) < 1e-9


def test_simhash_near_pairs(docs):
    fp = D.simhash(docs, "doc_id", "text", bits=64, shingle_n=2)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.simhash_near_pairs(fp, "doc_id", max_hamming=12,
                                           prefix_bits=8).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 0  # exact dup → identical fp


def test_cosine_topk_selfsim(spark):
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]), (4, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.cosine_topk(df, df, "vec_id", "vec_id", k=1)
    best = {r["query_id"]: r["corpus_id"] for r in out.collect()}
    assert best[1] == 2 and best[2] == 1  # 1 and 2 are mutual nearest


def test_pairwise_cosine_threshold(spark):
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r["id_a"], r["id_b"]) for r in
             S.pairwise_cosine(df, "vec_id", min_cosine=0.99).collect()}
    assert pairs == {(1, 2)}


def test_lsh_bucket_topk_recalls_identicals(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    rows += [(100, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])]  # = vec 0
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.lsh_bucket_topk(df, df, "vec_id", "vec_id", k=1, planes=4, dim=8)
    best = {r["query_id"]: (r["corpus_id"], r["cosine"]) for r in out.collect()}
    # identical vectors always share every hyperplane bucket
    assert best[0][0] == 100 and abs(best[0][1] - 1.0) < 1e-9


def test_lsh_bucket_topk_no_broadcast_when_queries_are_corpus(spark):
    """broadcast_queries=False must yield a shuffled bucket join — a
    corpus-sized query side can never be broadcast at scale."""
    rows = [(i, [float((i >> j) & 1) for j in range(8)]) for i in range(32)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.lsh_bucket_topk(df, df, "vec_id", "vec_id", k=1, planes=4, dim=8,
                            broadcast_queries=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    # forced broadcast still available for genuinely small query batches
    out_b = S.lsh_bucket_topk(df, df.limit(2), "vec_id", "vec_id", k=1,
                              planes=4, dim=8, broadcast_queries=True)
    plan_b = out_b._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_b


def test_language_detection(docs):
    out = {r["doc_id"]: r["lang"] for r in docs.select(
        "doc_id", T.detect_language("text").alias("lang")).collect()}
    assert out[1] == "en" and out[5] == "de"
    und = docs.sparkSession.createDataFrame([(9, "zzz qqq xxx")], ["doc_id", "text"])
    assert und.select(T.detect_language("text").alias("l")).first()["l"] == "und"


def test_quality_and_fingerprint(docs):
    q = T.quality_score(docs, "text")
    vals = {r["doc_id"]: r["quality"] for r in q.collect()}
    assert all(0.0 <= v <= 1.0 for v in vals.values())
    short = docs.sparkSession.createDataFrame([(9, "hi")], ["doc_id", "text"])
    assert T.quality_score(short, "text").first()["quality"] < vals[1]

    fp = T.fingerprint(docs, "doc_id", "text")
    fps = {r["doc_id"]: r["fingerprint"] for r in fp.collect()}
    assert fps[1] == fps[4] and fps[1] != fps[3]  # dup same, distinct differs


def test_token_counts(docs):
    out = docs.select("doc_id", T.token_count("text").alias("n"),
                      T.bpe_ish_token_count("text").alias("nb")).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n"] == 13
    assert all(r["nb"] >= r["n"] for r in out)  # BPE-ish splits ≥ whitespace


def test_multimodal_image_features(spark):
    rows = [(1, "image", "image/fake", bytes(range(100)), None, None, None),
            (2, "audio", "audio/fake", b"\x01\x02", None, None, None),
            (3, "image", "image/fake", b"", None, None, None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in M.extract_image_features(df, fake=True).collect()}
    assert set(out) == {1, 3}                      # audio row filtered out
    assert out[1]["n_bytes"] == 100 and out[1]["width"] == 101
    assert out[3]["n_bytes"] == 0


def test_multimodal_decode_stub_raises_without_fake(spark):
    rows = [(1, "image", "image/fake", b"xx", None, None, None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    with pytest.raises(Exception):  # NotImplementedError surfaces via Py4J
        M.extract_image_features(df, fake=False).collect()


def test_multimodal_resize_and_frames(spark):
    rows = [(1, "image", "image/fake", bytes(range(200)), None, None, None),
            (2, "video", "video/fake", b"\x00", None, None, 3500)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    r = M.resize_images(df, 8, 8, fake=True).first()
    assert len(r["payload"]) == 1 and r["width"] == 8
    frames = M.sample_video_frames(df, every_ms=1000).collect()
    assert [f["frame_ms"] for f in frames] == [0, 1000, 2000, 3000]


def test_cosine_topk_blocked_matches_exact(spark):
    """Distributed block matmul (collect-free) returns the identical exact
    top-k set, including string ids surviving the Arrow round-trip."""
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(4)
    a = {(r["query_id"], r["corpus_id"]) for r in
         S.cosine_topk(df, df, "vec_id", "vec_id", k=3).collect()}
    b = {(r["query_id"], r["corpus_id"]) for r in
         S.cosine_topk_blocked(df, df, "vec_id", "vec_id", k=3,
                               corpus_blocks=3, query_blocks=2).collect()}
    assert a == b
    sdf = df.select((F.concat(F.lit("v"), F.col("vec_id").cast("string")))
                    .alias("vec_id"), "embedding")
    c = {(r["query_id"], r["corpus_id"]) for r in
         S.cosine_topk_blocked(sdf, sdf, "vec_id", "vec_id", k=3,
                               corpus_blocks=3, query_blocks=2).collect()}
    assert c == {(f"v{q}", f"v{t}") for q, t in a}


def test_multimodal_real_decode_builtin_formats(spark):
    """r7 (VERDICT r6 stretch #7): the REAL decode branch runs in CI with
    no image library — vendored pure-Python netpbm (P6/P5) and
    uncompressed-BMP decoders; when PIL happens to be present the same
    branch also decodes PNG. This retires the environment-dependent skip."""
    import struct
    # P6 PPM, 4x2, solid RGB(100, 200, 50): luma = (299*100+587*200+114*50)//1000
    ppm = b"P6\n4 2\n255\n" + bytes([100, 200, 50]) * 8
    # P5 PGM, 3x1, gray 77
    pgm = b"P5\n3 1\n255\n" + bytes([77, 77, 77])
    # 24-bit BMP, 2x2, solid BGR(50, 200, 100) — 2 bytes row padding
    stride = (2 * 3 + 3) & ~3
    bmp = (b"BM" + struct.pack("<IHHI", 54 + stride * 2, 0, 0, 54) +
           struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, stride * 2,
                       2835, 2835, 0, 0) +
           (bytes([50, 200, 100]) * 2 + b"\0\0") * 2)
    rows = [(1, "image", "image/x-portable-pixmap", ppm, None, None, None),
            (2, "image", "image/x-portable-graymap", pgm, None, None, None),
            (3, "image", "image/bmp", bmp, None, None, None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in
           M.extract_image_features(df, fake=False).collect()}
    luma = (299 * 100 + 587 * 200 + 114 * 50) // 1000
    assert (got[1]["width"], got[1]["height"], got[1]["mean_intensity"]) == \
        (4, 2, luma)
    assert (got[2]["width"], got[2]["height"], got[2]["mean_intensity"]) == \
        (3, 1, 77)
    assert (got[3]["width"], got[3]["height"], got[3]["mean_intensity"]) == \
        (2, 2, luma)
    try:
        import io
        from PIL import Image
    except ImportError:
        return  # netpbm/BMP coverage above is the always-on contract
    buf = io.BytesIO()
    Image.new("L", (12, 8), color=77).save(buf, format="PNG")
    png_df = spark.createDataFrame(
        [(9, "image", "image/png", buf.getvalue(), None, None, None)],
        M.MEDIA_SCHEMA)
    r = M.extract_image_features(png_df, fake=False).first()
    assert (r["width"], r["height"], r["mean_intensity"]) == (12, 8, 77)


def _make_avi(frames_rgb, w, h, us_per_frame):
    """Minimal uncompressed BI_RGB AVI: RIFF(hdrl(avih, strl(strf)),
    movi(00db...)) with solid-color bottom-up padded DIB frames."""
    import struct

    def chunk(fourcc, data):
        return (fourcc + struct.pack("<I", len(data)) + data +
                (b"\0" if len(data) % 2 else b""))

    def lst(listtype, body):
        return chunk(b"LIST", listtype + body)

    stride = (w * 3 + 3) & ~3
    avih = struct.pack("<I", us_per_frame) + b"\0" * 52
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                       0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl",
                                                   chunk(b"strf", strf)))
    dibs = b"".join(
        chunk(b"00db",
              (bytes([b, g, r]) * w + b"\0" * (stride - 3 * w)) * h)
        for r, g, b in frames_rgb)
    body = hdrl + lst(b"movi", dibs)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body


def test_multimodal_real_video_frames(spark):
    """r8 (VERDICT r7 #7): the REAL video branch runs in CI with no
    video library — vendored uncompressed-AVI (container timing drives
    the every_ms sampling) and concatenated-netpbm streams (no timing →
    every frame, frame_ms NULL). This retires the module's last
    library-only NotImplementedError."""
    luma = lambda r, g, b: (299 * r + 587 * g + 114 * b) // 1000
    # 3 frames at 25fps (40ms): sampling at 50ms keeps frames 0 and 2
    avi = _make_avi([(100, 200, 50), (0, 0, 0), (255, 255, 255)],
                    w=3, h=2, us_per_frame=40000)
    ppm_stream = (b"P6\n2 1\n255\n" + bytes([10, 20, 30]) * 2 +
                  b"P5\n2 2\n255\n" + bytes([77] * 4))
    rows = [(1, "video", "video/x-msvideo", avi, None, None, 120),
            (2, "video", "application/x-ppm-stream", ppm_stream,
             None, None, None),
            (3, "video", "video/x-msvideo", b"", None, None, None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    got = M.sample_video_frames(df, every_ms=50, fake=False).collect()
    by_media = {}
    for r in got:
        by_media.setdefault(r["media_id"], []).append(r)
    avi_rows = sorted(by_media[1], key=lambda r: r["frame_idx"])
    assert [(r["frame_idx"], r["frame_ms"], r["width"], r["height"],
             r["mean_intensity"]) for r in avi_rows] == \
        [(0, 0, 3, 2, luma(100, 200, 50)), (2, 80, 3, 2, 255)]
    stream_rows = sorted(by_media[2], key=lambda r: r["frame_idx"])
    assert [(r["frame_idx"], r["frame_ms"], r["width"], r["height"],
             r["mean_intensity"]) for r in stream_rows] == \
        [(0, None, 2, 1, luma(10, 20, 30)), (1, None, 2, 2, 77)]
    assert 3 not in by_media                  # empty payload: no frames
    # unknown codec raises the documented error, not silence
    bad = spark.createDataFrame(
        [(9, "video", "video/mp4", b"\x00\x00\x00\x18ftypmp42", None,
          None, None)], M.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="video library|NotImplemented"):
        M.sample_video_frames(bad, fake=False).collect()


def test_multimodal_real_resize_roundtrip(spark):
    """r8: the REAL resize branch (nearest-neighbor over the vendored
    rasters, normalized P6 output) — the output must itself decode
    through the real image path with the same intensity."""
    import struct
    luma = (299 * 100 + 587 * 200 + 114 * 50) // 1000
    ppm = b"P6\n4 2\n255\n" + bytes([100, 200, 50]) * 8
    stride = (2 * 3 + 3) & ~3
    bmp = (b"BM" + struct.pack("<IHHI", 54 + stride * 2, 0, 0, 54) +
           struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, stride * 2,
                       2835, 2835, 0, 0) +
           (bytes([50, 200, 100]) * 2 + b"\0\0") * 2)
    rows = [(1, "image", "image/x-portable-pixmap", ppm, None, None, None),
            (2, "image", "image/bmp", bmp, None, None, None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in
           M.resize_images(df, 2, 1, fake=False).collect()}
    assert bytes(out[1]["payload"]) == \
        b"P6\n2 1\n255\n" + bytes([100, 200, 50]) * 2
    assert (out[2]["width"], out[2]["height"]) == (2, 1)
    # round-trip: resized payloads decode through the real image branch
    back = spark.createDataFrame(
        [(i, "image", "image/x-portable-pixmap", bytes(r["payload"]),
          None, None, None) for i, r in out.items()], M.MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in
             M.extract_image_features(back, fake=False).collect()}
    assert (feats[1]["width"], feats[1]["height"],
            feats[1]["mean_intensity"]) == (2, 1, luma)
    assert feats[2]["mean_intensity"] == luma


def test_multimodal_decoders_reject_degenerate_headers():
    """r8 (ADVICE): corrupt headers must raise a TYPED ValueError, never
    a ZeroDivisionError/garbage value — (a) 16-bit netpbm (maxval > 255,
    2-byte samples) was silently mis-decoded as 1-byte samples; (b) a
    BMP claiming width/height 0 divided by zero in the mean; (c) a
    negative width yielded a nonsense floor-divided mean."""
    import struct
    with pytest.raises(ValueError, match="maxval"):
        M._decode_ppm_bytes(b"P5\n2 1\n65535\n" + bytes(4))
    with pytest.raises(ValueError, match="maxval"):
        M._decode_ppm_bytes(b"P6\n1 1\n0\n" + bytes(3))

    def bmp_with_dims(w, h):
        stride = max((w * 3 + 3) & ~3, 0)
        body = bytes(stride * abs(h)) if w > 0 else b"\0" * 64
        return (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54) +
                struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                            2835, 2835, 0, 0) + body)
    for w, h in [(0, 2), (2, 0), (-3, 2)]:
        with pytest.raises(ValueError, match="dimensions"):
            M._decode_bmp_bytes(bmp_with_dims(w, h))
    # the guard must not reject valid payloads (top-down BMP: negative h)
    ok = M._decode_bmp_bytes(bmp_with_dims(2, -2))
    assert (ok["width"], ok["height"]) == (2, 2)


def _make_wav(samples, rate=8000, sampwidth=2, channels=1):
    """Minimal RIFF/WAVE PCM via the stdlib wave writer (the decoder
    under test reads with the same module, but the assertions check
    hand-computed duration/RMS values, not a round-trip identity)."""
    import io
    import struct
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        if sampwidth == 2:
            w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
        else:
            w.writeframes(bytes(samples))
    return buf.getvalue()


def test_multimodal_real_audio_wav(spark):
    """r8: the REAL audio branch runs in CI with no audio library —
    vendored RIFF/WAVE PCM decode via the stdlib ``wave`` module (the
    audio twin of the netpbm/BMP/AVI moves). Known-value assertions:
    800 frames at 8 kHz = 100 ms; constant amplitude 16384/32768 = 0.5
    → rms_level int(255·0.5) = 127; 8-bit silence (128) → rms 0."""
    wav16 = _make_wav([16384] * 800, rate=8000, sampwidth=2)
    wav8 = _make_wav([128] * 400, rate=4000, sampwidth=1)
    rows = [(1, "audio", "audio/wav", wav16, None, None, None),
            (2, "audio", "audio/wav", wav8, None, None, 999)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in
           M.extract_audio_features(df, fake=False).collect()}
    assert (got[1]["duration_ms"], got[1]["sample_rate"],
            got[1]["rms_level"]) == (100, 8000, 127)
    # real decode derives duration from the payload, not the metadata
    assert (got[2]["duration_ms"], got[2]["sample_rate"],
            got[2]["rms_level"]) == (100, 4000, 0)
    assert got[1]["n_bytes"] == len(wav16)
    # compressed WAV (format tag 2 = ADPCM): typed error, not garbage
    adpcm = bytearray(_make_wav([0] * 4))
    adpcm[20:22] = (2).to_bytes(2, "little")
    with pytest.raises(ValueError, match="WAV"):
        M._decode_wav_bytes(bytes(adpcm))
    # truncated RIFF header: typed error
    with pytest.raises(ValueError, match="WAV"):
        M._decode_wav_bytes(b"RIFF\x04\x00\x00\x00WAVE")
    # non-WAV payload without soundfile: the documented stub error
    mp3 = spark.createDataFrame(
        [(9, "audio", "audio/mpeg", b"\xff\xfb\x90\x00" + bytes(64),
          None, None, None)], M.MEDIA_SCHEMA)
    try:
        import soundfile  # noqa: F401
    except ImportError:
        with pytest.raises(Exception, match="soundfile|NotImplemented"):
            M.extract_audio_features(mp3, fake=False).collect()


def test_ivf_topk_recall(spark):
    """IVF with n_probe == n_lists is exact; with fewer probes, recall of
    the true top-1 should stay high on clustered data."""
    import random
    rng = random.Random(5)
    rows = []
    for cl in range(4):                      # 4 well-separated clusters
        center = [10.0 * (cl == j) for j in range(8)]
        for i in range(25):
            rows.append((cl * 100 + i,
                         [c + rng.uniform(-0.5, 0.5) for c in center]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(4)
    exact = {r["query_id"]: r["corpus_id"] for r in
             S.cosine_topk(df, df, "vec_id", "vec_id", k=1).collect()}
    ivf = {r["query_id"]: r["corpus_id"] for r in
           S.ivf_topk(df, df, "vec_id", "vec_id", k=1,
                      n_lists=4, n_probe=1).collect()}
    hits = sum(1 for q, c in ivf.items() if exact.get(q) == c)
    assert len(ivf) == 100
    assert hits >= 95  # same-cluster neighbors live in the probed cell


def test_sketch_accuracy_vs_exact(spark):
    """HLL and approx-percentile estimates land within tolerance of exact."""
    from bda_spadochrony_spark.sources.readers import scan
    ev = scan(spark, "/root/testdata/sf0.001/events.parquet")
    row = (ev.agg(F.approx_count_distinct("user_id", rsd=0.02).alias("a"),
                  F.countDistinct("user_id").alias("e"),
                  F.percentile_approx("value", 0.5, 1000).alias("ap"),
                  F.expr("percentile(value, 0.5)").alias("ep")).first())
    assert abs(row["a"] - row["e"]) <= max(3, 0.05 * row["e"])
    assert abs(row["ap"] - row["ep"]) <= 0.05 * max(abs(row["ep"]), 1)


def test_pairwise_cosine_blocked_matches_bruteforce(spark):
    import random
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    # plant two near-dup pairs
    rows[50] = (50, [x * 1.01 for x in rows[0][1]])
    rows[51] = (51, [x * 0.99 for x in rows[1][1]])
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(4)
    want = {(r["id_a"], r["id_b"]) for r in
            S.pairwise_cosine(df, "vec_id", min_cosine=0.9).collect()}
    got = {(r["id_a"], r["id_b"]) for r in
           S.pairwise_cosine_blocked(df, "vec_id", min_cosine=0.9,
                                     blocks=3).collect()}
    assert (0, 50) in got and (1, 51) in got
    assert got == want


def _min_label_propagation(pairs, id_a, id_b, max_iter):
    """Equality reference for ``dedup_clusters``: minimum-label
    propagation — every round each node adopts min(own label, neighbors'
    labels); converges in O(component diameter) rounds. Returns
    ((id, canonical_id) labels for every node in ``pairs``, rounds), or
    (None, max_iter) if the budget runs out."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    labels = (edges.select(F.col("src").alias("id"))
              .union(edges.select("dst")).distinct()
              .withColumn("label", F.col("id")))
    for rounds in range(1, max_iter + 1):
        nbr = (sym.join(labels, sym.dst == labels.id)
               .groupBy("src").agg(F.min("label").alias("nbr_min")))
        merged = (labels.join(nbr, labels.id == nbr.src, "left")
                  .select(labels.id.alias("id"),
                          F.col("label").alias("old_label"),
                          F.least(F.col("label"),
                                  F.coalesce("nbr_min", F.col("label")))
                          .alias("label")))
        labels = merged.localCheckpoint(eager=True)  # cut lineage per round
        if labels.where(F.col("label") != F.col("old_label")).isEmpty():
            return labels.select("id", F.col("label").alias("canonical_id")), rounds
    return None, max_iter


def test_dedup_clusters_chain_and_islands(spark):
    """A 4-node chain (worst diameter) collapses to one canonical id;
    disjoint pairs stay separate components."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11),                    # island
         (20, 21), (21, 22)],         # triangle-ish chain
        ["id_a", "id_b"])
    got = {r["id"]: r["canonical_id"]
           for r in D.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_dedup_clusters_raises_on_nonconvergence(spark, monkeypatch):
    """A component whose diameter exceeds the round budget must fail loudly
    — partial propagation would yield multiple canonical ids for one
    component, which is silent data corruption for a dedup pipeline.
    The in-memory finish cannot run out of rounds, so the edge limit is
    forced to 0 to run star contraction."""
    monkeypatch.setattr(D, "_LOCAL_EDGE_LIMIT", 0)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="did not converge"):
        D.dedup_clusters(pairs, max_iter=1)


def test_star_contraction_matches_propagation_fewer_rounds(spark, monkeypatch):
    """Large-star/small-star converges in O(log n) rounds on a chain —
    the worst case for O(diameter) propagation — with identical output.
    The edge limit is forced to 0 so the rounds counted are star's."""
    monkeypatch.setattr(D, "_LOCAL_EDGE_LIMIT", 0)
    n = 17
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, n)],
                                  ["id_a", "id_b"])
    _, star_rounds = D._star_contraction(pairs, "id_a", "id_b", 40)
    prop_labels, prop_rounds = _min_label_propagation(pairs, "id_a", "id_b", 40)
    assert star_rounds < prop_rounds, (star_rounds, prop_rounds)

    star = {r["id"]: r["canonical_id"]
            for r in D.dedup_clusters(pairs).collect()}
    prop = {r["id"]: r["canonical_id"] for r in prop_labels.collect()}
    assert star == prop == {i: 1 for i in range(1, n + 1)}


def _cc_graphs():
    """Adversarial duplicate graphs: (name, ddl, pairs)."""
    # 40 nodes 40-39-…-21-1-2-…-20: the minimum sits mid-chain, so the
    # propagation reference needs 20 rounds rather than 39
    path = list(range(40, 20, -1)) + list(range(1, 21))
    chain = list(zip(path, path[1:]))
    hub = [(100, 100 + i) for i in range(1, 31)]
    dup_rev = [(5, 3), (3, 5), (3, 5), (7, 5), (5, 7), (9, 8)]
    loops = [(1, 1), (2, 2), (2, 3), (4, 4), (3, 4)]
    nulls = [(1, None), (None, 2), (None, None), (3, 4), (4, None)]
    islands = [(1, 2), (30, 31), (31, 32), (60, 61)]
    return [
        ("chain40", "id_a: int, id_b: int", chain),
        ("hub30", "id_a: bigint, id_b: bigint", hub),
        ("dup_reversed", "id_a: bigint, id_b: bigint", dup_rev),
        ("self_loops", "id_a: int, id_b: int", loops),
        ("null_ids", "id_a: bigint, id_b: bigint", nulls),
        ("islands3", "id_a: int, id_b: int", islands),
        ("empty", "id_a: bigint, id_b: bigint", []),
        ("string_chain", "id_a: string, id_b: string",
         [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(6)]
         + [("z", "y"), ("y", "x"), ("q", "q")]),
        ("string_nulls", "id_a: string, id_b: string",
         [("b", "a"), ("a", None), (None, None), ("c", "b")]),
        # not an in-memory id type: both settings run star contraction
        ("double_ids", "id_a: double, id_b: double",
         [(2.5, 1.5), (1.5, 0.5), (7.0, 8.0)]),
    ]


@pytest.mark.parametrize("graph", _cc_graphs(), ids=lambda g: g[0])
def test_dedup_clusters_local_finish_matches_star(spark, monkeypatch, graph):
    """The in-memory finish (default edge limit) and star contraction
    (limit forced to 0) give identical labels, with identical types, and
    both equal the min-label propagation reference."""
    _, ddl, rows = graph
    pairs = spark.createDataFrame(rows, ddl)

    def labels():
        out = D.dedup_clusters(pairs)
        return out.dtypes, sorted(
            (tuple(r) for r in out.collect()),
            key=lambda t: tuple((v is None, str(v)) for v in t))

    local = labels()
    monkeypatch.setattr(D, "_LOCAL_EDGE_LIMIT", 0)
    star = labels()
    assert local == star
    ref, _ = _min_label_propagation(pairs, "id_a", "id_b", 60)
    want = sorted((tuple(r) for r in ref.collect()),
                  key=lambda t: tuple((v is None, str(v)) for v in t))
    assert local[1] == want
    id_type = dict(pairs.dtypes)["id_a"]
    assert local[0] == [("id", id_type), ("canonical_id", id_type)]


# ------------------------------------------------- deterministic sampling --

def test_hash_sample_is_partition_invariant(spark):
    from bda_spadochrony_spark.operators import sampling as SA
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = sorted(r[0] for r in SA.hash_sample(df, "doc_id", 0.3).collect())
    b = sorted(r[0] for r in
               SA.hash_sample(df.repartition(7), "doc_id", 0.3).collect())
    assert a == b and len(a) > 0


def test_hash_sample_fraction_is_approximately_honored(spark):
    from bda_spadochrony_spark.operators import sampling as SA
    df = spark.range(0, 10000).withColumnRenamed("id", "doc_id")
    n = SA.hash_sample(df, "doc_id", 0.2).count()
    assert 0.15 * 10000 < n < 0.25 * 10000


def test_hash_sample_salts_give_different_samples(spark):
    from bda_spadochrony_spark.operators import sampling as SA
    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = set(r[0] for r in SA.hash_sample(df, "doc_id", 0.2, salt=0).collect())
    b = set(r[0] for r in SA.hash_sample(df, "doc_id", 0.2, salt=1).collect())
    assert a != b
    # independent samples overlap ~ fraction^2, not ~ fraction
    assert len(a & b) < 0.5 * len(a)


def test_stratified_hash_sample_respects_per_stratum_fractions(spark):
    from bda_spadochrony_spark.operators import sampling as SA
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(8000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = SA.stratified_hash_sample(df, "doc_id", "lang",
                                    {"en": 0.1, "de": 0.6})
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.05 * 4000 < counts["en"] < 0.15 * 4000
    assert 0.5 * 4000 < counts["de"] < 0.7 * 4000


def test_stratified_default_fraction_zero_drops_unknown_strata(spark):
    from bda_spadochrony_spark.operators import sampling as SA
    df = spark.createDataFrame([(1, "xx"), (2, "en")], ["doc_id", "lang"])
    out = SA.stratified_hash_sample(df, "doc_id", "lang", {"en": 1.0})
    assert [r["lang"] for r in out.collect()] == ["en"]


def test_contamination_fractions(spark):
    from bda_spadochrony_spark.operators.corpus import contamination
    corp = spark.createDataFrame(
        [(1, "a b c d e"),          # shingles: abc bcd cde -> 1 hit (abc)
         (2, "x y z w v")],         # no overlap
        ["doc_id", "text"])
    bench = spark.createDataFrame([(9, "a b c q r")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            contamination(corp, bench, "doc_id", "text", 3).collect()}
    assert rows[1]["n_shingles"] == 3 and rows[1]["n_contaminated"] == 1
    assert abs(rows[1]["contamination"] - 1 / 3) < 1e-3
    assert rows[2]["n_contaminated"] == 0 and rows[2]["contamination"] == 0.0


def test_pack_documents_offsets_and_straddle(spark):
    from bda_spadochrony_spark.operators.corpus import pack_documents
    # one shard; docs of 3,4,5 tokens, budget 6:
    # id 0 starts at 0 (pack 0, off 0); id 8 starts at 3 (pack 0, off 3,
    # straddles the cut); id 16 starts at 7 (pack 1, off 1)
    df = spark.createDataFrame(
        [(0, "a b c"), (8, "d e f g"), (16, "h i j k l")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            pack_documents(df, "doc_id", "text", budget=6, num_shards=8).collect()}
    assert all(r["shard"] == 0 for r in rows.values())
    assert (rows[0]["pack_id"], rows[0]["pack_offset"]) == (0, 0)
    assert (rows[8]["pack_id"], rows[8]["pack_offset"]) == (0, 3)
    assert (rows[16]["pack_id"], rows[16]["pack_offset"]) == (1, 1)


def test_repetition_features_known_values(spark):
    # "a a a b c" -> 5 tokens, 3 distinct, top "a"×3; 3-grams:
    # "a a a","a a b","a b c" -> all distinct -> dup fraction 0
    # "x y x y x y" -> 6 tokens, 2 distinct, top 3; 3-grams:
    # "x y x","y x y","x y x","y x y" -> 2 distinct of 4 -> 0.5
    df = spark.createDataFrame(
        [(1, "a a a b c"), (2, "x y x y x y")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            T.repetition_features(df, "doc_id", "text").collect()}
    assert rows[1]["r_n_tokens"] == 5
    assert rows[1]["r_distinct_token_fraction"] == 0.6
    assert rows[1]["r_top_token_fraction"] == 0.6
    assert rows[1]["r_dup_3gram_fraction"] == 0.0
    assert rows[2]["r_n_tokens"] == 6
    assert abs(rows[2]["r_distinct_token_fraction"] - 2 / 6) < 1e-3
    assert rows[2]["r_top_token_fraction"] == 0.5
    assert rows[2]["r_dup_3gram_fraction"] == 0.5


def test_repetition_features_short_doc_has_zero_dup_3gram(spark):
    """Docs with <3 raw-split tokens produce NO shingle rows; the
    left-join NULL must read as 0.0 (no 3-grams → no duplication), not
    NULL and not 1.0 — the round-4 advice divergence vs the oracle."""
    df = spark.createDataFrame(
        [(1, "ab cd"), (2, "solo"), (3, "")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in
            T.repetition_features(df, "doc_id", "text").collect()}
    for d in (1, 2, 3):
        assert rows[d]["r_dup_3gram_fraction"] == 0.0, rows[d]


def test_pii_scrub_redacts_each_kind_and_leaves_text(spark):
    raw = "mail bob.smith+x@corp.example.org at https://a.b/c?d=1 tel 12345678 ok 12345"
    out = spark.createDataFrame([(raw,)], ["t"]) \
        .select(T.pii_scrub("t").alias("s")).first()["s"]
    assert out == "mail <EMAIL> at <URL> tel <NUM> ok 12345"


# --------------------------------------------------- normalize / chunking --

def test_normalize_text_strips_punct_and_collapses_whitespace(spark):
    out = spark.createDataFrame([("HéLLo,  Wörld! 42x",)], ["t"]) \
        .select(T.normalize_text("t").alias("n")).first()["n"]
    assert out == "héllo wörld 42x"


def test_chunk_documents_covers_every_token_with_overlap(spark):
    n_tok, size, stride = 130, 50, 40
    text = " ".join(f"w{i}" for i in range(n_tok))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    chunks = T.chunk_documents(df, "doc_id", "text", size, stride) \
        .orderBy("chunk_id").collect()
    # starts 0, 40, 80, 120 -> 4 chunks; last has 10 tokens
    assert [r["chunk_id"] for r in chunks] == [0, 1, 2, 3]
    assert chunks[0]["chunk"].split(" ")[0] == "w0"
    assert chunks[-1]["chunk_tokens"] == n_tok - 3 * stride
    # consecutive chunks overlap by size - stride tokens
    c0, c1 = chunks[0]["chunk"].split(" "), chunks[1]["chunk"].split(" ")
    assert c0[stride:] == c1[:size - stride]
    # every token appears in at least one chunk
    seen = set(t for r in chunks for t in r["chunk"].split(" "))
    assert len(seen) == n_tok


def test_chunk_documents_short_doc_yields_single_chunk(spark):
    df = spark.createDataFrame([(7, "only three tokens")], ["doc_id", "text"])
    rows = T.chunk_documents(df, "doc_id", "text", 50, 40).collect()
    assert len(rows) == 1
    assert rows[0]["chunk"] == "only three tokens"
    assert rows[0]["chunk_tokens"] == 3


def test_multimodal_audio_features(spark):
    rows = [(1, "audio", "audio/fake", bytes(range(10)), None, None, 2500),
            (2, "image", "image/fake", b"\x01", None, None, None),
            (3, "audio", "audio/fake", b"", None, None, None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in
           M.extract_audio_features(df, fake=True).collect()}
    assert set(out) == {1, 3}                      # image row filtered out
    assert out[1]["n_bytes"] == 10
    assert out[1]["duration_ms"] == 2500           # metadata passthrough
    assert out[1]["sample_rate"] == 8000 * ((10 % 6) + 1)
    assert out[1]["rms_level"] == sum(range(10)) // 10
    assert out[3]["n_bytes"] == 0 and out[3]["duration_ms"] is None


def test_quantize_embeddings_range_and_error(spark):
    from bda_spadochrony_spark.operators.similarity import quantize_embeddings
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        ["vec_id", "embedding"])
    rows = {r["vec_id"]: r for r in quantize_embeddings(df, "vec_id").collect()}
    q1, s1 = rows[1]["q"], rows[1]["scale"]
    assert all(-127 <= v <= 127 for v in q1)
    assert q1[0] == 127  # max component hits full range
    # dequantization error bounded by scale/2 per component
    for orig, code in zip([1.0, -0.5, 0.25, 0.0], q1):
        assert abs(code * s1 - orig) <= s1 / 2 + 1e-12
    assert rows[2]["q"] == [0, 0, 0, 0] and rows[2]["scale"] == 0.0


def test_tokens_to_ids_order_and_oov(spark):
    from bda_spadochrony_spark.operators.corpus import tokens_to_ids
    vocab = spark.createDataFrame([("a", 1), ("b", 2)], ["token", "token_id"])
    df = spark.createDataFrame([(1, "b a zz a")], ["doc_id", "text"])
    row = tokens_to_ids(df, "doc_id", "text", vocab).first()
    assert row["token_ids"] == [2, 1, 0, 1]  # order kept, OOV -> 0


def test_tokens_to_ids_invariant_under_repartition(spark):
    """The order-stable rebuild must give identical sequences no matter
    how the exploded rows are partitioned — the failure mode a bare
    collect_list hits at scale."""
    from bda_spadochrony_spark.operators.corpus import build_vocab, tokens_to_ids
    docs = [(i, " ".join(f"t{(i * 7 + j) % 13}" for j in range(20)))
            for i in range(30)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    vocab = build_vocab(df, "text", size=8)
    base = {r["doc_id"]: r["token_ids"]
            for r in tokens_to_ids(df, "doc_id", "text", vocab).collect()}
    shuffled = {r["doc_id"]: r["token_ids"]
                for r in tokens_to_ids(df.repartition(7), "doc_id", "text",
                                       vocab).collect()}
    assert base == shuffled


def test_build_vocab_prunes_before_global_rank(spark):
    """The global rank window must see a pre-pruned candidate set, not the
    full distinct-token table (the 100 TB single-partition-sort hazard,
    round-4 advice), and the pruned result must equal the naive global
    top-k exactly — including on count ties, where the token-asc
    tie-break decides."""
    from bda_spadochrony_spark.operators.corpus import build_vocab
    # 200 distinct tokens with many ties: token t{i} appears (i % 10) + 1
    # times -> heavy tie groups so any prune/tie-break drift shows up.
    docs = [(i, " ".join(f"t{j:03d}" for j in range(200)
                         for _ in range((j + i) % 3 + 1)))
            for i in range(6)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r["token"], r["token_id"])
           for r in build_vocab(df, "text", size=17, prune_groups=8).collect()}
    # Naive expected top-k computed driver-side.
    from collections import Counter
    c = Counter(tok for _, text in docs for tok in text.split())
    expect = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:17]
    assert got == {(tok, i + 1) for i, (tok, _) in enumerate(expect)}
    # Plan shape: two Window nodes — a partitioned per-group rank feeding
    # the single global rank — with a Filter between (the prune).
    plan = (build_vocab(df, "text", size=17, prune_groups=8)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert plan.count("Window [row_number()") == 2, plan
    global_part, _, pruned_part = plan.partition("Window [row_number()")
    assert "pmod" in pruned_part, plan  # inner rank is hash-group-partitioned


def test_hll_sketch_merge_is_lossless_and_exact_in_coupon_regime(spark):
    from bda_spadochrony_spark.operators.sketches import (
        merged_distinct_estimate, partition_distinct_sketches)
    # beyond the exact regime: merged estimate must equal the single-pass
    # sketch estimate bit-for-bit (lossless union), even when both differ
    # from the true count
    df = spark.range(0, 100000).select(
        (F.col("id") % 8000).alias("u"), (F.col("id") % 30).alias("d"))
    merged = merged_distinct_estimate(
        partition_distinct_sketches(df, ["d"], "u", lg_k=12)).first()[0]
    direct = merged_distinct_estimate(
        partition_distinct_sketches(df.withColumn("one", F.lit(1)),
                                    ["one"], "u", lg_k=12)).first()[0]
    assert merged == direct
    # inside the coupon regime the estimate is exact
    small = spark.range(0, 100000).select(
        (F.col("id") % 1500).alias("u"), (F.col("id") % 30).alias("d"))
    est = merged_distinct_estimate(
        partition_distinct_sketches(small, ["d"], "u", lg_k=14)).first()[0]
    assert est == 1500


def test_hll_regime_guard_loud_failure_beyond_exact_regime(spark):
    """Round-4 advice: the exact-count oracle must not silently go red on
    a bigger sf. At 10^5 distinct keys the estimate is APPROXIMATE no
    matter the lg_k (the 2^26 coupon space is lg_k-independent, so
    raising lg_k cannot extend exactness — measured 100009 at lg_k=21),
    and assert_coupon_regime must raise loudly there; inside the regime
    the guard passes the exact value through."""
    import pytest
    from bda_spadochrony_spark.operators.sketches import (
        assert_coupon_regime, exact_regime_max, merged_distinct_estimate,
        partition_distinct_sketches)
    n = 100_000
    df = spark.range(0, n).select(F.col("id").alias("u"),
                                  (F.col("id") % 30).alias("d"))
    est = merged_distinct_estimate(
        partition_distinct_sketches(df, ["d"], "u", lg_k=21))
    raw = est.first()["distinct_estimate"]
    assert abs(raw - n) <= 0.01 * n      # close (±2% regime) ...
    # ... but NOT guaranteed exact → the guard must refuse loudly at any
    # lg_k rather than let an exact-count oracle silently mismatch
    for lg_k in (14, 21):
        assert exact_regime_max(lg_k) <= 2500
        bad = est.select(
            assert_coupon_regime(F.col("distinct_estimate"), lg_k).alias("v"))
        with pytest.raises(Exception, match="exact regime"):
            bad.collect()
    # inside the regime: guard passes and the value is exact
    small = spark.range(0, 100_000).select(
        (F.col("id") % 1500).alias("u"), (F.col("id") % 30).alias("d"))
    got = (merged_distinct_estimate(
        partition_distinct_sketches(small, ["d"], "u", lg_k=14))
        .select(assert_coupon_regime(F.col("distinct_estimate"), 14)
                .alias("v")).first()["v"])
    assert got == 1500


def test_hll_sketch_grouped_rollup(spark):
    from bda_spadochrony_spark.operators.sketches import (
        merged_distinct_estimate, partition_distinct_sketches)
    # group A = even ids -> 50 even residues of id%100; group B = odd ids
    # with a further %50 -> 25 odd residues. Rollup per group across days.
    df = spark.range(0, 10000).select(
        (F.col("id") % 100).alias("u"),
        (F.col("id") % 10).alias("d"),
        F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("g"))
    df = df.withColumn("u", F.when(F.col("g") == "B", F.col("u") % 50)
                       .otherwise(F.col("u")))
    sk = partition_distinct_sketches(df, ["g", "d"], "u", lg_k=14)
    out = {r["g"]: r["distinct_estimate"]
           for r in merged_distinct_estimate(sk, group_cols=["g"]).collect()}
    assert out == {"A": 50, "B": 25}


def test_balanced_sample_caps_classes_and_is_partition_invariant(spark):
    from bda_spadochrony_spark.operators.sampling import balanced_sample
    df = spark.createDataFrame(
        [(i, "big" if i < 80 else "small") for i in range(90)],
        ["doc_id", "cls"])
    out = balanced_sample(df, "doc_id", "cls", n_per_class=15)
    counts = {r["cls"]: r["n"] for r in
              out.groupBy("cls").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"big": 15, "small": 10}  # small class kept whole
    base = sorted(r["doc_id"] for r in out.collect())
    reparted = sorted(r["doc_id"] for r in
                      balanced_sample(df.repartition(7), "doc_id", "cls",
                                      n_per_class=15).collect())
    assert base == reparted


def test_heavy_hitters_matches_exact_having(spark):
    from bda_spadochrony_spark.operators.frequency import heavy_hitters
    # Zipf-ish: key j appears ~N/j times for j in 1..200 -> a long tail of
    # distinct keys with a handful of true heavy hitters
    df = spark.range(0, 20000).select(
        F.floor(20000 / (F.col("id") + 1)).cast("string").alias("k"))
    got = {(r["k"], r["n"]) for r in heavy_hitters(df, "k", 0.02).collect()}
    exact = {(r["k"], r["n"]) for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
             .where(F.col("n") > 0.02 * df.count()).collect()}
    assert got == exact and len(exact) > 0
    # identical under a different partitioning (per-partition sketch state
    # must not change the answer)
    reparted = {(r["k"], r["n"]) for r in
                heavy_hitters(df.repartition(13), "k", 0.02).collect()}
    assert reparted == exact


def test_heavy_hitters_multi_batch_merge_and_nulls(spark):
    from bda_spadochrony_spark.operators.frequency import heavy_hitters
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        # one heavy key (30%) + unique tail + NULLs; tiny Arrow batches
        # force many MG merges inside each partition
        df = spark.range(0, 3000).select(
            F.when(F.col("id") % 10 < 3, F.lit("hot"))
             .when(F.col("id") % 97 == 0, F.lit(None))
             .otherwise(F.col("id").cast("string")).alias("k"))
        out = {r["k"]: r["n"] for r in heavy_hitters(df, "k", 0.25).collect()}
        expect = df.where(F.col("k") == "hot").count()
        assert out == {"hot": expect}
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_heavy_hitters_rejects_bad_params(spark):
    from bda_spadochrony_spark.operators.frequency import heavy_hitters
    df = spark.range(5).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError):
        heavy_hitters(df, "k", 0.0)
    with pytest.raises(ValueError):
        heavy_hitters(df, "k", 0.01, k=3)


def test_misra_gries_summary_state_is_bounded(spark):
    from bda_spadochrony_spark.operators.frequency import misra_gries_summary
    df = spark.range(0, 50000).select(F.col("id").cast("string").alias("k"))
    summary = misra_gries_summary(df.coalesce(2), "k", k=16).collect()
    cand = [r for r in summary if r["k"] is not None]
    sentinels = [r["n_rows"] for r in summary if r["k"] is None]
    assert len(cand) <= 2 * 16          # <= k candidates per partition
    assert sum(sentinels) == 50000      # exact N from the same pass


def test_unigram_surprisal_known_values(spark):
    from bda_spadochrony_spark.operators.corpus import unigram_surprisal
    import math
    # corpus: "a a a b" -> p(a)=3/4, p(b)=1/4
    df = spark.createDataFrame([(1, "a a a"), (2, "b")], ["doc_id", "text"])
    out = {r["doc_id"]: (r["n_tokens"], r["surprisal"])
           for r in unigram_surprisal(df, "doc_id", "text").collect()}
    assert out[1] == (3, round(-math.log2(3 / 4), 4))
    assert out[2] == (1, round(-math.log2(1 / 4), 4))


def test_mixture_sample_hits_target_shares(spark):
    from bda_spadochrony_spark.operators.sampling import mixture_sample
    rows = [(i, "en") for i in range(400)] + \
           [(i + 1000, "de") for i in range(80)] + \
           [(i + 2000, "fr") for i in range(40)] + \
           [(i + 3000, "xx") for i in range(25)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = mixture_sample(df, "doc_id", "lang",
                         {"en": 0.5, "de": 0.25, "fr": 0.25})
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # fr binds: T = 40/0.25 = 160 -> quotas en 80, de 40, fr 40; xx dropped
    assert got == {"en": 80, "de": 40, "fr": 40}
    base = sorted(r["doc_id"] for r in out.collect())
    reparted = sorted(r["doc_id"] for r in
                      mixture_sample(df.repartition(7), "doc_id", "lang",
                                     {"en": 0.5, "de": 0.25, "fr": 0.25})
                      .collect())
    assert base == reparted


def test_mixture_sample_binding_group_kept_whole(spark):
    from bda_spadochrony_spark.operators.sampling import mixture_sample
    df = spark.createDataFrame(
        [(i, "a") for i in range(10)] + [(i + 100, "b") for i in range(90)],
        ["doc_id", "g"])
    out = mixture_sample(df, "doc_id", "g", {"a": 0.5, "b": 0.5})
    got = {r["g"]: r["n"] for r in
           out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"a": 10, "b": 10}


def test_dedup_survivors_keeps_canonicals_and_singletons(spark):
    from bda_spadochrony_spark.operators.dedup import dedup_survivors
    df = spark.createDataFrame([(i, f"d{i}") for i in range(1, 8)],
                               ["doc_id", "payload"])
    # components: {1,2,3} (chain), {5,6}; 4 and 7 match nothing
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    out = {r["doc_id"]: r["n_members"]
           for r in dedup_survivors(df, "doc_id", pairs).collect()}
    assert out == {1: 3, 4: 1, 5: 2, 7: 1}


def test_covariance_matrix_matches_numpy(spark):
    from bda_spadochrony_spark.ml.stats import covariance_matrix
    import numpy as np
    rng = np.random.RandomState(7)
    data = rng.randn(50, 5)
    df = spark.createDataFrame(
        [(row.tolist(),) for row in data], ["embedding"])
    got = {(r["i"], r["j"]): r["cov"]
           for r in covariance_matrix(df, "embedding").collect()}
    exp = np.cov(data, rowvar=False)  # sample covariance (ddof=1)
    assert len(got) == 15
    for (i, j), c in got.items():
        assert abs(c - exp[i - 1, j - 1]) < 1e-3, (i, j)


def test_covariance_matrix_skips_null_vectors(spark):
    from bda_spadochrony_spark.ml.stats import covariance_matrix
    df = spark.createDataFrame(
        [([1.0, 2.0],), ([3.0, 4.0],), (None,)],
        "embedding: array<double>")
    got = {(r["i"], r["j"]): r["cov"]
           for r in covariance_matrix(df, "embedding").collect()}
    assert got == {(1, 1): 2.0, (1, 2): 2.0, (2, 2): 2.0}


def test_hash_split_assigns_every_row_and_is_partition_invariant(spark):
    from bda_spadochrony_spark.operators.sampling import hash_split
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 1000          # every row assigned
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"]       # roughly proportional
    base = sorted((r["doc_id"], r["split"]) for r in out.collect())
    reparted = sorted(
        (r["doc_id"], r["split"]) for r in
        hash_split(df.repartition(13), "doc_id",
                   {"train": 0.8, "val": 0.1, "test": 0.1}).collect())
    assert base == reparted


def test_hash_split_salt_shifts_assignment(spark):
    from bda_spadochrony_spark.operators.sampling import hash_split
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = dict((r["doc_id"], r["split"]) for r in
             hash_split(df, "doc_id", {"a": 0.5, "b": 0.5}).collect())
    b = dict((r["doc_id"], r["split"]) for r in
             hash_split(df, "doc_id", {"a": 0.5, "b": 0.5}, salt=99).collect())
    assert a != b                                # independent assignment
    assert set(a) == set(b)                      # same rows, all assigned


def test_bpe_pair_counts_known_values_and_single_token_docs(spark):
    from bda_spadochrony_spark.operators.corpus import bpe_pair_counts
    df = spark.createDataFrame(
        [("a b a b c",), ("b a b",), ("solo",)], ["text"])
    got = [(r["rank"], r["a"], r["b"], r["n"])
           for r in bpe_pair_counts(df, "text", top_n=10).collect()]
    # pairs: doc1 = ab,ba,ab,bc ; doc2 = ba,ab ; doc3 = none
    assert got == [(1, "a", "b", 3), (2, "b", "a", 2), (3, "b", "c", 1)]


def test_bpe_pair_counts_prune_does_not_change_result(spark):
    from bda_spadochrony_spark.operators.corpus import bpe_pair_counts
    df = spark.createDataFrame(
        [(" ".join(chr(97 + (i + j) % 7) for j in range(30)),)
         for i in range(20)], ["text"])
    a = bpe_pair_counts(df, "text", top_n=5, prune_groups=1).collect()
    b = bpe_pair_counts(df, "text", top_n=5, prune_groups=64).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bpe_frequency_floor_prune_is_exact(spark):
    """r8 (VERDICT r7 #4): the frequency-floor pre-prune that bounds the
    pair SHUFFLE must be provably result-identical — a pair's count is
    <= min(unigram counts), and the floor is a lower bound on the
    top_n-th pair count, so dropped pairs can never rank. Exercised on
    a Zipf-ish corpus with a long tail of rare tokens (the input class
    whose pair key space the prune exists to bound), plus the floor<=1
    skip path on a tiny corpus."""
    import random
    from bda_spadochrony_spark.operators.corpus import bpe_pair_counts
    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(30)] + [f"rare{i}" for i in range(400)]
    weights = [100.0 / (i + 1) for i in range(30)] + [0.05] * 400
    docs = [(" ".join(rng.choices(vocab, weights, k=60)),)
            for _ in range(80)]
    df = spark.createDataFrame(docs, ["text"])
    on = bpe_pair_counts(df, "text", top_n=8, frequency_floor=True).collect()
    off = bpe_pair_counts(df, "text", top_n=8, frequency_floor=False).collect()
    assert [tuple(r) for r in on] == [tuple(r) for r in off]
    tiny = spark.createDataFrame([("a b c",), ("d e",)], ["text"])
    t_on = bpe_pair_counts(tiny, "text", top_n=8).collect()
    t_off = bpe_pair_counts(tiny, "text", top_n=8,
                            frequency_floor=False).collect()
    assert [tuple(r) for r in t_on] == [tuple(r) for r in t_off]
    assert len(t_on) == 3


def test_standardize_embeddings_matches_numpy(spark):
    import numpy as np
    from bda_spadochrony_spark.ml.stats import standardize_embeddings
    rng = np.random.RandomState(3)
    data = rng.randn(40, 6) * [1, 2, 3, 4, 5, 6] + [10, 0, -5, 1, 2, 3]
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(data)],
        ["vec_id", "embedding"])
    out = {r["vec_id"]: r["zvec"]
           for r in standardize_embeddings(df, "vec_id", "embedding",
                                           round_digits=6).collect()}
    exp = (data - data.mean(axis=0)) / data.std(axis=0, ddof=1)
    assert len(out) == 40
    for i, zrow in out.items():
        assert np.allclose(zrow, exp[i], atol=1e-4), i


def test_standardize_embeddings_zero_variance_and_nulls(spark):
    from bda_spadochrony_spark.ml.stats import standardize_embeddings
    df = spark.createDataFrame(
        [(1, [5.0, 1.0]), (2, [5.0, 3.0]), (3, None)],
        "vec_id: long, embedding: array<double>")
    out = {r["vec_id"]: r["zvec"]
           for r in standardize_embeddings(df, "vec_id", "embedding").collect()}
    assert set(out) == {1, 2}                    # null vector skipped
    assert out[1][0] == 0.0 and out[2][0] == 0.0  # zero-variance dim -> 0
    assert out[1][1] < 0 < out[2][1]


def test_shuffle_corpus_total_order_and_no_global_sort(spark):
    from bda_spadochrony_spark.operators.corpus import shuffle_corpus
    from bda_spadochrony_spark.operators.sampling import hash_bucket
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = shuffle_corpus(df, "doc_id", num_partitions=8)
    # concatenating partitions in partition order yields a total order
    parts = out.select("shuffle_key", "doc_id").rdd.glom().collect()
    flat = [tuple(r) for p in parts for r in p]
    assert flat == sorted(flat)
    assert len(flat) == 2000
    # the plan range-partitions; there is no single-partition exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert "singlepartition" not in plan.lower()


def test_shuffle_corpus_salt_is_new_epoch_and_reproducible(spark):
    from bda_spadochrony_spark.operators.corpus import shuffle_corpus
    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    order0 = [r["doc_id"] for r in
              shuffle_corpus(df, "doc_id", num_partitions=4)
              .select("doc_id").rdd.glom().collect() for r in r]
    order0b = [r["doc_id"] for r in
               shuffle_corpus(df.repartition(11), "doc_id", num_partitions=4)
               .select("doc_id").rdd.glom().collect() for r in r]
    order1 = [r["doc_id"] for r in
              shuffle_corpus(df, "doc_id", salt=7, num_partitions=4)
              .select("doc_id").rdd.glom().collect() for r in r]
    assert order0 == order0b            # same epoch, any input partitioning
    assert order0 != order1             # new salt = new permutation
    assert sorted(order0) == sorted(order1) == list(range(300))


def test_incremental_dedup_flags(spark):
    from bda_spadochrony_spark.operators.dedup import incremental_dedup
    existing = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different corpus content about spark engines"),
         (3, "short doc")],
        ["doc_id", "text"])
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),   # exact
         (11, "the quick brown fox jumps over the lazy cat today"),   # near
         (12, "novel text that shares nothing with anything else"),   # novel
         (13, "short doc"),                                           # exact, too short to shingle-match
         (14, "xy")],                                                 # novel short
        ["doc_id", "text"])
    got = {r["doc_id"]: (r["dup_exact"], r["dup_near"], r["admitted"])
           for r in incremental_dedup(new, existing, "doc_id", "text",
                                      min_jaccard=0.5).collect()}
    assert got[10] == (1, 1, 0)     # exact dup is also a near dup
    assert got[11] == (0, 1, 0)
    assert got[12] == (0, 0, 1)
    assert got[13][0] == 1 and got[13][2] == 0   # digest catches short docs
    assert got[14] == (0, 0, 1)
    assert len(got) == 5


def test_pca_project_matches_numpy(spark):
    import numpy as np
    from bda_spadochrony_spark.ml.stats import pca_components, pca_project
    rng = np.random.RandomState(11)
    # anisotropic cloud so the component order is unambiguous
    base = rng.randn(60, 5) * [6, 3, 1.5, 0.7, 0.2]
    mix = rng.randn(5, 5)
    data = base @ mix
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(data)],
        ["vec_id", "embedding"])
    means, comps, eigvals = pca_components(df, "embedding", k=3)
    # numpy reference with the identical sign convention
    C = np.cov(data, rowvar=False)
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:3]
    for rank, idx in enumerate(order):
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        assert np.allclose(comps[rank], v, atol=1e-6), rank
        assert abs(eigvals[rank] - vals[idx]) < 1e-6
    got = {r["vec_id"]: [r["pc1"], r["pc2"], r["pc3"]]
           for r in pca_project(df, "vec_id", "embedding", k=3,
                                components=comps, means=means).collect()}
    exp = (data - data.mean(axis=0)) @ np.array(comps).T
    for i in range(60):
        assert np.allclose(got[i], exp[i], atol=1e-6), i
    # projected variance recovers the eigenvalues
    proj = np.array([got[i] for i in range(60)])
    assert np.allclose(proj.var(axis=0, ddof=1), eigvals[:3], rtol=1e-4)


def test_pca_project_with_literal_basis_is_map_only(spark):
    from bda_spadochrony_spark.ml.stats import pca_project
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, None)],
        "vec_id: long, embedding: array<double>")
    out = pca_project(df, "vec_id", "embedding",
                      components=[[1.0, 0.0]], means=[0.0, 0.0])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "exchange" not in plan.lower()          # zero shuffle
    got = {r["vec_id"]: r["pc1"] for r in out.collect()}
    assert got == {1: 1.0, 2: 3.0}                 # null vec dropped


def test_pca_norm_invariant_excludes_null_element_vectors(spark):
    """ADVICE r6 regression: a vector with a NULL ELEMENT NULL-poisons
    F.aggregate (the row would emit pnorm2=NULL) while a SQL oracle's
    sum() skips the NULL terms and returns a partial value — so such
    vectors are excluded on the Spark side (and the oracle's valid CTE
    mirrors it). The clean rows' invariant still holds exactly."""
    from bda_spadochrony_spark.ml.stats import pca_norm_invariant
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [5.0, 1.0]),
         (3, [None, 7.0]),            # NULL element -> excluded
         (4, None), (5, [0.0, 0.0])], # NULL / all-zero -> excluded
        "vec_id: long, embedding: array<double>")
    rows = {r["vec_id"]: r["pnorm2"]
            for r in pca_norm_invariant(df, "vec_id", "embedding").collect()}
    assert set(rows) == {0, 1, 2}
    # invariant: pnorm2 == centered norm^2 over the CLEAN population
    import numpy as np
    data = np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 1.0]])
    cn2 = ((data - data.mean(axis=0)) ** 2).sum(axis=1)
    for i in range(3):
        assert abs(rows[i] - round(cn2[i], 4)) < 1e-6, i


def test_surprisal_band_calibrates_to_the_corpus(spark):
    """r7 (BENCH_SF1 fixture-v2 lesson): a fixed surprisal band is
    corpus-specific — on a large-vocabulary corpus the small-vocab band
    drops EVERYTHING, while the calibrated band keeps the central mass
    of any corpus's own distribution."""
    import random
    from bda_spadochrony_spark.operators.corpus import (quality_gate,
                                                        surprisal_band)
    rnd = random.Random(3)
    small_vocab = [f"s{i}" for i in range(20)]
    big_vocab = [f"w{i:04d}" for i in range(2000)]
    mk = lambda vocab: " ".join(rnd.choice(vocab) for _ in range(60))
    small = spark.createDataFrame(
        [(i, mk(small_vocab)) for i in range(40)], ["doc_id", "text"])
    big = spark.createDataFrame(
        [(i, mk(big_vocab)) for i in range(40)], ["doc_id", "text"])
    lo_s, hi_s = surprisal_band(small, "doc_id", "text")
    lo_b, hi_b = surprisal_band(big, "doc_id", "text")
    assert hi_s < lo_b          # the distributions don't even overlap
    # the small-corpus band zeroes the big corpus...
    fixed = quality_gate(big, "doc_id", "text", min_tokens=5,
                         surprisal_lo=lo_s, surprisal_hi=hi_s)
    assert fixed.where(F.col("keep") == 1).count() == 0
    # ...while its own calibrated band keeps the central mass
    calib = quality_gate(big, "doc_id", "text", min_tokens=5,
                         surprisal_lo=lo_b, surprisal_hi=hi_b)
    kept = calib.where(F.col("keep") == 1).count()
    assert 0.5 * 40 <= kept <= 0.95 * 40


def test_corpus_pipeline_calibrated_band_survives_vocab_shift(spark):
    """r7: the parameterized pipeline (plans/pipelines.corpus_pipeline)
    with calibrate_surprisal=True keeps documents on a corpus whose
    vocabulary the FIXED default band was never tuned for — the
    composite-level twin of test_surprisal_band_calibrates_to_the_corpus
    (the sf1 Zipfian fixture measured the fixed band dropping 100%)."""
    import random
    from bda_spadochrony_spark.plans.pipelines import corpus_pipeline
    rnd = random.Random(11)
    vocab = [f"w{i:04d}" for i in range(3000)]
    docs = spark.createDataFrame(
        [(i, " ".join(rnd.choice(vocab) for _ in range(60)), "en")
         for i in range(1, 60)],
        "doc_id: long, text: string, lang: string")
    fixed = corpus_pipeline(docs).count()
    assert fixed == 0                         # gate band off-distribution
    out = corpus_pipeline(docs, calibrate_surprisal=True)
    rows = out.collect()
    assert len(rows) >= 20                    # central mass survives
    # the pipeline contract holds end to end: every survivor packed
    assert all(r["pack_offset"] < 512 and r["lang"] == "en" for r in rows)


def test_pack_documents_order_col_packs_in_shuffled_order(spark):
    """order_col lays documents out in the given deterministic order
    (ties -> id) instead of id order — the shuffled-epoch packing the
    corpus_pipeline composite uses. Same windows, same budget arithmetic,
    different layout order; omitting order_col keeps the id-order layout."""
    from bda_spadochrony_spark.operators.corpus import pack_documents
    from bda_spadochrony_spark.operators.sampling import hash_bucket
    ids = [0, 8, 16, 24, 32]                   # one shard (id % 8 == 0)
    docs = spark.createDataFrame([(i, "a b c d e") for i in ids],
                                 ["doc_id", "text"])
    by_id = {r["doc_id"]: (r["pack_id"], r["pack_offset"])
             for r in pack_documents(docs, "doc_id", "text",
                                     budget=12).collect()}
    # id order: starts 0,5,10,15,20 -> packs (0,0),(0,5),(0,10),(1,3),(1,8)
    assert [by_id[i] for i in ids] == [(0, 0), (0, 5), (0, 10), (1, 3), (1, 8)]
    shuffled = {r["doc_id"]: (r["pack_id"], r["pack_offset"])
                for r in pack_documents(
                    docs, "doc_id", "text", budget=12,
                    order_col=hash_bucket("doc_id")).collect()}
    exp_order = sorted(ids, key=lambda i: ((i * 2654435761) % 2 ** 32, i))
    assert exp_order != ids                    # the hash genuinely reorders
    assert [shuffled[i] for i in exp_order] == \
        [(0, 0), (0, 5), (0, 10), (1, 3), (1, 8)]


def test_source_kl_divergence_known_values(spark):
    import math
    from bda_spadochrony_spark.operators.corpus import source_kl_divergence
    df = spark.createDataFrame(
        [("A", "x x y"), ("B", "y y")], ["source", "text"])
    got = {r["source"]: (r["n_tokens"], r["kl"])
           for r in source_kl_divergence(df, "source", "text").collect()}
    # corpus: x=2, y=3, N=5 -> q(x)=0.4, q(y)=0.6
    kl_a = (2/3) * math.log2((2/3) / 0.4) + (1/3) * math.log2((1/3) / 0.6)
    kl_b = 1.0 * math.log2(1.0 / 0.6)
    assert got["A"][0] == 3 and abs(got["A"][1] - kl_a) < 1e-3
    assert got["B"][0] == 2 and abs(got["B"][1] - kl_b) < 1e-3


def test_source_kl_divergence_identical_distribution_is_zero(spark):
    from bda_spadochrony_spark.operators.corpus import source_kl_divergence
    df = spark.createDataFrame(
        [("A", "x y z"), ("B", "x y z")], ["source", "text"])
    got = {r["source"]: r["kl"]
           for r in source_kl_divergence(df, "source", "text").collect()}
    assert got == {"A": 0.0, "B": 0.0}


def test_quality_gate_reasons_fire_in_order(spark):
    from bda_spadochrony_spark.operators.corpus import quality_gate
    common = " ".join(f"w{i % 40}" for i in range(60))          # healthy doc
    rows = [
        (1, common),                                            # ok
        (2, "just a few tokens"),                               # too_short
        (3, " ".join(["a b c"] * 20)),                          # repetitive (dup 3-grams) but also short? 60 tokens -> not short
        # 'z' dominates but no 3-gram repeats (z z x0, z x0 z, x0 z x1, ...)
        (4, " ".join(["z", "z"] +
                     [t for i in range(34) for t in (f"x{i}", "z")])),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["reason"], r["keep"])
           for r in quality_gate(df, "doc_id", "text",
                                 min_tokens=30, max_dup3=0.5,
                                 max_top_token=0.5,
                                 surprisal_lo=0.0,
                                 surprisal_hi=100.0).collect()}
    assert got[2] == ("too_short", 0)
    assert got[3][0] == "repetitive" and got[3][1] == 0
    assert got[4][0] == "dominated"
    assert got[1] == ("ok", 1)


def test_quality_gate_surprisal_band(spark):
    from bda_spadochrony_spark.operators.corpus import quality_gate
    # 3 docs of distinct-token soup; doc 30 repeats the common token pool
    # so its tokens are corpus-common (low surprisal), doc 31 is all
    # hapaxes (high surprisal)
    pool = " ".join(["common"] * 64)
    rows = [(30, pool), (32, pool),
            (31, " ".join(f"rare{i}" for i in range(64)))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["reason"]
           for r in quality_gate(df, "doc_id", "text", min_tokens=1,
                                 max_dup3=1.1, max_top_token=1.1,
                                 surprisal_lo=0.6,
                                 surprisal_hi=5.0).collect()}
    assert got[30] == "low_surprisal"   # -log2(128/192) ≈ 0.585 < 0.6
    assert got[31] == "high_surprisal"  # hapaxes: -log2(1/192) ≈ 7.6


def test_embedding_outliers_finds_planted_outlier(spark):
    import numpy as np
    from bda_spadochrony_spark.ml.stats import embedding_outliers
    rng = np.random.RandomState(13)
    rows = [(i, rng.randn(4).tolist()) for i in range(50)]
    rows.append((999, [25.0, -25.0, 25.0, -25.0]))   # way off-manifold
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    got = embedding_outliers(df, "vec_id", "embedding", top_n=3).collect()
    assert got[0]["vec_id"] == 999
    assert got[0]["score"] > got[1]["score"] * 5


def test_key_skew_diagnostics_values(spark):
    from bda_spadochrony_spark.operators.skew import key_skew_diagnostics
    rows = [("hot",)] * 60 + [("warm",)] * 30 + [("a",)] * 5 + [("b",)] * 5
    df = spark.createDataFrame(rows, ["k"])
    got = key_skew_diagnostics(df, "k", top_k=2).collect()
    assert [(r["rank"], r["key"], r["n"]) for r in got] == \
        [(1, "hot", 60), (2, "warm", 30)]
    assert got[0]["n_keys"] == 4
    assert abs(got[0]["share"] - 0.6) < 1e-6
    assert abs(got[0]["skew_factor"] - 60 / 25.0) < 1e-3


def test_morton_key_known_values(spark):
    from bda_spadochrony_spark.operators.layout import morton_key
    df = spark.createDataFrame([(3, 1), (0, 0), (2, 3)], ["a", "b"])
    got = sorted(r["m"] for r in
                 df.select(morton_key("a", "b", bits=2).alias("m")).collect())
    # interleave: a bits at even positions, b bits at odd
    # (3,1)->0b0111=7, (0,0)->0, (2,3)->0b1110=14
    assert got == [0, 7, 14]


def test_zorder_layout_bounds_both_dimensions(spark):
    from bda_spadochrony_spark.operators.layout import zorder_layout
    grid = spark.createDataFrame(
        [(x, y) for x in range(32) for y in range(32)], ["x", "y"])
    parts = (zorder_layout(grid, "x", "y", bits=5, num_partitions=8)
             .select("x", "y").rdd.glom().collect())
    parts = [p for p in parts if p]
    # every partition covers a small box in BOTH dimensions; an x-sorted
    # layout would give thin stripes spanning the full y range (32)
    for p in parts:
        xs = [r["x"] for r in p]
        ys = [r["y"] for r in p]
        assert max(xs) - min(xs) <= 16
        assert max(ys) - min(ys) <= 16
    assert sum(len(p) for p in parts) == 1024


def test_scd2_history_versions_and_consecutive_dedup(spark):
    from datetime import datetime
    from bda_spadochrony_spark.operators.scd import scd2_history
    t = lambda m: datetime(2024, 1, 1, 0, m)
    df = spark.createDataFrame(
        [(1, "A", t(0)), (1, "A", t(1)), (1, "B", t(2)), (1, "A", t(3)),
         (2, "X", t(0))],
        ["user_id", "event_type", "ts"])
    got = sorted(
        (r["user_id"], r["event_type"], r["valid_from"].minute,
         r["valid_to"].minute if r["valid_to"] else None, r["is_current"])
        for r in scd2_history(df, "user_id", ["event_type"], "ts").collect())
    assert got == [
        (1, "A", 0, 2, 0),     # re-observation at t1 merged away
        (1, "A", 3, None, 1),
        (1, "B", 2, 3, 0),
        (2, "X", 0, None, 1),
    ]


def test_scd2_history_null_semantics_pinned(spark):
    """r7 edge-program pins (scd2_history docstring): NULL-ts
    observations are dropped; attribute changes to/from NULL ARE version
    changes while consecutive NULL re-observations merge; a boundary
    timestamp tie yields an empty first interval so a fact at the tie
    instant lands in the LATER version (half-open)."""
    from datetime import datetime
    from bda_spadochrony_spark.operators.scd import (point_in_time_join,
                                                     scd2_history)
    t = lambda m: datetime(2024, 1, 1, 0, m)
    df = spark.createDataFrame(
        [(1, "A", t(0)), (1, "B", t(0)),          # boundary tie at t0
         (1, None, t(2)), (1, None, t(3)),        # ->NULL change, then merge
         (1, "A", t(4)),                          # NULL->A change
         (1, "X", None),                          # NULL ts: dropped
         (2, None, t(0))],                        # first obs w/ NULL attr
        "user_id: long, event_type: string, ts: timestamp")
    hist = scd2_history(df, "user_id", ["event_type"], "ts")
    got = {
        (r["user_id"], r["event_type"], r["valid_from"].minute,
         r["valid_to"].minute if r["valid_to"] else None, r["is_current"])
        for r in hist.collect()}
    assert got == {
        (1, None, 2, 4, 0),    # t3 NULL re-observation merged away
        (1, "A", 0, 0, 0),     # empty interval [t0, t0) — tie order A<B
        (1, "A", 4, None, 1),
        (1, "B", 0, 2, 0),
        (2, None, 0, None, 1), # first observation kept despite NULL attr
    }
    # a fact AT the tie instant matches exactly one version: the later one
    facts = spark.createDataFrame([(100, 1, t(0))],
                                  "event_id: long, user_id: long, ts: timestamp")
    pit = point_in_time_join(facts, hist.select(
        "user_id", "valid_from", "valid_to"), "user_id", "ts").collect()
    assert len(pit) == 1 and pit[0]["valid_from"].minute == 0


def test_funnel_analysis_order_semantics(spark):
    from datetime import datetime
    from bda_spadochrony_spark.operators.analytics import funnel_analysis
    t = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1 converts in order
        (1, "a", t(0)), (1, "b", t(1)), (1, "c", t(2)),
        # user 2 does b BEFORE a -> counts for a only
        (2, "b", t(0)), (2, "a", t(1)),
        # user 3 does a,b but c precedes b -> stops at b
        (3, "a", t(0)), (3, "c", t(1)), (3, "b", t(2)),
        # user 4 never does a
        (4, "b", t(0)), (4, "c", t(1)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    got = {r["step"]: (r["n_users"], r["conversion"])
           for r in funnel_analysis(df, "user_id", "event_type", "ts",
                                    ["a", "b", "c"]).collect()}
    assert got["a"][0] == 3
    assert got["b"][0] == 2          # users 1 and 3
    assert got["c"][0] == 1          # user 1 only
    assert abs(got["c"][1] - round(1 / 3, 4)) < 1e-9


def test_cohort_retention_weeks(spark):
    from datetime import datetime
    from bda_spadochrony_spark.operators.analytics import cohort_retention
    rows = [
        (1, datetime(2024, 1, 1)),    # Monday: cohort week 2024-01-01
        (1, datetime(2024, 1, 9)),    # week 1
        (1, datetime(2024, 1, 16)),   # week 2
        (2, datetime(2024, 1, 3)),    # same cohort week
        (2, datetime(2024, 1, 4)),    # still week 0 (dedup)
        (3, datetime(2024, 1, 10)),   # next cohort week
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {(str(r["cohort_week"]), r["k"]): r["n_users"]
           for r in cohort_retention(df, "user_id", "ts").collect()}
    assert got == {("2024-01-01", 0): 2, ("2024-01-01", 1): 1,
                   ("2024-01-01", 2): 1, ("2024-01-08", 0): 1}


def test_check_expectations_counts_each_violation_kind(spark):
    from bda_spadochrony_spark.operators.expectations import (
        check_expectations, expect_between, expect_in_set, expect_matches,
        expect_not_null, expect_unique)
    df = spark.createDataFrame(
        [(1, 5.0, "a", "{x}"),
         (2, -1.0, "b", "{y}"),      # range violation
         (None, 5.0, "a", "{z}"),    # null violation
         (4, 200.0, "zz", "nope"),   # range + set + regex violations
         (4, 5.0, "a", "{w}")],      # duplicate id
        "id: long, v: double, cat: string, payload: string")
    rep = {r["rule"]: (r["n_violations"], r["passed"])
           for r in check_expectations(df, [
               expect_not_null("id"),
               expect_between("v", 0, 100),
               expect_in_set("cat", ["a", "b"]),
               expect_matches("payload", "^\\{"),
               expect_unique("id"),
           ]).collect()}
    assert rep["not_null(id)"] == (1, 0)
    assert rep["between(v,0,100)"] == (2, 0)
    assert rep["in_set(cat)"] == (1, 0)
    assert rep["matches(payload)"] == (1, 0)
    assert rep["unique(id)"] == (1, 0)      # one surplus copy of id=4


def test_check_expectations_single_scan_for_row_rules(spark):
    from bda_spadochrony_spark.operators.expectations import (
        check_expectations, expect_between, expect_not_null)
    df = spark.range(0, 100).withColumn("v", F.col("id") * 1.0)
    out = check_expectations(df, [expect_not_null("v"),
                                  expect_between("v", 0, 1000)])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1 or plan.count("FileScan") <= 1
    assert all(r["passed"] == 1 for r in out.collect())


def test_dedup_survivors_keep_by_quality(spark):
    """keep_by keeps the best-quality member of each near-dup family
    (ties -> smallest id) instead of the arbitrary min-id canonical."""
    from bda_spadochrony_spark.operators.dedup import dedup_survivors
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (9, 0.1)],
        ["doc_id", "quality"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                  ["id_a", "id_b"])   # one 4-doc family
    default = dedup_survivors(docs, "doc_id", pairs)
    assert {(r["doc_id"], r["n_members"]) for r in default.collect()} == \
        {(1, 4), (9, 1)}                               # min-id kept
    best = dedup_survivors(docs, "doc_id", pairs, keep_by="quality")
    assert {(r["doc_id"], r["n_members"]) for r in best.collect()} == \
        {(2, 4), (9, 1)}                               # 0.9 tie -> id 2


def test_dedup_survivors_keep_by_string_ids_and_null_quality(spark):
    """ADVICE r6 regression: keep_by must work for NON-NUMERIC ids (the
    old max(struct(q, -id)) negated the id and threw for strings under
    ANSI), tie-break to the SMALLEST id, and a family whose members all
    have NULL quality must still keep its min-id member."""
    from bda_spadochrony_spark.operators.dedup import dedup_survivors
    docs = spark.createDataFrame(
        [("d1", 0.2), ("d2", 0.9), ("d3", 0.9),        # tie at 0.9
         ("n1", None), ("n2", None),                   # all-NULL family
         ("s9", 0.1)],
        "doc_id: string, quality: double")
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3"), ("n1", "n2")], ["id_a", "id_b"])
    best = dedup_survivors(docs, "doc_id", pairs, keep_by="quality")
    assert {(r["doc_id"], r["n_members"]) for r in best.collect()} == \
        {("d2", 3),    # max quality 0.9, tie d2/d3 -> smallest id
         ("n1", 2),    # all-NULL quality -> min id survives, not dropped
         ("s9", 1)}


def test_finite_vectors_protects_moment_statistics(spark):
    """A 1e30 junk vector passes valid_vectors (finite, non-zero: cosine
    normalization cancels scale) but silently poisons mean/covariance;
    finite_vectors drops it. NaN-element vectors fail BOTH filters since
    r7 (a NaN cosine score would rank above every real score)."""
    import math
    from bda_spadochrony_spark.operators.similarity import (finite_vectors,
                                                            valid_vectors)
    from bda_spadochrony_spark.ml.stats import dimension_stats
    rows = [(0, [1.0, 2.0]), (1, [3.0, 4.0]),
            (2, [1e30, 0.0]), (3, [float("nan"), 1.0]), (4, None)]
    df = spark.createDataFrame(rows, "vec_id: long, v: array<double>")
    # 1e30 is cosine-safe and survives; NaN-element and NULL do not (r7)
    assert {r["vec_id"] for r in valid_vectors(df, "v").collect()} == {0, 1, 2}
    clean = finite_vectors(df, "v")
    assert {r["vec_id"] for r in clean.collect()} == {0, 1}
    mu = {r["pos"]: r["mu"] for r in dimension_stats(clean, "v").collect()}
    assert mu == {1: 2.0, 2: 3.0} and all(map(math.isfinite, mu.values()))


def test_planes_for_sizes_index_with_corpus():
    from bda_spadochrony_spark.operators.similarity import planes_for
    assert planes_for(2_000) == 8          # the sf0.1 design point
    assert planes_for(20_000) == 12        # the 10x fix BENCH_SF1 measured
    assert planes_for(5) == 4              # floor
    assert planes_for(10 ** 12) == 24      # capped — multi-table beyond


def test_duplicate_spans_flags_cross_doc_boilerplate(spark):
    from bda_spadochrony_spark.operators.dedup import duplicate_spans
    boiler = "w1 w2 w3 w4"                  # 4-token span shared verbatim
    docs = [(0, boiler + " a b"),           # spans at p=1,3: [w1..w4],[w3,w4,a,b]
            (1, boiler + " c d"),           # shares span p=1 with doc 0
            (2, "x y z q r s"),             # no shared span
            (3, "x y")]                     # shorter than span → no row
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_ratio"])
           for r in duplicate_spans(df, "doc_id", "text",
                                    span_tokens=4, stride=2).collect()}
    assert got == {0: (2, 1, 0.5), 1: (2, 1, 0.5), 2: (2, 0, 0.0)}
    # repeated span INSIDE one doc does not count (min_docs is DISTINCT)
    solo = spark.createDataFrame([(9, "a b c d a b c d")],
                                 ["doc_id", "text"])
    r = duplicate_spans(solo, "doc_id", "text",
                        span_tokens=4, stride=4).collect()[0]
    assert (r["n_spans"], r["n_dup_spans"]) == (2, 0)


def test_check_expectations_survives_quotes_in_rule_names(spark):
    """ADVICE r5: rule labels carry user text (regex patterns, set
    literals); a single quote in them must not break the report plan."""
    from bda_spadochrony_spark.operators.expectations import (
        check_expectations, expect_in_set, expect_matches)
    df = spark.createDataFrame([("it's a test",), ("plain",)], ["s"])
    rep = {r["rule"]: r["n_violations"]
           for r in check_expectations(df, [
               expect_matches("s", "^[a-z' ]+$"),
               expect_in_set("s", ["it's a test", "o'brien"]),
           ]).collect()}
    assert rep["matches(s)"] == 0
    assert rep["in_set(s)"] == 1          # "plain" not in the quoted set


def test_token_pmi_scores_collocation_highest(spark):
    import math
    from bda_spadochrony_spark.operators.corpus import token_pmi
    # "new york" always co-occur; "the" appears everywhere
    docs = [(i, f"the w{i} new york") for i in range(10)] + \
           [(100 + i, f"the w{100+i} filler{i}") for i in range(10)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = token_pmi(df, "doc_id", "text", top_tokens=10, top_k=5,
                    min_docs=2).collect()
    top = got[0]
    assert {top["a"], top["b"]} == {"new", "york"}
    # p(new,york)=10/20, p(new)=p(york)=10/20 -> PMI = log2(0.5/0.25) = 1
    assert abs(top["pmi"] - 1.0) < 1e-3
    # ubiquitous pair ("the" with anything) scores 0 or below
    for r in got:
        if "the" in (r["a"], r["b"]):
            assert r["pmi"] <= top["pmi"]


def test_pagerank_step_concentrates_on_hub(spark):
    from bda_spadochrony_spark.operators.dedup import pagerank_step
    # star graph: 0 connected to 1..4; plus an isolated pair 10-11
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11)], ["id_a", "id_b"])
    got = {r["id"]: r["rank"] for r in pagerank_step(pairs).collect()}
    n = 7
    # leaves contribute their whole rank to the hub
    assert abs(got[0] - (0.15 / n + 0.85 * 4 * (1 / n))) < 1e-9
    assert abs(got[1] - (0.15 / n + 0.85 * (1 / n) / 4)) < 1e-9
    assert abs(got[10] - (0.15 / n + 0.85 * (1 / n))) < 1e-9
    # mass is conserved: symmetric graph, no dangling nodes
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_step_chains_iterations(spark):
    from bda_spadochrony_spark.operators.dedup import pagerank_step
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    r1 = pagerank_step(pairs)
    r2 = pagerank_step(pairs, ranks=r1)
    got = {r["id"]: r["rank"] for r in r2.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[2] > got[1] == got[3]   # middle node dominates


def test_equi_depth_histogram_balances_buckets_under_skew(spark):
    from bda_spadochrony_spark.operators.aggregates import equi_depth_histogram
    import math
    # heavily skewed data: exponential-ish tail + a null
    rows = [(float(i) ** 3,) for i in range(1, 1001)] + [(None,)]
    df = spark.createDataFrame(rows, "v: double")
    got = {r["bucket"]: r["n_rows"]
           for r in equi_depth_histogram(df, "v", buckets=10).collect()}
    assert sum(got.values()) == 1000                # null excluded
    assert set(got) == set(range(10))
    assert max(got.values()) - min(got.values()) <= 2   # equi-depth holds


def test_equi_depth_histogram_non_finite_pin(spark):
    """r7 edge program: boundaries come from FINITE values only (one NaN
    poisons percentile interpolation), while non-finite ROWS still
    bucket deterministically — NaN/+Inf above every finite boundary
    (top bucket), -Inf below (bucket 0)."""
    from bda_spadochrony_spark.operators.aggregates import equi_depth_histogram
    rows = ([(float(i),) for i in range(1, 101)]
            + [(float("nan"),), (float("inf"),), (float("-inf"),), (None,)])
    df = spark.createDataFrame(rows, "v: double")
    got = {r["bucket"]: r["n_rows"]
           for r in equi_depth_histogram(df, "v", buckets=10).collect()}
    assert sum(got.values()) == 103                 # null excluded only
    # finite deciles put 10 per bucket; NaN/+Inf join the top, -Inf the
    # bottom — boundaries themselves are unaffected by the junk rows
    assert got[9] == 12 and got[0] == 11
    assert all(got[b] == 10 for b in range(1, 9))


def test_bigram_surprisal_known_values(spark):
    import math
    from bda_spadochrony_spark.operators.corpus import bigram_surprisal
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b a c"), (3, "solo")],
        ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_bigrams"], r["surprisal"])
           for r in bigram_surprisal(df, "doc_id", "text").collect()}
    # corpus pairs: ab=3, ba=2, ac=1; heads: a->4, b->2
    # doc1 = [ab, ba, ab]: -log2(3/4), -log2(2/2), -log2(3/4)
    s1 = (2 * -math.log2(3 / 4) + 0.0) / 3
    # doc2 = [ab, ba, ac]: -log2(3/4), 0, -log2(1/4)
    s2 = (-math.log2(3 / 4) + 0.0 + 2.0) / 3
    assert got[1][0] == 3 and abs(got[1][1] - s1) < 1e-3
    assert got[2][0] == 3 and abs(got[2][1] - s2) < 1e-3
    assert 3 not in got                      # <2 tokens: no evidence


def test_point_in_time_join_picks_exactly_one_version(spark):
    from datetime import datetime
    from bda_spadochrony_spark.operators.scd import (point_in_time_join,
                                                     scd2_history)
    t = lambda m: datetime(2024, 1, 1, 0, m)
    obs = spark.createDataFrame(
        [(1, "A", t(0)), (1, "B", t(10)), (1, "A", t(20))],
        ["k", "v", "ts"])
    dim = scd2_history(obs, "k", ["v"], "ts")
    facts = spark.createDataFrame(
        [(100, 1, t(5)), (101, 1, t(10)),    # boundary -> NEW version
         (102, 1, t(15)), (103, 1, t(25))],
        ["fact_id", "k", "ts"])
    got = {r["fact_id"]: (r["v"], r["valid_from"].minute)
           for r in point_in_time_join(facts, dim, "k", "ts").collect()}
    assert got == {100: ("A", 0), 101: ("B", 10),
                   102: ("B", 10), 103: ("A", 20)}
    # no fan-out: each fact matched at most once
    assert point_in_time_join(facts, dim, "k", "ts").count() == 4


def test_fuzzy_best_match_blocks_and_picks_nearest(spark):
    from bda_spadochrony_spark.operators.joins import fuzzy_best_match
    left = spark.createDataFrame(
        [(1, "acme corp", "us"), (2, "zzz ltd", "us"), (3, "acme corp", "de")],
        ["lid", "lname", "country"])
    right = spark.createDataFrame(
        [(10, "acme corp.", "us"), (11, "acne corp", "us"),
         (12, "acme corp", "de"), (13, "totally different", "us")],
        ["rid", "rname", "country"])
    got = {r["lid"]: (r["rid"], r["distance"])
           for r in fuzzy_best_match(left, right, ["country"],
                                     "lid", "rid", "lname", "rname").collect()}
    assert got[1] == (10, 1)      # "acme corp." one insertion; beats "acne corp"
    assert got[3] == (12, 0)      # blocking: only the de candidate considered
    assert got[2][0] == 13 or got[2][1] > 3   # zzz ltd has no close match
    # max_distance drops no-candidate rows
    strict = fuzzy_best_match(left, right, ["country"], "lid", "rid",
                              "lname", "rname", max_distance=2)
    assert {r["lid"] for r in strict.collect()} == {1, 3}


def test_fuzzy_best_match_inner_vs_keep_unmatched(spark):
    """ADVICE r5: default output is INNER on the block key — a left row
    whose block has no right rows vanishes even with max_distance=None;
    keep_unmatched=True is the left-outer variant (NULL match)."""
    from bda_spadochrony_spark.operators.joins import fuzzy_best_match
    left = spark.createDataFrame(
        [(1, "acme", "us"), (2, "nohome", "xx")], ["lid", "lname", "country"])
    right = spark.createDataFrame(
        [(10, "acme co", "us")], ["rid", "rname", "country"])
    inner = fuzzy_best_match(left, right, ["country"], "lid", "rid",
                             "lname", "rname")
    assert {r["lid"] for r in inner.collect()} == {1}   # xx block empty
    outer = {r["lid"]: r["rid"]
             for r in fuzzy_best_match(left, right, ["country"], "lid",
                                       "rid", "lname", "rname",
                                       keep_unmatched=True).collect()}
    assert outer == {1: 10, 2: None}


def test_weighted_sample_inclusion_tracks_weight(spark):
    from bda_spadochrony_spark.operators.sampling import weighted_sample
    rows = [(i, 10.0 if i < 100 else 1.0) for i in range(1100)]
    df = spark.createDataFrame(rows, "doc_id: long, w: double")
    heavy_hits = 0
    for salt in range(6):
        got = {r["doc_id"] for r in
               weighted_sample(df, "doc_id", "w", k=100, salt=salt).collect()}
        assert len(got) == 100
        heavy_hits += sum(1 for i in got if i < 100)
    # 100 heavy rows hold 50% of total mass -> expect ~40-60 of each 100
    # sampled per draw under A-Res; far above the 9% a uniform draw gives
    assert heavy_hits / 6 > 25


def test_weighted_sample_deterministic_and_excludes_nonpositive(spark):
    from bda_spadochrony_spark.operators.sampling import weighted_sample
    rows = [(1, 5.0), (2, 0.0), (3, None), (4, 3.0), (5, 1.0)]
    df = spark.createDataFrame(rows, "doc_id: long, w: double")
    a = sorted(r["doc_id"] for r in
               weighted_sample(df, "doc_id", "w", k=3).collect())
    b = sorted(r["doc_id"] for r in
               weighted_sample(df.repartition(5), "doc_id", "w",
                               k=3).collect())
    assert a == b == [1, 4, 5]    # zero/NULL weight rows carry no mass


def test_label_propagation_step_majority_and_tiebreak(spark):
    from bda_spadochrony_spark.operators.dedup import label_propagation_step
    # node 1: neighbors labeled A,A,B -> A ; node 2: neighbors A,B -> tie -> A
    # node 3: no labeled neighbor -> stays unlabeled ; seeds keep labels
    pairs = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10), (2, 12), (3, 4)],
        ["id_a", "id_b"])
    seeds = spark.createDataFrame(
        [(10, "A"), (11, "A"), (12, "B")], ["id", "label"])
    got = {r["id"]: r["label"]
           for r in label_propagation_step(pairs, seeds).collect()}
    assert got[1] == "A" and got[2] == "A"
    assert got[10] == "A" and got[12] == "B"   # seeds unchanged
    assert 3 not in got and 4 not in got       # no labeled neighbors


def test_label_propagation_chains_until_covered(spark):
    from bda_spadochrony_spark.operators.dedup import label_propagation_step
    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"])
    seeds = spark.createDataFrame([(1, 7)], "id: long, label: int")
    r1 = label_propagation_step(chain, seeds)
    r2 = label_propagation_step(chain, r1)
    r3 = label_propagation_step(chain, r2)
    assert {r["id"] for r in r1.collect()} == {1, 2}
    assert {r["id"] for r in r2.collect()} == {1, 2, 3}
    got = {r["id"]: r["label"] for r in r3.collect()}
    assert got == {1: 7, 2: 7, 3: 7, 4: 7}     # label reached the far end


def test_temperature_targets_and_mixture_upweight_tail_groups(spark):
    """r7: temperature-scaled mixture (XLM-R/mT5-style multilingual
    rebalancing) — T<1 derives shares from count^T, upweighting tail
    groups; T=1 reproduces natural proportions (every row kept)."""
    from bda_spadochrony_spark.operators.sampling import (
        temperature_mixture, temperature_targets)
    rows = [(i, "en") for i in range(90)] + \
           [(1000 + i, "de") for i in range(10)] + [(2000, None)]
    df = spark.createDataFrame(rows, "doc_id: long, lang: string")
    t = temperature_targets(df, "lang", temperature=0.5)
    assert abs(t["en"] - 0.75) < 1e-9 and abs(t["de"] - 0.25) < 1e-9
    got = temperature_mixture(df, "doc_id", "lang", temperature=0.5)
    by_lang = {r["lang"]: 0 for r in got.collect()}
    for r in got.collect():
        by_lang[r["lang"]] += 1
    # binding group de (10 rows / 0.25 share) kept whole; en cut to match
    assert by_lang == {"en": 30, "de": 10}
    # T=1 = natural proportions: nothing dropped (NULL lang always drops)
    assert temperature_mixture(df, "doc_id", "lang",
                               temperature=1.0).count() == 100


def test_semantic_dedup_keeps_one_per_embedding_family(spark):
    """r7: SemDeDup-style semantic dedup — within-cluster cosine families
    resolve to one survivor (min id); distinct-direction members of the
    same cluster survive; pair generation never leaves the cluster."""
    from bda_spadochrony_spark.operators.similarity import semantic_dedup
    base8 = [0.0] * 8
    mk = lambda i, mag=10.0: [mag if j == i else 0.0 for j in range(8)]
    c0, c1, c2 = mk(0), mk(1), mk(2)
    near = lambda v, eps: [x + eps for x in v]
    rows = [(0, c0), (1, c1), (2, c2),            # exemplars = centers
            (10, near(c0, 0.01)), (11, near(c0, 0.02)),   # family of 0
            (20, near(c1, 0.015)),                        # family of 1
            (30, [0.0, 0.0, 8.0, 5.0] + base8[:4]),  # cluster 2, cos 0.85
            (40, None)]                             # corrupt: dropped
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = semantic_dedup(df, "vec_id", n_clusters=3, min_cosine=0.95)
    got = {r["vec_id"]: r["cell"] for r in out.collect()}
    assert set(got) == {0, 1, 2, 30}       # one per family + the distinct
    assert got[30] == got[2]               # same cluster, kept: cos < 0.95


def test_cells_for_sqrt_rule():
    """r8 (VERDICT r7 #1): the coarse-quantizer cell count is sized FROM
    the corpus — k = ceil(sqrt(n/2)) balances assignment (n·k) against
    within-cell pair volume (n²/2k), both Θ(n^1.5). At the oracle
    contract scale the rule reproduces the previously-pinned 16 cells,
    so parity values were unchanged by the calibration."""
    from bda_spadochrony_spark.operators.similarity import cells_for
    assert cells_for(500) == 16            # contract scale: the r7 pin
    assert cells_for(0) == 4 and cells_for(1) == 4      # floor
    assert cells_for(2000) == 32           # sf0.1: grows with sqrt(n)
    assert cells_for(200_000) == 317
    assert cells_for(10**12) == 1 << 16    # broadcast-comfort ceiling
    # monotone non-decreasing across the clamp boundaries
    prev = 0
    for n in [0, 10, 50, 512, 513, 5000, 10**7, 10**13]:
        cur = cells_for(n)
        assert cur >= prev
        prev = cur


def test_semantic_dedup_empty_corpus_returns_empty_frame(spark):
    """r8 (ADVICE): a fully-corrupt corpus (every vector NULL/zero/
    non-finite) must yield an EMPTY survivors frame with the contract
    schema, not a createDataFrame crash on the empty centers list."""
    from bda_spadochrony_spark.operators.similarity import semantic_dedup
    rows = [(0, None), (1, [0.0] * 8), (2, [float("nan")] * 8)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = semantic_dedup(df, "vec_id", min_cosine=0.9)
    assert out.columns == ["vec_id", "cell"]
    assert out.count() == 0


def test_assign_cells_large_quantizer_matches_window_form(spark,
                                                         monkeypatch):
    """VERDICT r16 #4: a quantizer far past the old 262,144-literal
    budget (k·d = 4,100·64) runs the one Arrow kernel, and the kernel
    equals the crossJoin + window reference for n_probe 1 and 2 — with
    the distance tile forced to 3 rows, so one Arrow batch is scored
    in many row chunks. The ragged row takes the lowest cell(s) under
    mismatch_cell="lowest" (the window's NULLS-FIRST rule) and NULL
    under the default mode."""
    import random
    rng = random.Random(13)
    k, d = 4100, 64
    center_rows = [(c, [rng.uniform(-1, 1) for _ in range(d)])
                   for c in range(k)]
    rows = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(50)]
    rows.append((99, [0.5] * (d // 2)))                      # ragged
    vecs = spark.createDataFrame(
        rows, "corpus_id: long, cvec: array<double>").coalesce(1)
    centers = spark.createDataFrame(
        center_rows, "cell: long, centroid: array<double>")
    ref = _assign_primary_cells(vecs, centers, "corpus_id",
                                keep_dist2=True, n_probe=2).collect()
    ref_1 = {(r["corpus_id"], r["cell"], r["dist2"])
             for r in ref if r["rn"] == 1}
    ref_2 = {(r["corpus_id"], r["rn"], r["cell"]) for r in ref}
    assert (99, 0, None) in ref_1 and (99, 2, 1) in ref_2

    monkeypatch.setattr(S, "_NEAREST_TILE_ELEMS", 3 * k)
    base = vecs.select(F.col("corpus_id").alias("id"),
                       F.col("cvec").alias("v"))
    low = {(r["id"], r["cell"], r["dist2"]) for r in
           S._assign_cells(base, center_rows, "bigint",
                           mismatch_cell="lowest",
                           keep_dist2=True).collect()}
    assert low == ref_1
    null = {(r["id"], r["cell"], r["dist2"]) for r in
            S._assign_cells(base, center_rows, "bigint",
                            keep_dist2=True).collect()}
    assert null == (ref_1 - {(99, 0, None)}) | {(99, None, None)}
    probed = {(r["id"], r["rn"], r["cell"]) for r in
              S._assign_cells(base, center_rows, "bigint",
                              n_probe=2).collect()}
    assert probed == ref_2


def test_semantic_dedup_ragged_vector_tolerated(spark):
    """r9 (ADVICE r8): one wrong-length embedding must not fail the job
    (np.stack raises on ragged cells). The SQL fold this path mirrors
    NULL-pads the shorter array and DROPS the cross-length pair, so the
    ragged row simply pairs with nothing; same-length near-dups in the
    same cell still resolve."""
    rows = [(0, [10.0, 0.0, 0.0, 0.0]), (1, [0.0, 10.0, 0.0, 0.0]),
            (10, [6.0, 5.0, 0.0, 0.0]), (11, [6.0, 5.1, 0.0, 0.0]),
            (12, [6.0, 5.0, 0.0])]           # ragged: 3-dim in a 4-dim corpus
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = {r["vec_id"] for r in
           S.semantic_dedup(df, "vec_id", n_clusters=2,
                            min_cosine=0.95).collect()}
    # 10/11 are a cell-0 family (cos≈0.9999, both < 0.95 vs the center)
    # -> min id 10 survives; the ragged row 12 pairs with nothing
    # (NULL-poisoned fold) and survives
    assert out == {0, 1, 10, 12}


def test_semantic_dedup_probe_catches_cross_boundary_pair(spark):
    """r9 (VERDICT r8 #4): neighbor-cell probing closes the documented
    SemDeDup recall trade — a near-dup pair straddling a cell boundary
    is invisible at n_probe=1 and resolved at n_probe=2; dedup semantics
    (one survivor per family, min id) and the reported PRIMARY cell are
    unchanged."""
    rows = [(0, [10.0, 0.0]), (1, [0.0, 10.0]),     # centers (smallest ids)
            (10, [6.0, 5.5]), (11, [5.5, 6.0])]     # cos=0.9962, cells 0|1
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    p1 = {r["vec_id"]: r["cell"] for r in
          S.semantic_dedup(df, "vec_id", n_clusters=2,
                           min_cosine=0.95).collect()}
    assert set(p1) == {0, 1, 10, 11}         # boundary pair missed at p=1
    p2 = {r["vec_id"]: r["cell"] for r in
          S.semantic_dedup(df, "vec_id", n_clusters=2, min_cosine=0.95,
                           n_probe=2).collect()}
    assert set(p2) == {0, 1, 10}             # pair found, min id survives
    assert p2[10] == p1[10]                  # survivor keeps its PRIMARY cell


def test_avi_missing_timing_emits_null_frame_ms(spark):
    """r9 (ADVICE r8): an AVI whose 'avih' is missing/zero carries no
    usable timing — every frame must be emitted with frame_ms NULL (the
    netpbm-stream convention), NOT stamped t=0 so the every_ms sampler
    silently keeps only frame 0 (silent data loss)."""
    avi = _make_avi([(100, 200, 50), (0, 0, 0), (255, 255, 255)],
                    w=3, h=2, us_per_frame=0)
    df = spark.createDataFrame(
        [(1, "video", "video/x-msvideo", avi, None, None, None)],
        M.MEDIA_SCHEMA)
    got = sorted(M.sample_video_frames(df, every_ms=1000, fake=False)
                 .collect(), key=lambda r: r["frame_idx"])
    assert [(r["frame_idx"], r["frame_ms"]) for r in got] == \
        [(0, None), (1, None), (2, None)]    # ALL frames, honest NULL timing


def test_avi_second_stream_chunks_ignored(spark):
    """r9 (ADVICE r8): movi chunks of OTHER streams ('01db'...) must not
    be decoded with stream 0's dims and interleaved into its frame
    sequence — only '00db'/'00dc' (the stream whose strf was parsed)
    count."""
    import struct

    def chunk(fourcc, data):
        return (fourcc + struct.pack("<I", len(data)) + data +
                (b"\0" if len(data) % 2 else b""))

    def lst(listtype, body):
        return chunk(b"LIST", listtype + body)

    w, h = 3, 2
    stride = (w * 3 + 3) & ~3
    avih = struct.pack("<I", 40000) + b"\0" * 52
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                       0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl",
                                                   chunk(b"strf", strf)))
    dib = lambda r, g, b: (bytes([b, g, r]) * w +
                           b"\0" * (stride - 3 * w)) * h
    movi = (chunk(b"00db", dib(100, 200, 50)) +
            chunk(b"01db", b"\xff" * 4) +     # 2nd stream, junk-sized
            chunk(b"00db", dib(255, 255, 255)))
    body = hdrl + lst(b"movi", movi)
    avi = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body
    df = spark.createDataFrame(
        [(1, "video", "video/x-msvideo", avi, None, None, None)],
        M.MEDIA_SCHEMA)
    got = sorted(M.sample_video_frames(df, every_ms=10, fake=False)
                 .collect(), key=lambda r: r["frame_idx"])
    luma = (299 * 100 + 587 * 200 + 114 * 50) // 1000
    assert [(r["frame_idx"], r["frame_ms"], r["mean_intensity"])
            for r in got] == [(0, 0, luma), (1, 40, 255)]


def test_avi_mjpeg_decodes_via_pil_when_present(spark):
    """r9 (VERDICT r8 #8): MJPEG AVIs ride the PIL rung of the
    optional-dependency ladder — the AVI walker isolates the '00dc'
    chunks, PIL decodes each JPEG (per-frame dims from the JPEG itself).
    Skipped when PIL is absent (the documented NotImplementedError is
    asserted instead below, always-on)."""
    import struct

    def chunk(fourcc, data):
        return (fourcc + struct.pack("<I", len(data)) + data +
                (b"\0" if len(data) % 2 else b""))

    def lst(listtype, body):
        return chunk(b"LIST", listtype + body)

    def mk_mjpg(frames):
        avih = struct.pack("<I", 40000) + b"\0" * 52
        strf = struct.pack("<IiiHH", 40, 4, 2, 1, 24) + b"MJPG" + b"\0" * 16
        hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl",
                                                       chunk(b"strf", strf)))
        movi = b"".join(chunk(b"00dc", f) for f in frames)
        body = hdrl + lst(b"movi", movi)
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body

    try:
        import io

        from PIL import Image
    except ImportError:
        # always-on half: the ladder raises the documented error loudly
        avi = mk_mjpg([b"\xff\xd8\xff\xe0junk"])
        df = spark.createDataFrame(
            [(1, "video", "video/x-msvideo", avi, None, None, None)],
            M.MEDIA_SCHEMA)
        with pytest.raises(Exception, match="PIL|NotImplemented"):
            M.sample_video_frames(df, fake=False).collect()
        return
    buf = io.BytesIO()
    Image.new("L", (4, 2), color=77).save(buf, format="JPEG")
    avi = mk_mjpg([buf.getvalue(), buf.getvalue()])
    df = spark.createDataFrame(
        [(1, "video", "video/x-msvideo", avi, None, None, None)],
        M.MEDIA_SCHEMA)
    got = sorted(M.sample_video_frames(df, every_ms=10, fake=False)
                 .collect(), key=lambda r: r["frame_idx"])
    assert [(r["frame_idx"], r["frame_ms"], r["width"], r["height"])
            for r in got] == [(0, 0, 4, 2), (1, 40, 4, 2)]
    assert all(abs(r["mean_intensity"] - 77) <= 2 for r in got)


def test_bpe_frequency_floor_auto_gate(spark, monkeypatch):
    """r9 (VERDICT r8 #5): frequency_floor=None sizes the prune decision
    FROM the corpus — below _FLOOR_MIN_DOCS the pre-pass is skipped (its
    fixed cost exceeds the savings at toy scale), above it the provably
    exact floor semi-join guards the pair shuffle. Observable in the
    plan: the prune adds LeftSemi joins on the frequent-token set."""
    import random

    import bda_spadochrony_spark.operators.corpus as C
    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(20)]
    weights = [100.0 / (i + 1) for i in range(20)]
    docs = [(" ".join(rng.choices(vocab, weights, k=40)),)
            for _ in range(60)]
    df = spark.createDataFrame(docs, ["text"])

    monkeypatch.setattr(C, "_FLOOR_MIN_DOCS", 10_000)   # 60 docs < gate
    plan_off = C.bpe_pair_counts(df, "text", top_n=5) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" not in plan_off

    monkeypatch.setattr(C, "_FLOOR_MIN_DOCS", 10)       # 60 docs >= gate
    out_on = C.bpe_pair_counts(df, "text", top_n=5)
    plan_on = out_on._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan_on
    # and the gate is a pure cost choice: identical rows either way
    assert [tuple(r) for r in out_on.collect()] == \
        [tuple(r) for r in C.bpe_pair_counts(df, "text", top_n=5,
                                             frequency_floor=False).collect()]


def _ref_bpe(word_counts, n_merges):
    """Pure-Python reference BPE trainer: greedy argmax pair (count desc,
    pair asc), left-to-right non-overlapping application within words."""
    items = [(list(w), c) for w, c in sorted(word_counts.items())]
    merges = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for s, c in items:
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + c
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((rank, a, b, n))
        for idx, (s, c) in enumerate(items):
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            items[idx] = (out, c)
    return merges


def test_bpe_train_matches_reference(spark):
    """r9: the full BPE training loop (word-frequency-compressed,
    vocab-sized iterations) learns the identical merge table as a pure
    Python reference trainer — argmax tie-break (count desc, pair asc)
    and the left-to-right non-overlapping application both pinned.
    Includes an 'aaa' overlap case (greedy merges the LEFT pair) and an
    early-stop corpus where nothing repeats after a few merges."""
    import collections
    from bda_spadochrony_spark.operators.corpus import bpe_train
    texts = ["low low low lower lowest",
             "new newer newest news",
             "aaa banana bandana",
             "low newer banana low"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    wc = collections.Counter(w for t in texts for w in t.lower().split())
    want = _ref_bpe(dict(wc), 12)
    got = [(r["rank"], r["a"], r["b"], r["n"]) for r in
           bpe_train(df, "text", n_merges=12).orderBy("rank").collect()]
    assert got == want
    assert len(got) >= 8                 # the loop really iterated
    # early stop: a corpus with no repeating pair trains zero merges
    tiny = spark.createDataFrame([("ab cd",)], ["text"])
    assert bpe_train(tiny, "text", n_merges=5).count() == 0


def test_bpe_artifact_roundtrip(spark):
    """r14 (VERDICT r13 #4): the trained tokenizer is a persistable
    artifact — train → save → load → encode equals direct-encode, for
    both alphabets, with reserved tokens and the vocab preserved; a
    crashed save (no meta.json commit marker) refuses to load."""
    import os
    import shutil
    import tempfile

    from bda_spadochrony_spark.operators.corpus import (
        bpe_encode, bpe_load, bpe_save, bpe_train, build_vocab)
    texts = [(1, "low low low lower lowest <|doc|>"),
             (2, "new newer newest news <|doc|>"),
             (3, "üü banana bandana 🚀🚀"),
             (4, "low newer banana low")]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    base = tempfile.mkdtemp(prefix="bda_bpe_artifact_")
    try:
        for alphabet in ("chars", "bytes"):
            reserved = ["<|doc|>"]
            trained = bpe_train(df, "text", n_merges=8,
                                alphabet=alphabet, reserved=reserved)
            vocab = build_vocab(df, "text", size=50)
            path = os.path.join(base, alphabet)
            bpe_save(trained, path, alphabet=alphabet,
                     reserved=reserved, vocab=vocab)
            tok = bpe_load(spark, path)
            assert tok.alphabet == alphabet
            assert tok.reserved == reserved
            assert tok.merges == [(r["a"], r["b"]) for r in
                                  trained.orderBy("rank").collect()]
            direct = bpe_encode(df, "doc_id", "text", tok.merges,
                                reserved=reserved, alphabet=alphabet)
            want = sorted((r["doc_id"], tuple(r["symbols"]))
                          for r in direct.collect())
            got = sorted((r["doc_id"], tuple(r["symbols"]))
                         for r in tok.encode(df, "doc_id",
                                             "text").collect())
            assert got == want
            assert sorted(r["token"] for r in tok.vocab.collect()) == \
                sorted(r["token"] for r in vocab.collect())
        # overwrite-save on the same path keeps the artifact loadable
        short = bpe_train(df, "text", n_merges=2)
        bpe_save(short, os.path.join(base, "chars"))
        re = bpe_load(spark, os.path.join(base, "chars"))
        assert len(re.merges) <= 2 and re.vocab is None
        # a crashed save = parts without the commit marker: refuse
        crashed = os.path.join(base, "crashed")
        bpe_save(short, crashed)
        os.remove(os.path.join(crashed, "meta.json"))
        with pytest.raises(FileNotFoundError, match="meta.json"):
            bpe_load(spark, crashed)
        # the artifact rides the same fs shim as the ANN index: a
        # file:// path round-trips through the Hadoop FileSystem branch
        uri = f"file://{base}/hfs_tok"
        bpe_save(short, uri, alphabet="chars")
        tok_h = bpe_load(spark, uri)
        assert tok_h.merges == [(r["a"], r["b"]) for r in
                                short.orderBy("rank").collect()]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_hashed_doc_vectors_known_values_and_feed_cosine_family(spark):
    """r9: feature-hashed document vectors — known-value buckets/signs
    against a pure-Python md5 reference, identical docs get identical
    vectors, and the output feeds semantic_dedup end-to-end (the
    text→vector→dedup loop with no external model)."""
    import hashlib
    from bda_spadochrony_spark.operators.text import hashed_doc_vectors
    dim = 16
    docs = [(1, "alpha beta alpha"), (2, "alpha beta alpha"),
            (3, "gamma delta epsilon zeta"), (4, ""), (5, None)]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {r["doc_id"]: r["vector"] for r in
           hashed_doc_vectors(df, "doc_id", "text", dim=dim,
                              hash_fn="md5").collect()}

    def ref(text):
        v = [0.0] * dim
        for tok in (text or "").lower().strip().split():
            h = hashlib.md5(tok.encode()).hexdigest()
            b = int(h[:8], 16) % dim
            s = 1.0 if int(h[8:16], 16) % 2 == 0 else -1.0
            v[b] += s
        return v

    for did, text in docs:
        assert got[did] == ref(text), did
    assert got[1] == got[2]
    assert got[4] == [0.0] * dim and got[5] == [0.0] * dim
    # the loop: hashed vectors -> semantic dedup resolves the exact-dup
    # pair (cosine 1.0) and drops the zero vectors at entry
    from bda_spadochrony_spark.operators.similarity import semantic_dedup
    vecs = hashed_doc_vectors(df, "doc_id", "text", dim=dim, hash_fn="md5")
    out = {r["doc_id"] for r in
           semantic_dedup(vecs, "doc_id", vec_col="vector",
                          n_clusters=2, min_cosine=0.9).collect()}
    assert out == {1, 3}          # 2 deduped into 1; 4/5 zero-norm dropped


def test_bpe_train_bytes_matches_reference_and_roundtrips(spark):
    """r13 (VERDICT r12 #3 — the tokenizer triad's missing third): the
    byte-alphabet trainer learns the identical merge table as the
    pure-Python reference over the UTF-8 bytes of ' ' + word (2-char
    hex symbols, GPT-2 leading-space convention — merges span the space
    byte like Ġ-tokens), reserved tokens are excluded from training,
    and the triad closes: encoding with the learned merges
    (alphabet="bytes") concatenates back to each word's exact hex, so
    unhex IS the decode — lossless on adversarial Unicode."""
    import collections
    from bda_spadochrony_spark.operators.corpus import bpe_encode, bpe_train
    texts = ["low low low lower lowest",
             "new newer newest news",
             "aaa banana bandana",
             "<|doc|> low newer banana low ü🚀 ü🚀 ü🚀"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id: long, text: string")
    wc = collections.Counter(w for t in texts for w in t.lower().split()
                             if w != "<|doc|>")
    bc = {tuple(f"{b:02X}" for b in (" " + w).encode()): c
          for w, c in wc.items()}
    want = _ref_bpe(bc, 10)
    got = [(r["rank"], r["a"], r["b"], int(r["n"])) for r in
           bpe_train(df, "text", n_merges=10, alphabet="bytes",
                     reserved=["<|doc|>"]).orderBy("rank").collect()]
    assert got == want
    assert len(got) == 10                # the loop really iterated
    # merges really span the leading-space byte (a Ġ-style token)
    assert any(a.startswith("20") for _, a, _, _ in got)
    # the triad: encode with the learned merges, decode by unhex
    merges = [(a, b) for _, a, b, _ in got]
    enc = {r["doc_id"]: r["symbols"] for r in
           bpe_encode(df, "doc_id", "text", merges, alphabet="bytes",
                      reserved=["<|doc|>"]).collect()}
    for i, t in enumerate(texts):
        hex_syms = [s for s in enc[i] if s != "<|doc|>"]
        norm_words = [w for w in t.lower().split() if w != "<|doc|>"]
        expect = "".join(f"{b:02X}" for w in norm_words
                         for b in (" " + w).encode())
        assert "".join(hex_syms) == expect
        assert bytes.fromhex("".join(hex_syms)).decode("utf-8") == \
            "".join(" " + w for w in norm_words)
    # the reserved marker survives encoding as ONE opaque symbol
    assert enc[3][0] == "<|doc|>"


def _ref_bpe_encode(text, merges):
    """Pure-Python reference encoder: per lowercased whitespace word,
    apply each merge greedy left-to-right non-overlapping, in order."""
    out_syms = []
    for w in (text or "").lower().split():
        s = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        out_syms.extend(s)
    return out_syms


def test_bpe_encode_known_values_and_reference_parity(spark):
    """r10 (VERDICT r9 #7): the encoding half of the tokenizer — known
    hand values (incl. the self-merge 'aaa' parity case and a chained
    merge whose input is a prior merge's output), pure-Python reference
    parity on a mixed corpus, and empty/NULL documents encode to the
    empty sequence."""
    from bda_spadochrony_spark.operators.corpus import bpe_encode
    merges = [("a", "b"), ("ab", "c"), ("a", "a")]
    docs = [(1, "abc aabb cab"), (2, "aaaa aaa"), (3, "abcabc xyz"),
            (4, ""), (5, None), (6, "   ")]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {r["doc_id"]: r["symbols"] for r in
           bpe_encode(df, "doc_id", "text", merges).collect()}
    assert got == {i: _ref_bpe_encode(t, merges) for i, t in docs}
    # spot-check the hand values the reference encodes
    assert got[1] == ["abc", "a", "ab", "b", "c", "ab"]
    assert got[2] == ["aa", "aa", "aa", "a"]
    assert got[4] == [] and got[5] == [] and got[6] == []
    # pathological single-token document (r10 probe: the fold was
    # suspected quadratic in word length via per-element array concat;
    # measured FLAT to 128k chars — ~1.2 s at 8k/32k/128k — so no
    # length gate is needed; this pins correctness at depth)
    long_doc = [(7, "abc" * 4000)]
    ldf = spark.createDataFrame(long_doc, "doc_id: long, text: string")
    lgot = bpe_encode(ldf, "doc_id", "text", merges).collect()[0]["symbols"]
    assert lgot == _ref_bpe_encode(long_doc[0][1], merges)


def test_bpe_train_encode_round_trip(spark):
    """r10: train → encode on the same corpus — every learned merge pair
    must be fully applied, i.e. no encoded document contains a trained
    (a, b) adjacent anywhere (the VERDICT #7 'done' criterion), and the
    encoded docs match the pure-Python reference encoder given the
    trained table."""
    from bda_spadochrony_spark.operators.corpus import bpe_encode, bpe_train
    texts = ["low low low lower lowest", "new newer newest news",
             "aaa banana bandana", "low newer banana low"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id: long, text: string")
    merges = [(r["a"], r["b"]) for r in
              bpe_train(df, "text", n_merges=10).orderBy("rank").collect()]
    assert len(merges) >= 8
    enc = {r["doc_id"]: r["symbols"] for r in
           bpe_encode(df, "doc_id", "text", merges).collect()}
    for i, t in enumerate(texts):
        assert enc[i] == _ref_bpe_encode(t, merges)
        pairs = set(zip(enc[i], enc[i][1:]))
        assert not (pairs & set(merges)), \
            f"doc {i}: trained pair still adjacent after encode"


def test_pq_encode_matches_numpy_and_reconstruction(spark):
    """r10: product quantization — codes equal the numpy per-subspace
    argmin (ties → lowest code), reconstruction is the centroid
    concatenation, and the subset-codebook convention makes the first k
    valid vectors code to themselves exactly (their reconstruction IS
    the vector)."""
    import numpy as np
    from bda_spadochrony_spark.operators.similarity import (
        pq_codebooks, pq_encode, pq_reconstruct, valid_vectors)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cbs = pq_codebooks(emb, "vec_id", m=8, k=16)
    assert len(cbs) == 8 and all(len(cb) == 16 for cb in cbs)
    C = [np.array(cb) for cb in cbs]
    codes = pq_encode(emb, "vec_id", codebooks=cbs)
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    vv = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
          for r in valid_vectors(emb, "embedding").collect()}
    assert set(got) == set(vv)          # every valid vector coded
    for vid, v in vv.items():
        want = [int(np.argmin(((C[s] - v[s * 8:(s + 1) * 8]) ** 2)
                              .sum(axis=1))) for s in range(8)]
        assert got[vid] == want, f"vec {vid}"
    # first-16 self-coding + exact reconstruction
    first = sorted(vv)[:16]
    rec = {r["vec_id"]: np.array(r["r"]) for r in
           codes.select("vec_id",
                        pq_reconstruct("codes", cbs).alias("r")).collect()}
    for j, vid in enumerate(first):
        assert got[vid] == [j] * 8
        assert np.array_equal(rec[vid], vv[vid])


def test_pq_adc_ranking_beats_random(spark):
    """r10: ADC sanity — scoring with reconstructed vectors must rank a
    vector's EXACT self-duplicate at the top (identical codes → identical
    reconstruction → approx cosine 1.0), i.e. the quantizer preserves
    enough signal for candidate generation."""
    import numpy as np
    from pyspark.sql import functions as F
    from bda_spadochrony_spark.operators.similarity import (
        pq_codebooks, pq_encode)
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(64).tolist()) for i in range(40)]
    rows.append((100, rows[20][1]))        # exact duplicate of vec 20
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cbs = pq_codebooks(emb, "vec_id", m=8, k=16)
    codes = {r["vec_id"]: list(r["codes"]) for r in
             pq_encode(emb, "vec_id", codebooks=cbs).collect()}
    assert codes[100] == codes[20]         # identical vectors, same codes


def test_ivf_pq_kmeans_recall_vs_exact(spark):
    """r11 (VERDICT r10 #2): the production IVF-PQ path — balanced
    KMeans centers from `kmeans_centers` — pinned against exact search
    (the test_ivf_topk_recall precedent). On well-separated clusters the
    true top-1 lives in the probed cell and the exact rerank recovers it
    from the ADC candidates."""
    import random

    from bda_spadochrony_spark.operators.similarity import (
        cosine_topk, ivf_pq_topk, kmeans_centers)
    rng = random.Random(5)
    rows = []
    for cl in range(4):
        center = [10.0 * (cl == (j % 4)) for j in range(64)]
        for i in range(25):
            # ids INTERLEAVED across clusters: the PQ codebooks sample
            # the first 16 vectors by id, so id order must cover all
            # clusters or the codebooks only represent one geometry
            rows.append((i * 4 + cl,
                         [c + rng.uniform(-0.5, 0.5) for c in center]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(4)
    exact = {r["query_id"]: r["corpus_id"] for r in
             cosine_topk(df, df, "vec_id", "vec_id", k=1).collect()}
    centers = kmeans_centers(df, "embedding", n_cells=4, seed=42)
    assert centers.count() == 4
    # n_candidates = the cell size: the exact rerank then sees every
    # probed-cell row, so recall isolates the QUANTIZER (the knob under
    # test) from ADC distortion
    got = {r["query_id"]: r["corpus_id"] for r in
           ivf_pq_topk(df, "vec_id", k=1, n_candidates=25, n_probe=1,
                       centers=centers).collect()}
    assert len(got) == 100
    hits = sum(1 for q, c in got.items() if exact.get(q) == c)
    assert hits >= 90, f"top-1 recall {hits}/100 under KMeans IVF-PQ"


def test_ivf_pq_kmeans_candidate_cut_at_scale_regime(spark):
    """r11 (VERDICT r10 #2): the candidate-volume claim, pinned. In the
    at-scale regime — cluster count comparable to the calibrated cell
    count, which is where cells_for lands as n grows — balanced KMeans
    centers cut IVF candidate volume vs the deterministic-subset
    quantizer at the SAME cell count (sf1 measured 22.1M -> ~8-9M,
    2.4-2.7x; reproduced here on the generator's own geometry). The
    inverse holds at toy scale (sf0.01/0.1: cells >> clusters, cut 0.7-
    0.9x) — that asymmetry is WHY the contract query keeps the subset
    quantizer and the production query opts into KMeans; documented in
    SCALE.md."""
    import numpy as np

    from bda_spadochrony_spark.operators.similarity import (cells_for,
                                                            kmeans_centers)
    # the gen_scale_data.py embedding noise model at n=5k with k=50
    # clusters, so cells_for(5000)=50 equals the cluster count — the
    # lambda=1 Poisson center-allocation regime sf1 sits in (100
    # clusters / 100 cells), where a deterministic-subset quantizer
    # leaves ~37% of clusters with no center and their mass crowds
    # neighboring cells. numpy-Lloyd pre-measure: cut 2.24x here vs
    # 2.67x on the real sf1 table
    rng = np.random.default_rng(7)
    n, k = 5000, 50
    s_c = 0.125 * 0.2
    s_n = (0.125 ** 2 - s_c ** 2) ** 0.5
    ctrs = rng.normal(0.0, s_c, (k, 64))
    X = ctrs[rng.integers(0, k, n)] + rng.normal(0.0, s_n, (n, 64))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)],
        "vec_id: long, embedding: array<double>")
    n_cells = cells_for(n)
    subset = X[:n_cells]
    km = kmeans_centers(df, "embedding", n_cells=n_cells, seed=42)
    C_km = np.stack([np.asarray(r["centroid"]) for r in
                     sorted(km.collect(), key=lambda r: r["cell"])])

    def cand_volume(C, n_probe=2):
        d2 = ((X ** 2).sum(1)[:, None] - 2 * X @ C.T
              + (C ** 2).sum(1)[None, :])
        prim = d2.argmin(1)
        probes = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
        sizes = np.bincount(prim, minlength=len(C))
        return int(sizes[probes].sum()) - n

    cut = cand_volume(subset) / cand_volume(C_km)
    assert cut >= 1.5, f"KMeans candidate cut only {cut:.2f}x"


def test_ivf_pq_topk_accepts_kmeans_centers(spark):
    """r10: the candidate-volume lever — ivf_pq_topk takes persisted
    (cell, centroid) centers in place of the subset quantizer (the sf1
    A/B measured KMeans at the same k cutting candidates 2.4x where
    doubling subset cells managed 1.27x). Sanity: the search still
    returns k rows per query and self-pairs stay excluded."""
    import numpy as np
    from bda_spadochrony_spark.operators.similarity import ivf_pq_topk
    rng = np.random.RandomState(3)
    emb = spark.createDataFrame(
        [(i, (rng.randn(64) + (i % 4) * 3).tolist()) for i in range(60)],
        "vec_id: long, embedding: array<double>")
    centers = spark.createDataFrame(
        [(c, (np.full(64, c * 3.0) + rng.randn(64) * 0.1).tolist())
         for c in range(4)], "cell: long, centroid: array<double>")
    out = ivf_pq_topk(emb, "vec_id", k=2, n_probe=2, centers=centers) \
        .collect()
    per_q = {}
    for r in out:
        assert r["query_id"] != r["corpus_id"]
        per_q.setdefault(r["query_id"], []).append(r["corpus_id"])
    assert all(len(v) == 2 for v in per_q.values())
    assert len(per_q) == 60


def test_quantizer_drift_trips_and_refit_restores(spark):
    """r12 (VERDICT r11 #3): the drift monitor's contract end to end —
    a corpus identical to fit time scores no-rebuild; a drifted corpus
    (clusters moved) trips `drift_decision`; refitting the quantizer on
    the drifted corpus and re-profiling restores no-rebuild. This is
    the documented maintenance loop: profile at fit time, monitor, and
    rebuild the index only when the decision fires."""
    import numpy as np
    from bda_spadochrony_spark.operators.similarity import (
        drift_decision, kmeans_centers, quantizer_drift, quantizer_profile)
    rng = np.random.RandomState(7)
    fit_rows = [(i, (rng.randn(64) * 0.3 + (i % 4) * 5.0).tolist())
                for i in range(80)]
    fit = spark.createDataFrame(fit_rows,
                                "vec_id: long, embedding: array<double>")
    centers = kmeans_centers(fit, "embedding", n_cells=4, seed=42)
    ref = quantizer_profile(fit, centers, "vec_id").localCheckpoint()

    # identity: the fit-time corpus against its own profile is clean
    same = drift_decision(quantizer_drift(ref, ref)).collect()[0]
    assert not same["rebuild"]
    assert abs(same["occupancy_kl"]) < 1e-12
    assert abs(same["dist_inflation"] - 1.0) < 1e-12

    # drifted live corpus: every vector shifted off the fit geometry —
    # cells get looser (mean d2 inflates) and occupancy shifts
    drift_rows = [(i, (rng.randn(64) * 0.3 + (i % 2) * 11.0 + 2.5).tolist())
                  for i in range(80)]
    live = spark.createDataFrame(drift_rows,
                                 "vec_id: long, embedding: array<double>")
    cur = quantizer_profile(live, centers, "vec_id").localCheckpoint()
    fired = drift_decision(quantizer_drift(cur, ref)).collect()[0]
    assert fired["rebuild"], (
        f"drift did not fire: kl={fired['occupancy_kl']}, "
        f"inflation={fired['dist_inflation']}")

    # the refit-means-rebuild loop: new centers fit on the live corpus,
    # new fit-time profile, and the monitor is quiet again
    centers2 = kmeans_centers(live, "embedding", n_cells=4, seed=42)
    ref2 = quantizer_profile(live, centers2, "vec_id").localCheckpoint()
    cur2 = quantizer_profile(live, centers2, "vec_id")
    ok = drift_decision(quantizer_drift(cur2, ref2)).collect()[0]
    assert not ok["rebuild"]


def test_tokens_to_ids_bytes_contract(spark):
    """r12 (VERDICT r11 #4): the byte-fallback tokenizer contract —
    reserved tokens survive BPE unsplit and map to pinned ids, vocab
    tokens shift past the reserved range, any other token decomposes
    to exact UTF-8 bytes in order, and n_unk is 0 on text no
    vocabulary covers."""
    from bda_spadochrony_spark.operators.corpus import (
        bpe_encode, tokens_to_ids_bytes)
    docs = spark.createDataFrame(
        [(1, "<|doc|> aa bb"), (2, "<|doc|> aa 🚀"), (3, None)],
        "doc_id: long, text: string")
    enc = bpe_encode(docs, "doc_id", "text", [("a", "a")],
                     reserved=["<|doc|>"])
    by_id = {r["doc_id"]: r["symbols"] for r in enc.collect()}
    assert by_id[1] == ["<|doc|>", "aa", "b", "b"]   # marker unsplit
    assert by_id[3] == []
    vocab = spark.createDataFrame([("aa", 1), ("b", 2)],
                                  ["token", "token_id"])
    ids = tokens_to_ids_bytes(docs, "doc_id", "text", vocab,
                              ["<|doc|>"], vocab_size=2)
    out = {r["doc_id"]: r for r in ids.collect()}
    # R=1, V=2: reserved -> 1, vocab 'aa' -> 2, OOV 'bb' -> UTF-8
    # bytes of ' bb' (leading space = the token separator the decoder
    # needs) [32, 98, 98] offset by R+V+1=4 -> [36, 102, 102]
    assert out[1]["token_ids"] == [1, 2, 36, 102, 102]
    assert out[1]["n_byte_ids"] == 3 and out[1]["n_unk"] == 0
    # the emoji decomposes to space + its 4 UTF-8 bytes in order
    assert out[2]["token_ids"] == [1, 2, 36, 244, 163, 158, 132]
    assert out[2]["n_byte_ids"] == 5 and out[2]["n_unk"] == 0
    # NULL-text doc keeps an empty sequence
    assert out[3]["token_ids"] == [] and out[3]["n_ids"] == 0
    # the decode half round-trips LOSSLESSLY (the point of the space
    # byte): normalized text comes back exactly, unk-free
    from bda_spadochrony_spark.operators.corpus import ids_to_tokens_bytes
    dec = {r["doc_id"]: r["detok"] for r in
           ids_to_tokens_bytes(ids, "doc_id", "token_ids", vocab,
                               ["<|doc|>"], vocab_size=2).collect()}
    assert dec[1] == "<|doc|> aa bb"
    assert dec[2] == "<|doc|> aa 🚀"
    assert dec[3] == ""


# ---------------------------------------------------------------- r15 ------
# The PQ/IVF Arrow kernels (r15 optimization round): every kernel must be
# bit-identical to the literal-fold expression it replaced — same IEEE
# summation order, same first-minimum tie-breaks, same length-mismatch
# NULL rules. The expressions are kept as references (_assign_cells_expr,
# _pq_encode_expr, _pq_lut_expr) precisely so these tests can pin the
# equivalence on every future change.

def _r15_fixture(spark):
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-3, 3) for _ in range(64)])
            for i in range(300)]
    rows += [(900, [1.0] * 32),          # short: uncovered subspaces
             (901, [2.0] * 80),          # long: trailing dims ignored
             (902, [1e30] * 64),         # huge-but-finite (d2 overflows)
             (903, [1e-160] * 64)]       # tiny-but-valid norm
    rows += [(950 + j, rows[j][1][:]) for j in range(6)]   # exact ties
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>")


def test_assign_cells_kernel_matches_literal_fold(spark):
    """The r15 mapInPandas assignment must equal the r9 literal fold on
    every row class — including the length-mismatch NULL rule (primary:
    cell NULL; probed: first n_probe cells ascending) and exact-tie
    first-minimum ordering."""
    df = _r15_fixture(spark)
    base = df.select(F.col("vec_id").alias("id"),
                     F.col("embedding").cast("array<double>").alias("v"))
    base = S.valid_vectors(base, "v")
    centers = list(enumerate(r["v"] for r in
                             base.orderBy("id").limit(7).collect()))
    k1 = {(r["id"], r["cell"]) for r in
          S._assign_cells(base, centers).select("id", "cell").collect()}
    e1 = {(r["id"], r["cell"]) for r in
          S._assign_cells_expr(base, centers).select("id",
                                                     "cell").collect()}
    assert k1 == e1
    k2 = {(r["id"], r["rn"], r["cell"]) for r in
          S._assign_cells(base, centers, n_probe=3).collect()}
    e2 = {(r["id"], r["rn"], r["cell"]) for r in
          S._assign_cells_expr(base, centers, n_probe=3).collect()}
    assert k2 == e2
    # the mismatch rule, pinned explicitly (not only via the reference)
    d1 = dict(k1)
    assert d1[900] is None and d1[901] is None
    probed = {(r[0], r[1]): r[2] for r in k2}
    assert probed[(900, 1)] == 0 and probed[(900, 2)] == 1


def test_pq_encode_kernel_matches_literal_fold(spark):
    """The r15 mapInPandas encoder must equal the r10 literal fold —
    including per-subspace coverage NULLs for short vectors and the
    argmin tie-break on duplicated rows."""
    df = _r15_fixture(spark)
    cbs = S.pq_codebooks(df, "vec_id", m=8, k=16)
    k = {r["vec_id"]: tuple(r["codes"]) for r in
         S.pq_encode(df, "vec_id", codebooks=cbs).collect()}
    e = {r["vec_id"]: tuple(r["codes"]) for r in
         S._pq_encode_expr(df, "vec_id", codebooks=cbs).collect()}
    assert k == e
    # coverage rule pinned explicitly: 32-dim vector covers 4 of the
    # 8 subspaces, the rest are NULL; 80-dim covers all 8
    assert k[900][4:] == (None,) * 4 and None not in k[900][:4]
    assert None not in k[901]
    # empty codebooks (what an empty corpus fits): every valid row gets
    # empty codes; an empty frame encodes to no rows
    empty = df.where(F.lit(False))
    assert S.pq_codebooks(empty, "vec_id") == []
    for frame in (df, empty):
        k = S.pq_encode(frame, "vec_id", codebooks=[])
        e = S._pq_encode_expr(frame, "vec_id", codebooks=[])
        assert k.dtypes == e.dtypes
        assert ({r["vec_id"]: tuple(r["codes"]) for r in k.collect()}
                == {r["vec_id"]: tuple(r["codes"]) for r in e.collect()})
    assert S.pq_encode(empty, "vec_id").count() == 0


def test_pq_fused_kernels_match_components(spark):
    """The fused corpus/probe kernels (one Python pass, no joins) must
    equal the component chain they replaced: assignment + encode +
    reconstruction-norm on the corpus side; ranked probes + query norm
    + ADC lookup table on the probe side (lut vs the _pq_lut_expr
    literal fold). A NULL sub-code must NULL-poison rnm — the
    deterministic form of the expression path's flatten-of-NULL rule
    (the expression itself misreads NULL indexes under Spark 4.1
    codegen in some plans; see pq_reconstruct's r15 caution)."""
    df = _r15_fixture(spark)
    cbs = S.pq_codebooks(df, "vec_id", m=8, k=16)
    base = S.valid_vectors(df, "embedding").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"))
    centers = list(enumerate(r["v"] for r in
                             base.orderBy("id").limit(7).collect()))
    fused = {r["id"]: (r["cell"], tuple(r["codes"]), r["rnm"]) for r in
             S._pq_corpus_cols(base, "v", cbs, keep=["id"],
                               center_rows=centers, want_codes=True,
                               want_rnm=True).collect()}
    asg = {r["id"]: r["cell"] for r in
           S._assign_cells_expr(base, centers).select("id",
                                                      "cell").collect()}
    codes = {r["vec_id"]: tuple(r["codes"]) for r in
             S._pq_encode_expr(df, "vec_id", codebooks=cbs).collect()}
    assert {i: c for i, (c, _, _) in fused.items()} == asg
    assert {i: cd for i, (_, cd, _) in fused.items()} == codes
    # rnm: NULL-poisoned on the short row, computed elsewhere, and for
    # uniform rows equal to the expression fold over pq_reconstruct
    assert fused[900][2] is None and fused[901][2] is not None
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0),
                                       lambda acc, x: acc + x * x))
    uni = df.where(F.size("embedding") == 64)
    ref = (S._pq_encode_expr(uni, "vec_id", codebooks=cbs)
           .withColumn("r", S.pq_reconstruct("codes", cbs))
           .withColumn("rnm", nrm(F.col("r"))))
    ref_rnm = {r["vec_id"]: r["rnm"] for r in
               ref.select("vec_id", "rnm").collect()}
    for i, (_, _, rnm_v) in fused.items():
        if i in ref_rnm:
            assert rnm_v == ref_rnm[i]
    # probe side vs components (kernel assignment already pinned above)
    probes = sorted(
        ((r["id"], r["cell"], r["qn"],
          tuple(tuple(s) for s in r["lut"])) for r in
         S._pq_probe_cols(base, "v", cbs, centers,
                          n_probe=3).collect()), key=str)
    ref_p = (S._assign_cells_expr(base, centers, n_probe=3)
             .withColumn("qn", nrm(F.col("v")))
             .withColumn("lut", S._pq_lut_expr("v", cbs)))
    ref_probes = sorted(
        ((r["id"], r["cell"], r["qn"],
          tuple(tuple(s) for s in r["lut"])) for r in
         ref_p.select("id", "cell", "qn", "lut").collect()), key=str)
    assert probes == ref_probes


def test_apply_merges_kernel_matches_merge_fold(spark):
    """The r15 encode-side merge kernel must equal the chained
    merge_fold expressions exactly — same greedy left-to-right
    non-overlapping application, same rank order, including merges of
    merged symbols and repeated-symbol pairs."""
    import random
    from bda_spadochrony_spark.operators import corpus as C
    rng = random.Random(3)
    al = list("abcdef")
    rows = [(str(i), [rng.choice(al) for _ in range(rng.randint(0, 12))])
            for i in range(2000)]
    df = spark.createDataFrame(rows, "w: string, syms: array<string>")
    merges = [("a", "b"), ("ab", "c"), ("c", "d"), ("ab", "ab"),
              ("e", "e"), ("cd", "e")]
    ref = df
    for a, b in merges:
        hit = F.array_contains("syms", a) & F.array_contains("syms", b)
        ref = ref.select(
            "w", F.when(hit, C.merge_fold("syms", a, b))
            .otherwise(F.col("syms")).alias("syms"))
    got = C._apply_merges_pandas(df, merges, keep=["w"])
    assert ({r["w"]: tuple(r["syms"]) for r in got.collect()}
            == {r["w"]: tuple(r["syms"]) for r in ref.collect()})


# ---------------------------------------------------------------- r16 ------
# The raw-layout streamed-index fusion (VERDICT r15 #1): the kernel's
# mismatch_cell="lowest" mode must be bit-identical to the broadcast-
# crossJoin + per-id-window form (_assign_primary_cells below / the topk
# probe window) on EVERY row class, ragged included. Every IVF operator
# now assigns through the kernel alone; the window forms live here only
# as the equality references.

def _assign_primary_cells(vecs, centers, id_out, keep_dist2=False,
                          n_probe=1):
    """The broadcast crossJoin + per-id window form of nearest-center
    assignment: squared euclidean, ties to the lower cell, a ragged
    row's NULL-poisoned dist2 sorting first. Input ``vecs`` carries
    (``id_out``, cvec); output adds ``cell`` (plus ``rn`` when
    ``n_probe > 1`` and the rank key ``dist2`` with ``keep_dist2``)."""
    from pyspark.sql import Window
    cent = F.broadcast(centers.select(
        F.col("cell"),
        F.col("centroid").cast("array<double>").alias("centroid")))
    cc = (vecs.crossJoin(cent)
          .withColumn("dist2", F.aggregate(
              F.zip_with("cvec", "centroid",
                         lambda a, b: (a - b) * (a - b)),
              F.lit(0.0), lambda acc, v: acc + v)))
    w = Window.partitionBy(id_out).orderBy(F.col("dist2").asc(),
                                           F.col("cell").asc())
    cols = ([id_out, "cvec"] + (["rn"] if n_probe > 1 else []) + ["cell"]
            + (["dist2"] if keep_dist2 else []))
    return (cc.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= n_probe)
            .select(*cols))


def _r16_dup_fixture(spark):
    """_r15_fixture plus DUPLICATE-id rows with DIFFERENT vectors (the
    edge-duplicate-keys class that caught the kernel keeping every
    duplicate): ids 0-5 re-appear with their reversed vector, id 900
    (ragged) re-appears with a well-formed vector — the window form's
    NULLS-FIRST rule makes the RAGGED copy win the primary cell."""
    base = _r15_fixture(spark)
    rows = base.collect()
    by_id = {r["vec_id"]: list(r["embedding"]) for r in rows}
    dups = [(i, list(reversed(by_id[i]))) for i in range(6)]
    dups.append((900, [0.5] * 64))
    dup_df = spark.createDataFrame(
        dups, "vec_id: long, embedding: array<double>")
    return base.unionAll(dup_df)


def test_assign_primary_cells_kernel_matches_window_form(spark):
    """The raw-append fusion (_assign_primary_cells_kernel) must be
    bit-identical to the _assign_primary_cells reference on every row
    class: unique
    ids, exact ties, ragged rows (NULL dist2 sorts first, lowest cell
    wins), and DUPLICATE ids (one survivor per id, globally best
    (dist2, cell); a ragged duplicate beats a well-formed one)."""
    df = _r16_dup_fixture(spark)
    vecs = S.valid_vectors(df, "embedding").select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("cvec"))
    center_rows = list(enumerate(
        r["cvec"] for r in vecs.orderBy("corpus_id").limit(7).collect()))
    centers = spark.createDataFrame(center_rows, ["cell", "centroid"])
    win = {(r["corpus_id"], tuple(r["cvec"]), r["cell"]) for r in
           _assign_primary_cells(vecs, centers, "corpus_id").collect()}
    ker = {(r["corpus_id"], tuple(r["cvec"]), r["cell"]) for r in
           S._assign_primary_cells_kernel(vecs, center_rows,
                                          "bigint").collect()}
    assert ker == win
    # the rules pinned explicitly, not only via the reference:
    d = {i: (v, c) for i, v, c in ker}
    assert len(ker) == len(d)            # ONE survivor per duplicate id
    assert d[901][1] == 0                # ragged → lowest cell, not NULL
    assert d[900][0] == tuple([1.0] * 32)  # ragged copy beats well-formed
    assert d[900][1] == 0
    # and the kernel default stays NULL (the one-shot ivf_pq rule)
    base = vecs.select(F.col("corpus_id").alias("id"),
                       F.col("cvec").alias("v")).dropDuplicates(["id"])
    d_null = {r["id"]: r["cell"] for r in
              S._assign_cells(base, center_rows,
                              cell_type="bigint").collect()}
    assert d_null[901] is None


def test_probe_cells_kernel_matches_topk_window_form(spark):
    """The ann_index_topk probe fusion (_probe_cells_kernel) must equal
    the crossJoin + per-query window form it replaced as a MULTISET —
    including ragged rows (all-NULL dist2 → the n_probe lowest cells)
    and DUPLICATE query ids (one global top-n_probe per id over every
    duplicate row's candidates; the same (id, cell) pair can repeat
    with different source vectors, exactly as the window form emits
    it)."""
    from collections import Counter

    from pyspark.sql import Window
    df = _r16_dup_fixture(spark)
    q = S.valid_vectors(df, "embedding").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("cvec"))
    center_rows = list(enumerate(
        r["cvec"] for r in
        q.dropDuplicates(["query_id"]).orderBy("query_id")
        .limit(7).collect()))
    cent = F.broadcast(spark.createDataFrame(
        center_rows, ["cell", "centroid"]).select(
            "cell", F.col("centroid").cast("array<double>").alias("centroid")))
    qc = (q.crossJoin(cent)
          .withColumn("dist2", F.aggregate(
              F.zip_with("cvec", "centroid",
                         lambda a, b: (a - b) * (a - b)),
              F.lit(0.0), lambda acc, v: acc + v)))
    wq = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                                F.col("cell").asc())
    win = Counter((r["query_id"], tuple(r["cvec"]), r["cell"]) for r in
                  qc.withColumn("rn", F.row_number().over(wq))
                  .where(F.col("rn") <= 4).collect())
    ker = Counter((r["id"], tuple(r["v"]), r["cell"]) for r in
                  S._probe_cells_kernel(q, center_rows, "bigint",
                                        4).collect())
    assert ker == win
    # duplicate-id count rule pinned: id 0 has two rows but exactly
    # n_probe probes total, and the ragged id-900 copy's 4 NULL-dist2
    # probes (cells 0..3) beat the well-formed copy's entirely
    per_id = Counter(i for i, _, _ in ker.elements())
    assert per_id[0] == 4 and per_id[900] == 4
    ragged_cells = sorted(c for i, v, c in ker.elements()
                          if i == 900)
    assert ragged_cells == [0, 1, 2, 3]
    assert all(len(v) == 32 for i, v, c in ker.elements() if i == 900)


_QUANTIZER_SCHEMA = "cell: long, centroid: array<double>"
_BAD_QUANTIZERS = {
    "null_cell": ([(0, [0.0] * 4), (None, [1.0] * 4)], "NULL cell"),
    "null_centroid": ([(0, [0.0] * 4), (1, None)], "NULL centroid"),
    "null_element": ([(0, [0.0] * 4), (1, [1.0, None, 1.0, 1.0])],
                     "NULL centroid element"),
    "nan_element": ([(0, [0.0] * 4), (1, [float("nan")] + [1.0] * 3)],
                    "non-finite"),
    "inf_element": ([(0, [0.0] * 4), (1, [float("inf")] + [1.0] * 3)],
                    "non-finite"),
    "mixed_lengths": ([(0, [0.0] * 4), (1, [1.0] * 3)], "mixed lengths"),
}


@pytest.mark.parametrize("case", [*_BAD_QUANTIZERS, "empty"])
def test_kernel_center_rows_degenerate_quantizers(spark, tmp_path, case):
    """_kernel_center_rows is the one quantizer loader: it sorts a real
    quantizer by cell, returns [] for an empty one — every IVF family
    then answers empty — and raises ValueError naming the fault for a
    quantizer whose nearest-center rule is undefined, at the loader and
    through one public entry per family (a NaN centroid used to send
    ivf_pq_topk's corpus to the NaN cell while its probes ranked that
    cell last)."""
    ok = spark.createDataFrame([(1, [0.0, 1.0]), (0, [2.0, 3.0])],
                               _QUANTIZER_SCHEMA)
    assert S._kernel_center_rows(ok) == [(0, [2.0, 3.0]), (1, [0.0, 1.0])]
    df = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, float(i % 3), 2.0]) for i in range(8)],
        "vec_id: long, embedding: array<double>")
    entries = {
        "ivf_topk": lambda c: S.ivf_topk(df, df, "vec_id", "vec_id", k=2,
                                         n_probe=1, centers=c),
        "ivf_pq_topk": lambda c: S.ivf_pq_topk(df, "vec_id", m=2,
                                               codebook_k=4, centers=c),
        "semantic_dedup": lambda c: S.semantic_dedup(df, "vec_id",
                                                     centers=c),
        "ann_index_topk": lambda c: S.ann_index_topk(
            spark, str(tmp_path / "index"), df, "vec_id", centers=c),
    }
    if case == "empty":
        empty = spark.createDataFrame([], _QUANTIZER_SCHEMA)
        assert S._kernel_center_rows(empty) == []
        for name, run in entries.items():
            assert run(empty).count() == 0, name
        return
    rows, fault = _BAD_QUANTIZERS[case]
    bad = spark.createDataFrame(rows, _QUANTIZER_SCHEMA)
    with pytest.raises(ValueError, match=fault):
        S._kernel_center_rows(bad)
    for name, run in entries.items():
        with pytest.raises(ValueError, match=fault):
            run(bad)
