"""Multimodal plumbing: image/audio/video decode and round-trips, frame
sampling, perceptual-hash near-dups and cross-modal agreement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..operators import text as T
from ..sources.tables import load_tables
from .registry import query


@query(
    "multimodal_decode_stub",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS payload_len,
           'image/stub' AS media_type,
           CAST(16 + length(text) % 64 AS BIGINT) AS width,
           CAST(16 + (length(text) * 7) % 64 AS BIGINT) AS height
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column decoded via Arrow-batched
    mapInPandas (deterministic stub codec; see operators/multimodal.py)."""
    t = load_tables(spark, sf_dir, "documents")
    return M.decode_media(M.attach_binary_payload(t.documents))


@query(
    "multimodal_features",
    oracle="""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      FROM documents
    ), nib AS (
      SELECT doc_id, n,
             list_transform(range(CAST(n AS BIGINT)),
               i -> strpos('123456789ABCDEF', substr(hx, CAST(2*i+1 AS INTEGER), 1))) AS bins
      FROM h
    )
    SELECT doc_id, CAST(n AS BIGINT) AS payload_len, CAST(16 AS INTEGER) AS n_bins,
           array_to_string(list_transform(range(16),
             k -> CAST(len(list_filter(bins, b -> b = k)) AS BIGINT)), ',') AS hist_csv
    FROM nib
    """,
    tags=("llm", "multimodal"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram feature extraction over binary payloads (real
    computation — numpy inside Arrow batches); the normalized variant feeds
    the similarity operators. Registered in integer-count form so the output
    is exact: with 16 bins a byte's bin is its high nibble, which the DuckDB
    oracle recomputes independently as a hex-digit histogram (full value-hash
    check — was rows-only in rounds 1-2). The counts csv is hash/sort-stable;
    the float features are counts/payload_len, pinned in tests."""
    t = load_tables(spark, sf_dir, "documents")
    feats = M.extract_features(M.attach_binary_payload(t.documents), normalize=False)
    return feats.select(
        "doc_id",
        "payload_len",
        F.size("features").alias("n_bins"),
        F.array_join(F.transform("features", lambda x: x.cast("string")), ",").alias(
            "hist_csv"
        ),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           UNNEST(generate_series(0, 3)) AS frame_idx,
           CAST(CASE WHEN UNNEST(generate_series(0, 3)) < 3
                     THEN length(text) // 4
                     ELSE length(text) - 3 * (length(text) // 4)
                END AS BIGINT) AS frame_len
    FROM documents WHERE doc_id < 30
    """,
    tags=("llm", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: 4 equal-split chunks per payload, executor-side row
    multiplication. The oracle reproduces the split arithmetic (chunk sizes);
    frame bytes themselves are checked in tests."""
    t = load_tables(spark, sf_dir, "documents")
    frames = M.sample_frames(
        M.attach_binary_payload(t.documents.filter(F.col("doc_id") < 30)), n_frames=4
    )
    return frames.select("doc_id", "frame_idx", "frame_len")


@query(
    "multimodal_ppm_roundtrip",
    oracle="""
    SELECT doc_id,
           'image/x-portable-pixmap' AS media_type,
           CAST(8 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           CAST(11 + 8 * 4 * 3 AS BIGINT) AS payload_len
    FROM documents WHERE doc_id < 40 ORDER BY doc_id
    """,
    tags=("llm", "multimodal"),
)
def multimodal_ppm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal pipeline under the driver gate: synthesize a binary
    PPM per document (16x8, pixels cycled from the text bytes), nearest-
    neighbor resize to 8x4 (`resize_ppm` — actual pixel work in numpy inside
    Arrow batches), then decode the resized payload (`decode_media` P6
    branch). The oracle pins the decoded type/dimensions and the exact P6
    payload length — any failure in header emit, pixel buffer arithmetic, or
    the mapInPandas plumbing breaks it. Pixel-exactness vs a numpy oracle is
    pinned in tests/test_llm_ops.py::TestPpmCodec."""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    docs = t.documents.filter(F.col("doc_id") < 40)
    # 16x8 P6: header + 384 pixel bytes cycled from the text. The repeat
    # factor is computed from the actual text length (empty text falls back
    # to a 1-char seed), so the pixel buffer is ALWAYS >= 384 bytes — a
    # fixed repeat(,8) only covers texts >= 48 chars and silently emits a
    # truncated container below that.
    seed = F.when(F.length("text") > 0, F.col("text")).otherwise(F.lit("x"))
    reps = F.ceil(F.lit(float(16 * 8 * 3)) / F.length(seed)).cast("int")
    pix = F.substring(F.repeat(seed, reps), 1, 16 * 8 * 3)
    payload = F.concat(F.lit("P6\n16 8\n255\n"), pix).cast("binary")
    ppm = docs.select("doc_id", payload.alias("payload"))
    resized = M.resize_ppm(ppm, width=8, height=4).select(
        "doc_id", "payload"
    )
    return (
        M.decode_media(resized)
        .select("doc_id", "media_type", "width", "height", "payload_len")
        .orderBy("doc_id")
    )


def _png_roundtrip_oracle() -> str:
    """Pixel-exact oracle for multimodal_png_roundtrip: the resized image's
    decoded bytes are a pure index-sample of the cycled text bytes, so
    DuckDB rebuilds them positionally from hex(encode(text)) and folds the
    same polynomial hash the Spark side computes from the actually-decoded
    PNG — any corruption anywhere in deflate/encode/decode/unfilter/resize
    changes the hash."""
    # nearest-neighbor 16x8 -> 8x4: ys=(i*8)//4, xs=(j*16)//8
    ys = [(i * 8) // 4 for i in range(4)]
    xs = [(j * 16) // 8 for j in range(8)]
    positions = [(y * 16 + x) * 3 + k for y in ys for x in xs for k in (0, 1, 2)]
    pos_list = "[" + ", ".join(str(p) for p in positions) + "]"
    nib = "'123456789ABCDEF'"
    byteval = (
        f"(16 * strpos({nib}, substr(hx, CAST(2*(p % n) + 1 AS INTEGER), 1))"
        f" + strpos({nib}, substr(hx, CAST(2*(p % n) + 2 AS INTEGER), 1)))"
    )
    return f"""
    WITH h AS (
      SELECT doc_id,
             hex(encode(CASE WHEN length(text) > 0 THEN text ELSE 'x' END)) AS hx,
             octet_length(encode(CASE WHEN length(text) > 0 THEN text ELSE 'x' END)) AS n
      FROM documents WHERE doc_id < 40
    )
    SELECT doc_id, 'image/png' AS media_type,
           CAST(8 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform({pos_list}, p -> CAST({byteval} AS BIGINT))),
             (a, b) -> (a * {T.BASE} + b) % {T.MOD}) AS pixel_hash
    FROM h ORDER BY doc_id
    """


@query(
    "multimodal_png_roundtrip",
    oracle=_png_roundtrip_oracle(),
    tags=("llm", "multimodal"),
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pipeline under the driver gate: synthesize a 16x8 RGB PNG
    per document (pure-stdlib writer — zlib deflate, CRC chunks), nearest-
    neighbor resize via full decode/re-encode (operators/png.py: inflate +
    per-scanline unfilter), then decode the resized container and hash its
    raw pixel bytes. The oracle (_png_roundtrip_oracle) re-derives the
    expected pixels positionally from the text bytes — a PIXEL-EXACT
    value-hash check of the whole codec, not just dimensions. Arrow-batched
    mapInPandas at every step; embarrassingly parallel."""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    docs = t.documents.filter(F.col("doc_id") < 40)
    ppm = M.synthesize_png(docs, width=16, height=8)
    resized = M.resize_png(ppm, width=8, height=4).select("doc_id", "payload")
    return (
        M.decode_png_hashed(resized)
        .select("doc_id", "media_type", "width", "height", "pixel_hash")
        .orderBy("doc_id")
    )


@query(
    "multimodal_jpeg_roundtrip",
    oracle="""
    SELECT doc_id, 'image/jpeg' AS media_type,
           CAST(16 + (length(text) % 3) * 8 AS BIGINT) AS width,
           CAST(16 + (length(text) % 5) * 8 AS BIGINT) AS height,
           TRUE AS ok
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal"),
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG codec e2e (operators/jpeg.py, pure numpy): per
    document, synthesize a smooth text-derived RGB image with text-derived
    MCU geometry, encode with Annex K tables + 4:2:0 subsampling + restart
    markers, decode through the full Huffman/IDCT/upsample path, and assert
    container dims and a lossy-roundtrip pixel bound. The oracle
    re-derives the text-determined dimensions and pins ``ok`` — so a
    defect anywhere in marker layout, entropy coding, DC prediction,
    restart handling, chroma math, or the decoder's generic MCU walk flips
    a row. (Lossy codec ⇒ pixel-exact hashing is the wrong contract; the
    PNG/PPM round-trips beside this are the pixel-exact ones.)"""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    return M.jpeg_roundtrip(t.documents).orderBy("doc_id")


@query(
    "multimodal_wav_features",
    oracle="""
    WITH base AS (
      SELECT doc_id, 800 + (doc_id % 5) * 160 AS n FROM documents
    ), s AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM base
    ), v AS (
      SELECT doc_id, n, i,
             ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS smp
      FROM s
    ), agg AS (
      SELECT doc_id,
             CAST(MAX(ABS(smp)) AS BIGINT) AS peak,
             CAST(FLOOR(SQRT(CAST(SUM(smp * smp) AS DOUBLE) / COUNT(*))) AS BIGINT)
               AS rms_floor
      FROM v GROUP BY doc_id
    ), zc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS zero_crossings FROM (
        SELECT doc_id, sgn, LAG(sgn) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM (
          SELECT doc_id, i, CASE WHEN smp > 0 THEN 1 ELSE -1 END AS sgn
          FROM v WHERE smp <> 0
        )
      ) WHERE prev IS NOT NULL AND sgn <> prev
      GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(16000 AS BIGINT) AS sample_rate,
           CAST(b.n AS BIGINT) AS n_frames,
           CAST(b.n * 1000 // 16000 AS BIGINT) AS duration_ms,
           agg.peak, agg.rms_floor,
           COALESCE(zc.zero_crossings, 0) AS zero_crossings
    FROM base b
    JOIN agg USING (doc_id)
    LEFT JOIN zc USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "audio"),
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality through a REAL codec (operators/audio.py RIFF/PCM-16):
    deterministic per-doc PCM synthesis → encode → decode → integer
    features, with the oracle recomputing every feature from the synthesis
    rule in plain SQL (exact: integer sums, IEEE-correctly-rounded sqrt,
    strict-sign-flip window count). See
    operators/multimodal.py:wav_roundtrip_features."""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    return M.wav_roundtrip_features(t.documents).orderBy("doc_id")


@query(
    "multimodal_mjpeg_frames",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(16 + (length(text) % 2) * 8 AS BIGINT) AS width,
             2 + doc_id % 3 AS n_frames
      FROM documents
    )
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, width,
           CAST(16 AS BIGINT) AS height, TRUE AS ok
    FROM (SELECT doc_id, width, unnest(generate_series(0, n_frames - 1)) AS f
          FROM base)
    ORDER BY doc_id, frame_idx
    """,
    tags=("llm", "multimodal", "video"),
)
def multimodal_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video (MJPEG) demux + per-frame decode through the real JPEG codec:
    the oracle re-derives the frame count and geometry from the synthesis
    rule and pins the lossy-bound pixel check — a defect in stream
    splitting, frame boundaries (EOI scanning), or any per-frame decode
    stage drops/flips rows. See
    operators/multimodal.py:mjpeg_frame_extract."""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    return M.mjpeg_frame_extract(t.documents).orderBy("doc_id", "frame_idx")


@query(
    "multimodal_gif_frames",
    oracle="""
    WITH base AS (
      SELECT doc_id, 13 + doc_id % 3 AS w, 11 AS h, 2 + doc_id % 2 AS nf
      FROM documents
    ), fr AS (
      SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS f FROM base
    ), px AS (
      SELECT doc_id, w, h, f, unnest(generate_series(0, h * w - 1)) AS p
      FROM fr
    )
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(SUM(180 * ((p % w + p // w + f) % 4) + 60) AS BIGINT)
             AS checksum
    FROM px
    GROUP BY doc_id, f, w, h
    ORDER BY doc_id, frame_idx
    """,
    tags=("llm", "multimodal", "video"),
)
def multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated GIF through the real LZW codec: the oracle re-derives every
    frame's pixel checksum from the synthesis rule (pixel index
    (x+y+f)%4, per-pixel RGB sum 180c+60) with a generate_series grid —
    fully independent of the codec. See
    operators/multimodal.py:gif_frame_extract and operators/gif.py."""
    from ..operators import multimodal as M

    t = load_tables(spark, sf_dir, "documents")
    return M.gif_frame_extract(t.documents).orderBy("doc_id", "frame_idx")


def _dhash_oracle() -> str:
    """Positional replay of the dHash pipeline: the synthesized 18x14 PNG's
    pixels are cycled text bytes, nearest-neighbor 9x7 sampling picks
    source pixel (2r, 2c), so every grayscale value — and therefore every
    gradient bit, the 56-bit hash, the pigeonhole blocks, and the hamming
    verification — is closed-form integer arithmetic over
    hex(encode(text))."""
    from ..operators.multimodal import DHASH_H, DHASH_W

    grid = []
    for r in range(DHASH_H):
        for c in range(DHASH_W + 1):
            base = ((2 * r) * 18 + 2 * c) * 3
            grid.append(
                f"{{'r':{r},'c':{c},'p0':{base},'p1':{base+1},'p2':{base+2}}}"
            )
    grid_list = "[" + ", ".join(grid) + "]"
    nib = "'123456789ABCDEF'"

    def bv(p: str) -> str:
        return (
            f"(16 * strpos({nib}, substr(hx, CAST(2*({p} % n) + 1 AS INTEGER), 1))"
            f" + strpos({nib}, substr(hx, CAST(2*({p} % n) + 2 AS INTEGER), 1)))"
        )

    blks = ", ".join(str(b) for b in range(7))
    return f"""
    WITH h AS (
      SELECT doc_id,
             hex(encode(CASE WHEN length(text) > 0 THEN text ELSE 'x' END)) AS hx,
             octet_length(encode(CASE WHEN length(text) > 0 THEN text ELSE 'x' END)) AS n
      FROM documents
    ), g AS (
      SELECT doc_id, u.r AS r, u.c AS c,
             (299 * {bv("u.p0")} + 587 * {bv("u.p1")} + 114 * {bv("u.p2")}) // 1000
               AS gray
      FROM h, unnest({grid_list}) AS t(u)
    ), bits AS (
      SELECT a.doc_id, a.r, a.c,
             CASE WHEN a.gray > b.gray THEN 1 ELSE 0 END AS bit
      FROM g a JOIN g b ON a.doc_id = b.doc_id AND b.r = a.r AND b.c = a.c + 1
      WHERE a.c < {DHASH_W}
    ), hs AS (
      SELECT doc_id,
             CAST(SUM(bit * (1::BIGINT << (r * {DHASH_W} + c))) AS BIGINT) AS dhash
      FROM bits GROUP BY doc_id
    ), blk AS (
      SELECT doc_id, dhash, b AS blk, (dhash >> (b * 8)) & 255 AS blk_val
      FROM hs, unnest([{blks}]) AS t(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.dhash AS ha, b.dhash AS hb
      FROM blk a JOIN blk b
        ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 6
    ORDER BY doc_a, doc_b"""


@query(
    "multimodal_dhash_neardup",
    oracle=_dhash_oracle(),
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate search through the real codec path: synthesize
    an 18x14 RGB PNG per document, nearest-neighbor resize to 9x7 (full
    decode/re-encode), 56-bit perceptual gradient hash (dHash) from the
    decoded pixels, then pigeonhole-bucketed pairing at hamming ≤ 6
    (operators/multimodal.dhash_png/dhash_near_dup) — the image-modality
    member of the near-dup family next to MinHash (text) and SimHash
    (tokens). The oracle replays pixels positionally from the text bytes,
    so any corruption in deflate/unfilter/resize/luma/bit packing changes
    the driver hash.

    r13: the synth → resize → hash chain runs as ONE fused mapInPandas
    stage (operators/multimodal.dhash_synth_resized — bit-identical
    composition of the same codec calls, pinned fused-vs-chained): the
    three separate Python stages each paid a JVM↔Python Arrow round-trip
    while the actual per-image Python work is ~0.14 ms/doc (guide §4)."""
    from ..operators import multimodal as M

    docs = load_tables(spark, sf_dir, "documents").documents
    hashes = M.dhash_synth_resized(
        docs, synth_width=18, synth_height=14, width=9, height=7
    )
    return M.dhash_near_dup(hashes)


@query(
    "multimodal_audio_neardup",
    oracle="""
    WITH base AS (
      SELECT doc_id, 800 + (doc_id % 5) * 160 AS n FROM documents
      WHERE doc_id < 200
    ), s AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM base
    ), v AS (
      SELECT doc_id, n, i,
             ABS(((doc_id * 7919 + i * 104729) % 65536) - 32768) AS av
      FROM s
    ), eng AS (
      SELECT doc_id, i // (n // 32) AS f, CAST(SUM(av) AS BIGINT) AS e
      FROM v GROUP BY doc_id, i // (n // 32)
    ), bits AS (
      SELECT a.doc_id, a.f, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
      FROM eng a JOIN eng b ON a.doc_id = b.doc_id AND b.f = a.f + 1
    ), hs AS (
      SELECT doc_id,
             CAST(SUM(bit * (1::BIGINT << CAST(f AS INTEGER))) AS BIGINT) AS afp
      FROM bits GROUP BY doc_id
    ), blk AS (
      SELECT doc_id, afp, b AS blk, (afp >> (b * 6)) & 63 AS bv
      FROM hs, unnest([0, 1, 2, 3, 4, 5]) AS t(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.afp AS ha, b.afp AS hb
      FROM blk a JOIN blk b
        ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 5
    ORDER BY doc_a, doc_b""",
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-duplicate search through the real WAV codec: per-doc
    deterministic PCM synthesis -> RIFF/PCM-16 encode -> decode -> 31-bit
    energy-envelope gradient fingerprint
    (operators/multimodal.wav_fingerprint), then pigeonhole 6-bit-block
    pairing at hamming ≤ 5 — completing the near-dup modality family
    (MinHash text, SimHash tokens, cosine embeddings, dHash images, this
    for audio), all through the shared hamming_block_pairs engine. The
    oracle recomputes every frame energy from the synthesis rule in SQL,
    so a codec defect anywhere flips the driver hash. Bounded to the
    doc_id<200 slice (the png_roundtrip convention): the synthesis depends
    only on doc_id, so an unbounded slice just grows near-identical
    families quadratically without exercising anything new."""
    from ..operators import multimodal as M

    docs = load_tables(spark, sf_dir, "documents").documents.filter(
        F.col("doc_id") < 200
    )
    return M.audio_near_dup(M.wav_fingerprint(docs))


@query(
    "dedup_crossmodal_agreement",
    oracle=f"""
    WITH txt AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON a.doc_id < b.doc_id AND md5(a.text) = md5(b.text)
    ), img AS (
      SELECT doc_a, doc_b FROM ({_dhash_oracle()})
    )
    SELECT COALESCE(t.doc_a, i.doc_a) AS doc_a,
           COALESCE(t.doc_b, i.doc_b) AS doc_b,
           CASE WHEN t.doc_a IS NOT NULL AND i.doc_a IS NOT NULL THEN 'both'
                WHEN i.doc_a IS NOT NULL THEN 'image_only'
                ELSE 'text_only' END AS agreement
    FROM txt t FULL OUTER JOIN img i
      ON t.doc_a = i.doc_a AND t.doc_b = i.doc_b
    ORDER BY doc_a, doc_b""",
    tags=("llm", "multimodal", "dedup"),
)
def dedup_crossmodal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup consistency — which near-dup pairs do the TEXT
    and IMAGE modalities agree on: exact-text pairs (md5 equality) full-
    outer-joined with the perceptual dHash pairs. Because every image is
    synthesized from its text, identical text ⇒ identical image ⇒
    hamming 0, so 'text_only' rows are IMPOSSIBLE unless something in the
    synthesize/resize/decode/hash chain breaks determinism — the driver
    hash checks that invariant corpus-wide, plus the image-only fuzzy
    matches the text modality cannot see."""
    from ..operators import multimodal as M

    docs = load_tables(spark, sf_dir, "documents").documents
    fp = docs.select("doc_id", F.md5("text").alias("fp"))
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    txt = (
        a.join(b, "fp").filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    img = M.dhash_near_dup(
        M.dhash_synth_resized(
            docs, synth_width=18, synth_height=14, width=9, height=7
        )
    ).select("doc_a", "doc_b")
    agreement = (
        F.when(txt["doc_a"].isNotNull() & img["doc_a"].isNotNull(), "both")
        .when(img["doc_a"].isNotNull(), "image_only")
        .otherwise("text_only")
    )
    return (
        txt.join(
            img,
            (txt["doc_a"] == img["doc_a"]) & (txt["doc_b"] == img["doc_b"]),
            "full_outer",
        )
        .select(
            F.coalesce(txt["doc_a"], img["doc_a"]).alias("doc_a"),
            F.coalesce(txt["doc_b"], img["doc_b"]).alias("doc_b"),
            agreement.alias("agreement"),
        )
    )
