"""ANN operators: recall against the exact brute-force baseline.

The approximate paths (LSH buckets, IVF cells) are deterministic by
construction, so since round 3 they ARE value-hash checked at the driver
gate (SQL-replayed planes / import-time-built centroid oracles). These
tests pin what the oracle can't: every returned similarity must be exact,
and recall against the brute-force answer must clear a floor.
"""

import pytest
from pyspark.sql import functions as F

from sea_streamer_spark.operators import similarity as S
from sea_streamer_spark.sources.tables import load_tables


@pytest.fixture()
def emb(spark, sf_dir):
    return load_tables(spark, sf_dir, "embeddings").embeddings


class TestIvf:
    def test_cells_cover_corpus(self, spark, emb):
        cents = S.ivf_centroids(emb, n_cells=8)
        assert len(cents) == 8
        assigned = emb.withColumn("cell", S.ivf_cell_expr(cents))
        n = emb.count()
        assert assigned.filter(F.col("cell").between(0, 7)).count() == n
        # assignment must be deterministic
        a1 = {r.vec_id: r.cell for r in assigned.select("vec_id", "cell").collect()}
        a2 = {r.vec_id: r.cell for r in assigned.select("vec_id", "cell").collect()}
        assert a1 == a2

    def test_topk_recall_vs_brute_force(self, spark, emb):
        exact = {r.vec_id for r in S.cosine_topk(emb, query_id=0, k=10).collect()}
        approx_rows = S.ann_ivf_topk(emb, query_id=0, k=10, n_cells=16, nprobe=4).collect()
        approx = {r.vec_id for r in approx_rows}
        assert len(approx_rows) == 10
        recall = len(exact & approx) / 10
        assert recall >= 0.5, f"IVF recall too low: {recall}"
        # probing ALL cells must reproduce the exact answer
        full = {r.vec_id for r in S.ann_ivf_topk(emb, query_id=0, k=10, n_cells=16, nprobe=16).collect()}
        assert full == exact

    def test_returned_sims_are_exact(self, spark, emb):
        rows = S.ann_ivf_topk(emb, query_id=0, k=5, n_cells=8, nprobe=3).collect()
        brute = {
            r.vec_id: r.cosine_sim for r in S.cosine_topk(emb, query_id=0, k=10_000).collect()
        }
        for r in rows:
            assert abs(brute[r.vec_id] - r.cosine_sim) < 1e-12


class TestLshRecall:
    def test_bucketed_pairs_subset_of_exact(self, spark, emb):
        small = emb.filter(F.col("vec_id") < 150)
        exact = {
            (r.id_a, r.id_b) for r in S.near_dup_pairs(small, threshold=0.45).collect()
        }
        approx = {(r.id_a, r.id_b) for r in S.ann_lsh(small, threshold=0.45).collect()}
        assert approx <= exact  # in-bucket scores are exact -> no false pairs
        if exact:
            recall = len(approx & exact) / len(exact)
            assert recall >= 0.5, f"LSH recall too low: {recall}"

    def test_banded_recall_tracks_curve_and_beats_single(self, spark, emb):
        """The 8x5 banded variant must (a) never return a wrong pair, (b)
        recall at least as much as the single 8-plane band, and (c) clear
        the analytic banding-curve floor: per true pair with cosine c,
        p_plane = 1 - acos(c)/pi and P[candidate] = 1-(1-p_plane^R)^B; with
        >= 20 pairs the observed recall must be >= 60% of the curve's
        prediction (slack for the deterministic planes being one fixed
        draw)."""
        import math

        thr = 0.3
        exact = {
            (r.id_a, r.id_b): r.cosine_sim
            for r in S.near_dup_pairs(emb, threshold=thr).collect()
        }
        if len(exact) < 20:
            pytest.skip("not enough true pairs at this sf to bound recall")
        single = {(r.id_a, r.id_b) for r in S.ann_lsh(emb, threshold=thr).collect()}
        banded = {(r.id_a, r.id_b) for r in S.ann_lsh_banded(emb, threshold=thr).collect()}
        assert banded <= set(exact)  # verification is exact -> no false pairs
        r_single = len(single & set(exact)) / len(exact)
        r_banded = len(banded & set(exact)) / len(exact)
        assert r_banded >= r_single, f"banded {r_banded} < single {r_single}"
        R, B = S.LSH_PLANES_PER_BAND, S.LSH_BANDS_VEC
        predicted = sum(
            1 - (1 - (1 - math.acos(max(-1.0, min(1.0, c))) / math.pi) ** R) ** B
            for c in exact.values()
        ) / len(exact)
        assert r_banded >= 0.6 * predicted, (
            f"banded recall {r_banded:.3f} below curve floor "
            f"{0.6 * predicted:.3f} (predicted {predicted:.3f})"
        )


class TestSketchAccuracy:
    """agg_approx_sketches: sketch answers must track the exact ones."""

    def test_hll_and_tdigest_error_bounds(self, spark, sf_dir):
        from sea_streamer_spark.plans.queries import QUERIES

        approx = {
            r.o_orderpriority: r
            for r in QUERIES["agg_approx_sketches"].fn(spark, sf_dir).collect()
        }
        t = load_tables(spark, sf_dir, "orders")
        exact = {
            r.o_orderpriority: r
            for r in t.orders.groupBy("o_orderpriority")
            .agg(
                F.countDistinct("o_custkey").alias("n_cust"),
                F.expr("percentile(o_totalprice, 0.5)").alias("median"),
            )
            .collect()
        }
        assert set(approx) == set(exact)
        for k, e in exact.items():
            a = approx[k]
            assert abs(a.approx_custs - e.n_cust) / max(e.n_cust, 1) < 0.05
            assert abs(a.approx_median - e.median) / max(abs(e.median), 1) < 0.05


class TestMultimodal:
    """Arrow-batch plumbing: real byte-histogram features, frame splitting."""

    def test_features_match_pure_python(self, spark, sf_dir):
        from sea_streamer_spark.operators.multimodal import (
            attach_binary_payload,
            extract_features,
        )

        docs = load_tables(spark, sf_dir, "documents").documents.filter(F.col("doc_id") < 20)
        feats = {
            r.doc_id: r.features
            for r in extract_features(attach_binary_payload(docs), n_bins=16).collect()
        }
        for r in docs.select("doc_id", "text").collect():
            data = r.text.encode()
            hist = [0] * 16
            for b in data:
                hist[b // 16] += 1
            expect = [h / len(data) for h in hist]
            assert feats[r.doc_id] == pytest.approx(expect, abs=1e-12)

    def test_frames_reassemble_to_payload(self, spark, sf_dir):
        from sea_streamer_spark.operators.multimodal import (
            attach_binary_payload,
            sample_frames,
        )

        docs = load_tables(spark, sf_dir, "documents").documents.filter(F.col("doc_id") < 10)
        frames = sample_frames(attach_binary_payload(docs), n_frames=4).collect()
        by_doc = {}
        for f in sorted(frames, key=lambda r: (r.doc_id, r.frame_idx)):
            by_doc.setdefault(f.doc_id, b"")
            by_doc[f.doc_id] += bytes(f.frame)
        for r in docs.select("doc_id", "text").collect():
            assert by_doc[r.doc_id] == r.text.encode()  # lossless split

    def test_resize_stub_schema(self, spark, sf_dir):
        from sea_streamer_spark.operators.multimodal import (
            attach_binary_payload,
            resize_media,
        )

        docs = load_tables(spark, sf_dir, "documents").documents.limit(5)
        out = resize_media(attach_binary_payload(docs), width=64, height=48).collect()
        assert len(out) == 5
        assert all(r.width == 64 and r.height == 48 for r in out)


class TestCuration:
    """hash_split determinism/proportions; pack_token_budget invariants."""

    def test_split_deterministic_and_proportional(self, spark, sf_dir):
        from sea_streamer_spark.operators.curation import hash_split
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        a = {r.doc_id: r.split for r in hash_split(docs).select("doc_id", "split").collect()}
        # rerun on a repartitioned input: identical assignment
        b = {
            r.doc_id: r.split
            for r in hash_split(docs.repartition(7)).select("doc_id", "split").collect()
        }
        assert a == b
        n = len(a)
        from collections import Counter

        frac = {k: v / n for k, v in Counter(a.values()).items()}
        assert abs(frac["train"] - 0.8) < 0.05 and abs(frac["val"] - 0.1) < 0.03

    def test_pack_chunks_invariants(self, spark, sf_dir):
        from sea_streamer_spark.operators.curation import pack_token_budget
        from sea_streamer_spark.sources.tables import load_tables

        docs = load_tables(spark, sf_dir, "documents").documents
        budget = 512
        out = pack_token_budget(docs, budget=budget).select(
            "source", "doc_id", "n_tokens", "chunk_id"
        ).toPandas()
        assert len(out) == docs.count()  # exactly-once
        for _, g in out.groupby("source"):
            g = g.sort_values("doc_id")
            # chunk ids start at 0, are sorted along doc order, and contiguous
            ids = g.chunk_id.to_numpy()
            assert ids[0] == 0 and (ids[1:] >= ids[:-1]).all()
            assert set(ids) == set(range(ids.max() + 1))
            # a doc's chunk is where its first token lands
            cum_before = g.n_tokens.cumsum().shift(fill_value=0)
            assert (ids == (cum_before // budget)).all()
            # every chunk except the last holds >= budget tokens only via the
            # straddling doc: tokens strictly before the straddler < budget
            sums = g.groupby("chunk_id").n_tokens.sum()
            assert (sums.iloc[:-1] + g.n_tokens.max() >= budget).all()


class TestMinHashAdversarialRecall:
    """VERDICT r1 #5: the corpus-gap equivalence (no 0.1<j<0.9 pairs in the
    driver corpus) proves too little — synthesize pairs at controlled
    jaccard levels and pin LSH recall against the banding curve
    1-(1-j^R)^B, plus exactness of the verified output."""

    #: shared-shingle counts giving j = s/(60-s) for 32-token docs
    SHARED = [10, 16, 20, 24, 27]  # j ≈ .200 .364 .500 .667 .818
    PAIRS_PER = 40

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        L = 32
        rows, pair_meta, doc_id = [], [], 0
        for bi, s_sh in enumerate(self.SHARED):
            Lc = s_sh + 2
            for p in range(self.PAIRS_PER):
                tag = f"b{bi}p{p}"
                common = [f"{tag}c{i}" for i in range(Lc)]
                ua = [f"{tag}a{i}" for i in range(L - Lc)]
                ub = [f"{tag}b{i}" for i in range(L - Lc)]
                rows.append((doc_id, " ".join(common + ua)))
                rows.append((doc_id + 1, " ".join(common + ub)))
                pair_meta.append((bi, doc_id, doc_id + 1))
                doc_id += 2
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8).cache()
        return df, pair_meta

    def test_recall_tracks_banding_curve(self, spark, corpus):
        import math

        from sea_streamer_spark.operators.dedup import (
            LSH_BANDS,
            LSH_ROWS,
            jaccard_pairs,
            lsh_candidate_pairs,
            minhash_signatures,
            shingle_sets,
        )

        df, pair_meta = corpus
        ds = shingle_sets(df).cache()
        sigs = minhash_signatures(df, shingle_df=ds)
        cands = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sigs).collect()}
        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in jaccard_pairs(df, threshold=0.0, shingle_df=ds).collect()
        }
        by_bucket: dict[int, list] = {}
        for bi, a, b in pair_meta:
            by_bucket.setdefault(bi, []).append((exact.get((a, b), 0.0), (a, b) in cands))
        assert sorted(by_bucket) == list(range(len(self.SHARED)))
        for bi, lst in sorted(by_bucket.items()):
            n = len(lst)
            j = sum(x for x, _ in lst) / n
            recall = sum(h for _, h in lst) / n
            p = 1 - (1 - j**LSH_ROWS) ** LSH_BANDS
            # binomial floor: 4 sigma below the curve (deterministic hashes,
            # so once green this pins the family's quality)
            floor = p - 4 * math.sqrt(p * (1 - p) / n) - 0.02
            assert recall >= floor, f"bucket {bi}: j={j:.3f} recall={recall:.3f} < {floor:.3f}"
        # high-similarity buckets (the dedup-relevant regime) must be perfect
        for bi in (2, 3, 4):
            assert all(h for _, h in by_bucket[bi]), f"missed a j>=0.5 pair in bucket {bi}"

    def test_verified_output_is_exact_on_candidates(self, spark, corpus):
        from sea_streamer_spark.operators.dedup import jaccard_pairs, minhash_lsh_dedup

        df, _ = corpus
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh_dedup(df, threshold=0.45).collect()
        }
        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in jaccard_pairs(df, threshold=0.45).collect()
        }
        # verification makes every emitted similarity exact; no pair below
        # threshold survives
        for pair, j in got.items():
            assert abs(exact[pair] - j) < 1e-12
            assert j >= 0.45
        # j>=0.5 exact pairs are all recovered (recall=1 in the dedup regime)
        high = {p for p, j in exact.items() if j >= 0.5}
        assert high <= set(got)


class TestSimHashNearDup:
    def test_pigeonhole_equals_all_pairs(self, spark, sf_dir):
        from sea_streamer_spark.operators.dedup import simhash, simhash_near_dup

        docs = load_tables(spark, sf_dir, "documents").documents.limit(400)
        sigs = simhash(docs).cache()
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dup(docs, sigs=sigs).collect()
        }
        # brute-force all-pairs reference on the same signatures
        a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
        b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
        brute = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in a.crossJoin(b)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a",
                "doc_b",
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long").alias("hamming"),
            )
            .filter(F.col("hamming") <= 3)
            .collect()
        }
        assert got == brute and len(got) > 0


class TestIvfKmeansQuantizer:
    """VERDICT r1 #7: lowest-16-ids centroids are statistically poor on
    skewed data; the k-means quantizer must hold or beat them, stay
    deterministic, and keep the probe-all == exact invariant."""

    def _skewed(self, spark, n_clusters=8, per=40, dim=16):
        # id-ordered skew: low ids all come from ONE cluster (the worst case
        # for the lowest-id quantizer), clusters are well separated
        import math
        import random

        rng = random.Random(7)
        centers = [
            [math.sin(c * 13.7 + d) * 2 for d in range(dim)] for c in range(n_clusters)
        ]
        rows = []
        vid = 0
        for c in range(n_clusters):
            for _ in range(per):
                vec = [x + rng.uniform(-0.05, 0.05) for x in centers[c]]
                rows.append((vid, [float(x) for x in vec]))
                vid += 1
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()

    def test_kmeans_deterministic_and_separates_clusters(self, spark):
        from sea_streamer_spark.operators import similarity as S

        emb = self._skewed(spark)
        c1 = S.ivf_centroids(emb, n_cells=8)
        c2 = S.ivf_centroids(emb, n_cells=8)
        assert c1 == c2  # bit-for-bit deterministic
        assigned = emb.withColumn("cell", S.ivf_cell_expr(c1)).collect()
        # well-separated synthetic clusters: k-means cells must align with
        # the true clusters (every true cluster maps to exactly one cell)
        cluster_of = {r.vec_id: r.vec_id // 40 for r in assigned}
        cell_by_cluster = {}
        for r in assigned:
            cell_by_cluster.setdefault(cluster_of[r.vec_id], set()).add(r.cell)
        assert all(len(cells) == 1 for cells in cell_by_cluster.values())
        assert len({next(iter(c)) for c in cell_by_cluster.values()}) == 8

    def test_kmeans_recall_beats_or_matches_seed_on_skew(self, spark):
        from sea_streamer_spark.operators import similarity as S

        emb = self._skewed(spark)
        exact = {r.vec_id for r in S.cosine_topk(emb, query_id=300, k=10).collect()}

        # direct comparison through the public seam
        cents_km = S.ivf_centroids(emb, n_cells=8, method="kmeans")
        cents_seed = S.ivf_centroids(emb, n_cells=8, method="seed")

        def topk_recall(cents):
            assigned = emb.withColumn("ivf_cell", S.ivf_cell_expr(cents))
            import math

            qvec = [
                float(x)
                for x in emb.filter(F.col("vec_id") == 300).collect()[0].embedding
            ]

            def cos(a, b):
                d = sum(x * y for x, y in zip(a, b))
                na = math.sqrt(sum(x * x for x in a))
                nb = math.sqrt(sum(x * x for x in b))
                return d / (na * nb)

            probed = [
                c for c, v in sorted(cents, key=lambda cv: (-cos(qvec, cv[1]), cv[0]))[:2]
            ]
            got = {
                r.vec_id
                for r in assigned.filter(F.col("ivf_cell").isin(probed))
                .filter(F.col("vec_id") != 300)
                .select("vec_id", S.cosine(F.col("embedding"), F.array(*[F.lit(x) for x in qvec])).alias("s"))
                .orderBy(F.desc("s"), F.asc("vec_id"))
                .limit(10)
                .collect()
            }
            return len(got & exact) / len(exact)

        r_km, r_seed = topk_recall(cents_km), topk_recall(cents_seed)
        assert r_km >= r_seed, (r_km, r_seed)
        assert r_km == 1.0  # separated clusters: kmeans probe finds them all


class TestPpmCodec:
    """Real (no-media-lib) PPM P6 decode + nearest-neighbor resize."""

    @staticmethod
    def _ppm(w, h, comment=False):
        import numpy as np

        img = (np.arange(w * h * 3, dtype=np.uint32) % 251).astype(np.uint8)
        head = b"P6\n" + (b"# test comment\n" if comment else b"") + f"{w} {h}\n255\n".encode()
        return head + img.tobytes(), img.reshape(h, w, 3)

    def test_header_parser_vectors(self):
        from sea_streamer_spark.operators.multimodal import parse_ppm_header

        data, _ = self._ppm(5, 3)
        w, h, maxval, off = parse_ppm_header(data)
        assert (w, h, maxval) == (5, 3, 255) and data[off:].startswith(b"\x00")
        assert parse_ppm_header(b"P5\n1 1\n255\n\x00") is None  # P5 = grayscale, not P6
        assert parse_ppm_header(b"not an image") is None
        wc, hc, _, _ = parse_ppm_header(self._ppm(4, 2, comment=True)[0])
        assert (wc, hc) == (4, 2)

    def test_decode_reports_real_dims(self, spark):
        from sea_streamer_spark.operators.multimodal import decode_media

        data, _ = self._ppm(12, 7)
        df = spark.createDataFrame([(1, bytearray(data)), (2, b"plain bytes")],
                                   "doc_id long, payload binary")
        rows = {r.doc_id: r for r in decode_media(df).collect()}
        assert (rows[1].width, rows[1].height) == (12, 7)
        assert rows[1].media_type == "image/x-portable-pixmap"
        assert rows[2].media_type == "image/stub"

    def test_resize_matches_numpy_oracle(self, spark):
        import numpy as np

        from sea_streamer_spark.operators.multimodal import (
            decode_media,
            parse_ppm_header,
            resize_ppm,
        )

        data, img = self._ppm(8, 6)
        df = spark.createDataFrame([(1, bytearray(data))], "doc_id long, payload binary")
        out = resize_ppm(df, width=4, height=3).collect()[0]
        assert (out.width, out.height) == (4, 3)
        w, h, maxval, off = parse_ppm_header(bytes(out.payload))
        assert (w, h, maxval) == (4, 3, 255)
        got = np.frombuffer(bytes(out.payload), dtype=np.uint8, offset=off).reshape(3, 4, 3)
        ys = (np.arange(3) * 6) // 3
        xs = (np.arange(4) * 8) // 4
        assert (got == img[ys][:, xs]).all()
        # resized payload decodes through the main decode path with new dims
        df2 = spark.createDataFrame([(1, bytearray(bytes(out.payload)))],
                                    "doc_id long, payload binary")
        d = decode_media(df2).collect()[0]
        assert (d.width, d.height) == (4, 3)

    def test_non_ppm_passthrough(self, spark):
        from sea_streamer_spark.operators.multimodal import resize_ppm

        df = spark.createDataFrame([(9, b"opaque blob")], "doc_id long, payload binary")
        out = resize_ppm(df, 4, 4).collect()[0]
        assert bytes(out.payload) == b"opaque blob" and out.width is None


class TestPngCodec:
    """Pure-stdlib PNG codec: encode/decode roundtrip, every filter type,
    malformed-container fallbacks, and the mapInPandas resize contract."""

    def test_roundtrip_all_channel_counts(self):
        import numpy as np

        from sea_streamer_spark.operators.png import decode_png, encode_png

        rng = np.random.default_rng(7)
        for ch in (1, 2, 3, 4):
            pix = rng.integers(0, 256, size=5 * 9 * ch, dtype=np.uint8).tobytes()
            data = encode_png(9, 5, pix, channels=ch)
            w, h, c, img = decode_png(data)
            assert (w, h, c) == (9, 5, ch)
            assert img.tobytes() == pix

    def test_unfilter_every_type(self):
        """Hand-build IDAT scanlines with filters 1-4 and check decode
        against an independent reference unfilter."""
        import struct
        import zlib

        import numpy as np

        from sea_streamer_spark.operators.png import PNG_SIG, _chunk, decode_png

        rng = np.random.default_rng(11)
        w, h, ch = 4, 5, 3
        stride = w * ch
        truth = rng.integers(0, 256, size=(h, stride), dtype=np.uint8)

        # reference refilter (the inverse of unfiltering) per spec
        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

        raw = bytearray()
        for y, ftype in enumerate([0, 1, 2, 3, 4]):
            raw.append(ftype)
            for x in range(stride):
                cur = int(truth[y, x])
                left = int(truth[y, x - ch]) if x >= ch else 0
                up = int(truth[y - 1, x]) if y > 0 else 0
                ul = int(truth[y - 1, x - ch]) if y > 0 and x >= ch else 0
                if ftype == 0:
                    enc = cur
                elif ftype == 1:
                    enc = cur - left
                elif ftype == 2:
                    enc = cur - up
                elif ftype == 3:
                    enc = cur - ((left + up) >> 1)
                else:
                    enc = cur - paeth(left, up, ul)
                raw.append(enc & 0xFF)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (
            PNG_SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
        dec = decode_png(data)
        assert dec is not None
        assert dec[3].reshape(h, stride).tolist() == truth.tolist()

    def test_malformed_falls_to_none_not_raise(self):
        import numpy as np

        from sea_streamer_spark.operators.png import decode_png, encode_png

        pix = np.zeros(12 * 3, dtype=np.uint8).tobytes()
        good = encode_png(4, 3, pix)
        assert decode_png(b"") is None
        assert decode_png(b"\x89PNG\r\n\x1a\n") is None  # signature only
        assert decode_png(good[:30]) is None  # truncated IHDR
        # a torn tail AFTER the complete IDAT (partial IEND) still decodes —
        # all pixel data is present (same leniency as the .ss torn-tail
        # recovery); a tear INSIDE the IDAT chunk must return None
        assert decode_png(good[:-8]) is not None
        assert decode_png(good[:-16]) is None  # cuts into IDAT's chunk body/CRC
        corrupt_idat = bytearray(good)
        corrupt_idat[45] ^= 0xFF  # garbage inside the deflate stream
        assert decode_png(bytes(corrupt_idat)) is None
        # non-PNG payloads must not be classified
        assert decode_png(b"P6\n2 2\n255\n" + b"\x00" * 12) is None

    def test_resize_png_matches_numpy_sampling(self, spark):
        import numpy as np

        from sea_streamer_spark.operators import multimodal as M
        from sea_streamer_spark.operators.png import decode_png, encode_png

        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, size=(8, 16, 3), dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, bytearray(encode_png(16, 8, img.tobytes()))), (2, bytearray(b"not a png"))],
            "doc_id long, payload binary",
        )
        rows = {r.doc_id: r for r in M.resize_png(df, width=8, height=4).collect()}
        ys = (np.arange(4) * 8) // 4
        xs = (np.arange(8) * 16) // 8
        expect = img[ys][:, xs]
        got = decode_png(bytes(rows[1].payload))
        assert got is not None and got[3].tobytes() == expect.tobytes()
        assert (rows[1].width, rows[1].height) == (8, 4)
        # pass-through contract for non-PNG payloads
        assert bytes(rows[2].payload) == b"not a png"
        assert rows[2].width is None and rows[2].height is None

    def test_decode_media_classifies_png(self, spark):
        import numpy as np

        from sea_streamer_spark.operators import multimodal as M
        from sea_streamer_spark.operators.png import encode_png

        pix = np.zeros(6 * 7 * 3, dtype=np.uint8).tobytes()
        df = spark.createDataFrame(
            [(1, bytearray(encode_png(7, 6, pix)))], "doc_id long, payload binary"
        )
        r = M.decode_media(df).collect()[0]
        assert r.media_type == "image/png" and (r.width, r.height) == (7, 6)


class TestPq:
    """Product quantization: codebook determinism, code validity, ADC+refine
    recall, and exactness of returned similarities."""

    def test_codebooks_deterministic(self, spark, emb):
        c1 = S.pq_codebooks(emb, m=8, ksub=16)
        c2 = S.pq_codebooks(emb, m=8, ksub=16)
        assert c1 == c2
        assert len(c1) == 8 and all(len(cb) == 16 for cb in c1)
        assert all(len(c) == 8 for cb in c1 for c in cb)  # 64 dims / 8

    def test_codes_in_range_and_deterministic(self, spark, emb):
        cbs = S.pq_codebooks(emb, m=8, ksub=16)
        coded = emb.withColumn("codes", S.pq_code_expr(cbs))
        rows = coded.select("vec_id", "codes").collect()
        assert all(len(r.codes) == 8 for r in rows)
        assert all(0 <= c <= 15 for r in rows for c in r.codes)
        rows2 = {r.vec_id: r.codes for r in coded.select("vec_id", "codes").collect()}
        assert {r.vec_id: r.codes for r in rows} == rows2

    def test_topk_recall_and_exact_sims(self, spark, emb):
        exact_rows = S.cosine_topk(emb, query_id=0, k=10).collect()
        exact = {r.vec_id for r in exact_rows}
        brute = {r.vec_id: r.cosine_sim for r in S.cosine_topk(emb, query_id=0, k=10_000).collect()}
        rows = S.ann_pq_topk(emb, query_id=0, k=10).collect()
        assert len(rows) == 10
        recall = len(exact & {r.vec_id for r in rows}) / 10
        assert recall >= 0.5, f"PQ recall too low: {recall}"
        # the re-rank stage computes EXACT cosines for everything it returns
        for r in rows:
            assert abs(brute[r.vec_id] - r.cosine_sim) < 1e-12

    def test_refine_full_corpus_reproduces_exact(self, spark, emb):
        n = emb.count()
        full = [r.vec_id for r in S.ann_pq_topk(emb, query_id=0, k=10, refine=n).collect()]
        exact = [r.vec_id for r in S.cosine_topk(emb, query_id=0, k=10).collect()]
        assert full == exact


class TestIvfPq:
    """Composed IVF-PQ: pruning+compression must still return exact sims,
    clear a recall floor, and collapse to the exact answer when un-pruned."""

    def test_topk_recall_and_exact_sims(self, spark, emb):
        exact = {r.vec_id for r in S.cosine_topk(emb, query_id=0, k=10).collect()}
        brute = {r.vec_id: r.cosine_sim for r in S.cosine_topk(emb, query_id=0, k=10_000).collect()}
        rows = S.ann_ivf_pq_topk(emb, query_id=0, k=10).collect()
        assert len(rows) == 10
        recall = len(exact & {r.vec_id for r in rows}) / 10
        assert recall >= 0.4, f"IVF-PQ recall too low: {recall}"
        for r in rows:
            assert abs(brute[r.vec_id] - r.cosine_sim) < 1e-12

    def test_unpruned_reproduces_exact(self, spark, emb):
        n = emb.count()
        full = [
            r.vec_id
            for r in S.ann_ivf_pq_topk(
                emb, query_id=0, k=10, n_cells=16, nprobe=16, refine=n
            ).collect()
        ]
        exact = [r.vec_id for r in S.cosine_topk(emb, query_id=0, k=10).collect()]
        assert full == exact

    def test_recall_not_worse_than_ivf_alone_materially(self, spark, emb):
        """PQ's ADC pass only reorders WITHIN the probed cells; with the
        refine window >= the IVF result size, composed recall vs plain IVF
        may differ only by what ADC drops from the refine cut."""
        exact = {r.vec_id for r in S.cosine_topk(emb, query_id=0, k=10).collect()}
        ivf = {r.vec_id for r in S.ann_ivf_topk(emb, query_id=0, k=10).collect()}
        both = {r.vec_id for r in S.ann_ivf_pq_topk(emb, query_id=0, k=10, refine=100).collect()}
        assert len(both & exact) >= len(ivf & exact) - 2


class TestRecallEval:
    def test_recall_eval_matches_component_queries(self, spark, sf_dir):
        """similarity_ann_recall_eval must equal the intersection of the two
        registered retrieval queries it composes, with exact-integer
        recall_micro and the pinned (k, nprobe) literals."""
        from sea_streamer_spark.plans.queries import QUERIES

        row = QUERIES["similarity_ann_recall_eval"].fn(spark, sf_dir).collect()
        assert len(row) == 1
        r = row[0]
        exact = {
            x.vec_id
            for x in QUERIES["similarity_cosine_topk"].fn(spark, sf_dir).collect()
        }
        appr = {
            x.vec_id
            for x in QUERIES["similarity_ann_ivf"].fn(spark, sf_dir).collect()
        }
        assert (r.k, r.nprobe) == (10, 4)
        assert r.n_overlap == len(exact & appr)
        assert r.recall_micro == r.n_overlap * 100_000
        assert r.n_overlap >= 1

    def test_recall_floor_at_gate_sf(self, spark):
        """On the corpus the quantizer was trained on, nprobe=4/16 must keep
        at least half the true neighbors — the point of the eval op is that
        this number is what you tune nprobe against."""
        import os

        from sea_streamer_spark.plans.fragments import ORACLE_SF_DIR
        from sea_streamer_spark.plans.queries import QUERIES

        if not os.path.exists(os.path.join(ORACLE_SF_DIR, "embeddings.parquet")):
            import pytest

            pytest.skip("gate corpus absent")
        r = QUERIES["similarity_ann_recall_eval"].fn(spark, ORACLE_SF_DIR).collect()[0]
        assert r.n_overlap >= 5

    def test_truncated_recall_matches_slice_recompute(self, spark, sf_dir):
        """similarity_truncated_recall_eval: n_overlap must equal the
        intersection of the full-dim top-10 with a top-10 recomputed from
        driver-side float64 cosines over the same 32-element prefix."""
        from sea_streamer_spark.operators.similarity import cos_py
        from sea_streamer_spark.plans.queries import QUERIES
        from sea_streamer_spark.sources.tables import load_tables

        r = QUERIES["similarity_truncated_recall_eval"].fn(spark, sf_dir).collect()[0]
        assert (r.k, r.d_trunc) == (10, 32)
        assert r.recall_micro == r.n_overlap * 100_000

        rows = load_tables(spark, sf_dir, "embeddings").embeddings.collect()
        vecs = {x.vec_id: [float(v) for v in x.embedding] for x in rows}
        q = vecs[0]

        def topk(d):
            scored = sorted(
                ((cos_py(v[:d], q[:d]), -i) for i, v in vecs.items() if i != 0),
                reverse=True,
            )
            return {-ni for _, ni in scored[:10]}

        assert r.n_overlap == len(topk(len(q)) & topk(32))

    def test_threshold_sweep_is_monotone_and_matches_pairs(self, spark, sf_dir):
        """dedup_threshold_sweep: counts must be monotonically non-increasing
        in the threshold and agree with per-threshold recomputation from the
        registered exact-Jaccard pair query (which is the >= 0.5 slice)."""
        from sea_streamer_spark.plans.queries import QUERIES

        rows = {
            r.thr_pct: r
            for r in QUERIES["dedup_threshold_sweep"].fn(spark, sf_dir).collect()
        }
        assert set(rows) == {30, 50, 70}
        assert rows[30].n_pairs >= rows[50].n_pairs >= rows[70].n_pairs
        assert rows[30].n_docs >= rows[50].n_docs >= rows[70].n_docs
        exact50 = QUERIES["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
        assert rows[50].n_pairs == len(exact50)
        docs50 = {x.doc_a for x in exact50} | {x.doc_b for x in exact50}
        assert rows[50].n_docs == len(docs50)
