"""ANN search (brute force / IVF / hyperplane LSH) + multimodal plumbing."""

import struct
import zlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from receipt_scanner_spark.operators.ann import (
    assign_centroids,
    brute_force_topk,
    hyperplane_topk,
    ivf_topk,
    train_centroids,
)
from receipt_scanner_spark.operators.multimodal import (
    decode_media_meta,
    extract_features,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def query(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


class TestANN:
    def test_brute_force_topk(self, emb, query):
        rows = brute_force_topk(emb.filter("vec_id <> 0"), query, k=10).collect()
        assert len(rows) == 10
        scores = [r.cosine for r in rows]
        assert scores == sorted(scores, reverse=True)

    def test_ivf_recall_vs_exact(self, emb, query):
        base = emb.filter("vec_id <> 0")
        exact = {r.vec_id for r in brute_force_topk(base, query, k=10).collect()}
        cents = train_centroids(emb, n_centroids=8, seed=42)
        indexed = assign_centroids(base, cents)
        approx_rows = ivf_topk(indexed, cents, query, k=10, n_probe=4).collect()
        approx = {r.vec_id for r in approx_rows}
        recall = len(exact & approx) / 10
        assert recall >= 0.6, f"IVF recall {recall} too low (probing half the cells)"
        # probing ALL cells must equal exact search
        full = {r.vec_id for r in ivf_topk(indexed, cents, query, k=10, n_probe=8).collect()}
        assert full == exact

    def test_ivf_prunes_scan(self, emb, query):
        base = emb.filter("vec_id <> 0")
        cents = train_centroids(emb, n_centroids=8, seed=42)
        indexed = assign_centroids(base, cents).cache()
        total = indexed.count()
        probe_rows = ivf_topk(indexed, cents, query, k=10, n_probe=2)
        # the filter keeps only probed partitions' rows
        import re

        probed = indexed.filter(F.col("centroid_id").isin([0, 1])).count()
        assert probed < total  # pruning is real

    def test_hyperplane_topk_overlaps_exact(self, emb, query):
        base = emb.filter("vec_id <> 0")
        exact = {r.vec_id for r in brute_force_topk(base, query, k=10).collect()}
        # near-random 64-dim vectors: the top-10 cosine gap is small, so
        # LSH recall is inherently modest; (6 planes, hamming<=3) gives a
        # deterministic 8/10 here.
        approx = {r.vec_id for r in hyperplane_topk(base, query, k=10, n_planes=6,
                                                    max_hamming=3).collect()}
        assert len(exact & approx) >= 6

    def test_deterministic(self, emb, query):
        a = brute_force_topk(emb, query, k=5).collect()
        b = brute_force_topk(emb, query, k=5).collect()
        assert a == b


def _png(w, h):
    raw = b"\x00" + b"\x01" * (w * 3)
    idat = zlib.compress(raw * h)

    def chunk(tag, body):
        c = struct.pack(">I", len(body)) + tag + body
        return c + struct.pack(">I", zlib.crc32(tag + body))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = [
            dict(media_id=1, media=_png(32, 16)),
            dict(media_id=2, media=b"GIF89a" + struct.pack("<HH", 100, 50) + b"x" * 20),
            dict(media_id=3, media=b"BM" + b"\x00" * 12 + struct.pack("<Iii", 40, 64, -48)
                 + b"\x00" * 8),
            dict(media_id=4, media=b"\x00garbage\xff"),
            dict(media_id=5, media=b""),
        ]
        return spark.createDataFrame(pd.DataFrame(rows))

    def test_meta_from_real_headers(self, spark, media):
        out = {r.media_id: r.meta for r in decode_media_meta(media).collect()}
        assert (out[1].kind, out[1].width, out[1].height) == ("png", 32, 16)
        assert (out[2].kind, out[2].width, out[2].height) == ("gif", 100, 50)
        assert (out[3].kind, out[3].width, out[3].height) == ("bmp", 64, 48)
        assert out[4].error is not None
        assert out[5].kind == "empty"

    def test_feature_extraction_stub_plumbing(self, spark, media):
        feats = {r.media_id: r for r in extract_features(media).collect()}
        # decodable rows: normalized float vec of the right dim
        assert feats[1].error is None and len(feats[1].embedding) == 16
        assert abs(sum(x * x for x in feats[1].embedding) - 1.0) < 1e-5
        # stub boundary is explicit, not a crash
        assert feats[4].embedding is None and "decode" in feats[4].error
        # deterministic across runs
        again = {r.media_id: r for r in extract_features(media).collect()}
        assert again[1].embedding == feats[1].embedding

    def test_resize_real_resampling(self, spark, media):
        from receipt_scanner_spark.operators.multimodal import resize_images

        out = {r.media_id: r for r in resize_images(media, 4, 4).collect()}
        # decodable rows: 4x4 row-major bytes, dims recorded
        assert out[1].error is None
        assert (out[1].width, out[1].height) == (4, 4)
        assert len(out[1].pixels) == 16
        # resampling is deterministic
        again = {r.media_id: r for r in resize_images(media, 4, 4).collect()}
        assert bytes(again[1].pixels) == bytes(out[1].pixels)
        # undecodable rows: error-as-value, no crash
        assert out[4].pixels is None and out[4].error is not None

    def test_one_image_path(self, spark, media):
        """The multimodal operators and the engine share one image path:
        over every battery image fixture and the suite's BMP/GIF/PNG/
        TIFF encoders, sniff_image_dims names sniff_format's kind, and
        ocr_images reads the text the fused UDF extracts."""
        import __spark_entry__ as entry_mod
        from receipt_scanner_spark.extract.imaging import encode_png_gray
        from receipt_scanner_spark.extract.ocr import ocr_pixels, render_text
        from receipt_scanner_spark.extract.sniff import sniff_format
        from receipt_scanner_spark.functions.udfs import build_process_udf
        from receipt_scanner_spark.operators.multimodal import (
            ocr_images,
            sniff_image_dims,
        )
        from tests.test_ccitt import encode_g4
        from tests.test_imaging import _bmp_shell, _encode_png, _gif
        from tests.test_ocr import _gray_bmp
        from tests.test_tiff import write_tiff_multi

        px = render_text("BUILT $4.50", scale=2)
        h, w = px.shape
        ink = (px < 128).astype(np.uint8)
        pal = np.array([[255, 255, 255], [0, 0, 0]], np.uint8)
        stride = (w + 3) // 4 * 4
        rows8 = b"".join(ink[y].tobytes() + bytes(stride - w) for y in range(h - 1, -1, -1))
        pages = [render_text(t) for t in ("PAGE ONE $1.00", "TOTAL $3.00")]
        built = [
            _gray_bmp(px),
            _bmp_shell(w, h, 8, 0, pal, rows8),
            _gif(ink, pal, 2),
            _encode_png(px[:, :, None], 0, [0] * h),
            encode_png_gray(px),
            write_tiff_multi([(encode_g4(p < 128), p.shape[1], p.shape[0], 4) for p in pages]),
            *(bytes(r.media) for r in media.collect()),
        ]
        images = [
            b for b in [bytes(m) for _, m in entry_mod._multimodal_media()] + built
            if sniff_format(b).startswith("image/")
        ]
        assert len(images) >= 29 + 6
        for b in images:
            assert sniff_image_dims(b)[0] == sniff_format(b).removeprefix("image/")
        want = build_process_udf(ocr_arrays=ocr_pixels).func(
            pd.Series(images), pd.Series([None] * len(images))
        )["extracted_text"].tolist()
        df = spark.createDataFrame(
            pd.DataFrame({"media_id": range(len(images)), "media": images}))
        got = {r.media_id: r.text for r in ocr_images(df).collect()}
        assert [got[i] for i in range(len(images))] == want
        assert want[-9:-3] == ["BUILT $4.50"] * 5 + ["PAGE ONE $1.00\n\n\nTOTAL $3.00"]
        assert sum(t is not None for t in want) == len(images) - 3

    def test_frame_sampling_fans_out(self, spark, media):
        from receipt_scanner_spark.operators.multimodal import (
            _FAKE_FRAME_BYTES,
            sample_frames,
        )

        # 'video' payloads: 10 fake frames and 2 fake frames
        rows = [
            dict(media_id=10, media=b"v" * (_FAKE_FRAME_BYTES * 10)),
            dict(media_id=11, media=b"w" * (_FAKE_FRAME_BYTES * 2)),
            dict(media_id=12, media=b""),
        ]
        vids = spark.createDataFrame(pd.DataFrame(rows))
        out = sample_frames(vids, n_frames=4).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r.media_id, []).append(r)
        # one input row fans out to n_frames output rows, evenly spaced
        assert sorted(r.frame_idx for r in by_id[10]) == [0, 2, 5, 7]
        assert all(len(r.frame) == _FAKE_FRAME_BYTES for r in by_id[10])
        # shorter video: every distinct pick, no out-of-range frames
        assert sorted(r.frame_idx for r in by_id[11]) == [0, 1]
        # empty payload: single error row
        assert len(by_id[12]) == 1 and by_id[12][0].frame_idx == -1
        assert by_id[12][0].error is not None


class TestIVFPersistedIndex:
    def test_partition_pruning_at_scan(self, spark, emb, query, tmp_path):
        from receipt_scanner_spark.operators.ann import (
            build_ivf_index,
            ivf_topk,
            load_ivf_index,
        )

        path = str(tmp_path / "ivf")
        cents = build_ivf_index(emb.filter("vec_id <> 0"), path, n_centroids=8)
        indexed, cents2 = load_ivf_index(spark, path)
        assert (cents == cents2).all()

        probe = ivf_topk(indexed, cents2, query, k=5, n_probe=2)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        # the centroid filter must land in PartitionFilters (directory
        # pruning), NOT as a post-scan row filter
        assert "PartitionFilters" in plan
        pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
        assert "centroid_id" in pf_line, pf_line
        assert probe.count() == 5


class TestCosineNullTolerance:
    def test_null_embedding_yields_null_not_task_failure(self, spark):
        """Review finding: np.stack over a batch with a NULL embedding
        aborted the whole task; must yield SQL NULL per row (and NULL
        must not poison top-k ordering like NaN would)."""
        from receipt_scanner_spark.operators.ann import brute_force_topk

        rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, None), (3, [0.1, 0.9]),
                (4, [1.0, 0.0, 0.0])]  # wrong dimension
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = brute_force_topk(df, [1.0, 0.0], k=3)
        got = [(r.vec_id, r.cosine) for r in out.collect()]
        # valid rows ranked; null-cosine rows sort LAST (nulls last desc)
        assert [v for v, _ in got] == [0, 1, 3]
        assert got[0][1] == 1.0

    def test_pair_cosine_null_rows(self, spark):
        from receipt_scanner_spark.operators.dedup import (
            embedding_near_dup_candidates,
        )

        rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, None)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        # must not raise; the identical pair survives, null rows drop out
        out = embedding_near_dup_candidates(df, n_planes=4, min_cosine=0.9)
        pairs = {(r.id_a, r.id_b) for r in out.collect()}
        assert (0, 1) in pairs


class TestAudioContainerMeta:
    """Audio payloads ride the same binary column (r5 session 4):
    kind/codec from container magic, dims stay null, corrupt
    containers become error rows — no decoder pretended."""

    def test_wav_with_fmt_chunk(self):
        import struct

        from receipt_scanner_spark.operators.multimodal import (
            sniff_image_dims,
        )

        fmt = struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
        wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
               + b"fmt " + struct.pack("<I", len(fmt)) + fmt
               + b"data\x00\x00\x00\x00")
        assert sniff_image_dims(wav) == ("wav", None, None, None)

    def test_wav_without_fmt_is_error_row(self):
        import struct

        from receipt_scanner_spark.operators.multimodal import (
            sniff_image_dims,
        )

        wav = b"RIFF" + struct.pack("<I", 4) + b"WAVE"
        kind, w, h, err = sniff_image_dims(wav)
        assert kind == "wav" and err == "no fmt chunk"

    def test_flac_ogg_mp3_magics(self):
        from receipt_scanner_spark.operators.multimodal import (
            sniff_image_dims,
        )

        assert sniff_image_dims(b"fLaC" + bytes(16))[0] == "flac"
        assert sniff_image_dims(b"OggS" + bytes(16))[0] == "ogg"
        assert sniff_image_dims(b"ID3\x04" + bytes(16))[0] == "mp3"
