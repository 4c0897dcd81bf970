"""UDF schema, unicode-range, embedding metrics, NLP stats, store,
multimodal plumbing."""

import json
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
import whylogs_spark as wsp
from whylogs_spark.core import embeddings as emb_mod
from whylogs_spark.core import unicode_range as ur
from whylogs_spark.core.udf_schema import UdfSchema, UdfSpec, pandas_fn
from whylogs_spark.io.store import ProfileStore
from whylogs_spark.ops import multimodal


def test_udf_schema_expression_and_pandas(spark):
    df = spark.createDataFrame([(1.0, 2.0), (3.0, 4.0)], ["a", "b"])

    def expr_sum(a, b):
        return a + b

    @pandas_fn
    def pd_ratio(a, b):
        return a / b

    schema = UdfSchema([
        UdfSpec(["a", "b"], {"sum": expr_sum}, prefix="derived"),
        UdfSpec(["a", "b"], {"ratio": pd_ratio}),
    ])
    out = schema.apply_udfs(df)
    rows = out.orderBy("a").collect()
    assert rows[0]["derived.sum"] == 3.0
    assert rows[0]["ratio"] == pytest.approx(0.5)
    # drop_inputs drops a/b
    out2 = schema.apply_udfs(df, drop_inputs=True)
    assert set(out2.columns) == {"derived.sum", "ratio"}


def test_unicode_range_counts(spark):
    df = spark.createDataFrame(
        [("Abc123",), ("ÅBC",), (None,)], ["s"])
    out = ur.with_unicode_range_counts(df, "s").collect()
    by = {r["s"]: r for r in out}
    # NFD-lowercased "abc123": digits=3, latin-lower=6? no: a,b,c =3
    assert by["Abc123"]["s.digits"] == 3.0
    assert by["Abc123"]["s.latin-lower"] == 3.0
    assert by["Abc123"]["s.string_length"] == 6.0
    # Å NFD-decomposes to A + combining ring; lowercase -> a + U+030A
    assert by["ÅBC"]["s.latin-lower"] == 3.0
    assert by["ÅBC"]["s.extended-latin"] >= 1.0


def test_unicode_range_profile(documents):
    view = ur.unicode_range_profile(documents.limit(100), "text")
    wide = view.to_pandas()
    assert "text.digits" in set(wide["column"])
    assert "text.string_length" in set(wide["column"])


def test_embedding_distances_and_closest(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        ["id", "vec"],
    )
    refs = {"x": [1.0, 0.0], "y": [0.0, 1.0]}
    out = emb_mod.with_embedding_distances(df, "vec", refs)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["vec.x_distance"] == pytest.approx(0.0, abs=1e-12)
    assert rows[1]["vec.closest"] == "x"
    assert rows[2]["vec.closest"] == "y"
    assert rows[3]["vec.closest"] == "x"
    out_e = emb_mod.with_embedding_distances(df, "vec", refs,
                                             distance="euclidean")
    r3 = {r["id"]: r for r in out_e.collect()}[3]
    assert r3["vec.x_distance"] == pytest.approx(math.hypot(0.1, 0.1))


def test_reference_centroids_and_profile(embeddings):
    refs = emb_mod.reference_centroids(embeddings, "embedding", "label")
    assert len(refs) >= 2
    view = emb_mod.embedding_profile(
        embeddings.limit(200), "embedding", refs)
    wide = view.to_pandas()
    cols = set(wide["column"])
    assert any(c.endswith("_distance") for c in cols)
    assert "embedding.closest" in cols


def test_nlp_profile(documents):
    view = emb_mod.nlp_profile(documents.limit(100))
    wide = view.to_pandas()
    cols = set(wide["column"])
    assert {"doc_length", "term", "term_length"} <= cols


def test_profile_store_roundtrip(spark, lineitem, tmp_path):
    store = ProfileStore(str(tmp_path / "store"))
    half_a = lineitem.filter("l_orderkey % 2 = 0")
    half_b = lineitem.filter("l_orderkey % 2 = 1")
    import datetime as dt

    store.write(wsp.profile(half_a, columns=["l_quantity"]), "ds1",
                dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc))
    store.write(wsp.profile(half_b, columns=["l_quantity"]), "ds1",
                dt.datetime(2026, 1, 2, tzinfo=dt.timezone.utc))
    store.write(wsp.profile(half_a, columns=["l_quantity"]), "ds2",
                dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc))

    assert set(store.list_datasets(spark)) == {"ds1", "ds2"}
    merged = store.get(spark, "ds1")
    n = merged.get_component("l_quantity", "counts", "n")
    assert n == lineitem.count()
    only_day1 = store.get(spark, "ds1", date_to="2026-01-01")
    assert only_day1.get_component("l_quantity", "counts", "n") == \
        half_a.count()


def test_multimodal_header_sniff(spark, tmp_path):
    import struct as st

    # craft a tiny valid PNG header (IHDR 32x16) and a JPEG SOF0
    png = (b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR"
           + st.pack(">II", 32, 16) + b"\x08\x02\x00\x00\x00" + b"0" * 8)
    jpeg = (b"\xff\xd8" + b"\xff\xc0" + st.pack(">H", 11)
            + b"\x08" + st.pack(">HH", 24, 48) + b"\x03" + b"0" * 20)
    d = tmp_path / "imgs"
    d.mkdir()
    (d / "a.png").write_bytes(png)
    (d / "b.jpg").write_bytes(jpeg)
    df = multimodal.read_binary_dir(spark, str(d))
    feats = {r["format"]: r
             for r in multimodal.extract_image_features(df).collect()}
    assert feats["png"]["width"] == 32 and feats["png"]["height"] == 16
    assert feats["jpeg"]["width"] == 48 and feats["jpeg"]["height"] == 24

    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False

    px = multimodal.extract_pixel_features(df).collect()
    by_fmt = {r["format"]: r for r in px}
    assert by_fmt["png"]["width"] == 32  # header fallback keeps dims
    if has_pil:
        # real kernel: HSV stats populated for decodable images
        assert any(r["brightness_mean"] is not None for r in px)
    else:
        assert all(r["brightness_mean"] is None for r in px)
        # strict mode fails the task, surfacing NotImplementedError
        with pytest.raises(Exception, match="NotImplementedError|PIL"):
            multimodal.decode_image_pixels(df).collect()


def _ppm_bytes(pixels, w, h):
    return (f"P6\n{w} {h}\n255\n".encode()
            + bytes(v for px in pixels for v in px))


def _bmp_bytes(pixels, w, h):
    """Minimal 24bpp BI_RGB BMP, bottom-up rows, 4-byte padded."""
    import struct as st

    stride = (w * 3 + 3) & ~3
    rows = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = b"".join(bytes(pixels[y * w + x][::-1])  # RGB -> BGR
                       for x in range(w))
        rows += row + b"\x00" * (stride - len(row))
    header = (b"BM" + st.pack("<IHHI", 54 + len(rows), 0, 0, 54)
              + st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows),
                        2835, 2835, 0, 0))
    return header + rows


def test_numpy_pixel_kernel_hand_computed():
    """The lib-free decode path: HSV means/stddevs + entropy on
    generated BMP/PPM match hand-computed values (reference bundle:
    image_metric.py:57-110)."""
    import math

    from whylogs_spark.ops.multimodal import _numpy_pixel_features

    # 2x2 PPM: two red, two mid-gray pixels
    ppm = _ppm_bytes([(255, 0, 0), (255, 0, 0),
                      (128, 128, 128), (128, 128, 128)], 2, 2)
    f = _numpy_pixel_features(ppm)
    assert f is not None
    fmt, w, h, cs, entropy, hm, hs, sm, ss, bm, bs = f
    assert (fmt, w, h, cs) == ("ppm", 2, 2, "RGB")
    assert hm == pytest.approx(0.0)          # red and gray both hue 0
    assert sm == pytest.approx(127.5)        # (255+255+0+0)/4
    assert ss == pytest.approx(127.5)
    assert bm == pytest.approx(191.5)        # (255+255+128+128)/4
    assert bs == pytest.approx(63.5)
    # per-band 768-bin histogram: six bins of 2/12 -> log2(6)
    assert entropy == pytest.approx(math.log2(6))

    # 2x1 BMP: pure green -> hue 120deg = 85.0 on the 0..255 scale
    bmp = _bmp_bytes([(0, 255, 0), (0, 255, 0)], 2, 1)
    f2 = _numpy_pixel_features(bmp)
    assert f2 is not None
    assert f2[0] == "bmp" and (f2[1], f2[2]) == (2, 1)
    assert f2[5] == pytest.approx(85.0)      # hue mean
    assert f2[7] == pytest.approx(255.0)     # saturation mean
    assert f2[9] == pytest.approx(255.0)     # brightness mean


def test_resize_real_pixels_libfree(spark, tmp_path):
    """Lib-free resize on a decodable image: real pixels in, real PPM
    out, nearest-neighbor values verifiable by hand."""
    from whylogs_spark.ops.multimodal import _decode_ppm

    d = tmp_path / "resz"
    d.mkdir()
    # 2x2: left column red, right column blue
    (d / "quad.ppm").write_bytes(_ppm_bytes(
        [(255, 0, 0), (0, 0, 255), (255, 0, 0), (0, 0, 255)], 2, 2))
    df = multimodal.read_binary_dir(spark, str(d))
    out = multimodal.resize_images(df, 4, 2).collect()
    assert len(out) == 1
    arr = _decode_ppm(bytes(out[0]["content"]))
    assert arr.shape == (2, 4, 3)
    # nearest-neighbor: cols 0,1 from src col 0 (red), cols 2,3 blue
    assert arr[0, 0].tolist() == [255, 0, 0]
    assert arr[0, 1].tolist() == [255, 0, 0]
    assert arr[0, 2].tolist() == [0, 0, 255]
    assert arr[1, 3].tolist() == [0, 0, 255]


def test_pixel_path_runs_in_spark_without_pil(spark, tmp_path):
    """decode_image_pixels (strict) must succeed lib-free on BMP/PPM —
    the pixel-stat pipeline is exercised end-to-end in this sandbox."""
    d = tmp_path / "rawimgs"
    d.mkdir()
    (d / "red.ppm").write_bytes(
        _ppm_bytes([(255, 0, 0)] * 4, 2, 2))
    (d / "green.bmp").write_bytes(
        _bmp_bytes([(0, 255, 0), (0, 255, 0)], 2, 1))
    df = multimodal.read_binary_dir(spark, str(d))
    rows = {r["format"]: r
            for r in multimodal.decode_image_pixels(df).collect()}
    assert rows["ppm"]["brightness_mean"] == pytest.approx(255.0)
    assert rows["ppm"]["saturation_mean"] == pytest.approx(255.0)
    assert rows["ppm"]["hue_mean"] == pytest.approx(0.0)
    assert rows["bmp"]["hue_mean"] == pytest.approx(85.0)
    assert rows["bmp"]["colorspace"] == "RGB"
    assert rows["bmp"]["entropy"] == pytest.approx(
        # green: per-band bins 0,255,0 -> three bins of 2/6 -> log2(3)
        1.584962500721156)


def test_svd_lsi_residuals(embeddings):
    import numpy as np
    from whylogs_spark.core.embeddings import (
        lsi_profile, svd_reference, with_lsi_residuals)

    u = svd_reference(embeddings, "embedding", k=8)
    assert u.shape[1] == 8
    assert np.abs(u.T @ u - np.eye(8)).max() < 1e-9

    pdf = embeddings.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    g = mat.T @ mat
    vals, vecs = np.linalg.eigh(g)
    u_true = vecs[:, np.argsort(vals)[::-1][:8]]
    # subspace equality (sign/rotation invariant)
    assert np.abs(u @ u.T - u_true @ u_true.T).max() < 1e-8

    out = with_lsi_residuals(embeddings, "embedding", u)
    rows = out.limit(5).collect()
    ids = pdf["vec_id"].tolist()
    for r in rows:
        v = mat[ids.index(r["vec_id"])]
        expect = np.linalg.norm(v - u @ (u.T @ v)) / np.linalg.norm(v)
        assert abs(r["embedding.residual"] - expect) < 1e-9

    pv = lsi_profile(embeddings, "embedding", k=8, u=u)
    n = pv.df.filter(
        "metric='distribution' and component='n'").first()["n"]
    assert n == len(pdf)


def test_multimodal_audio_resize_frames(spark, tmp_path):
    import struct as st

    # craft a valid 44-byte-header WAV: 2ch, 8kHz, 16-bit, 1600 frames
    channels, rate, bits, n_frames = 2, 8000, 16, 1600
    data = b"\x00" * (n_frames * channels * (bits // 8))
    fmt = st.pack("<HHIIHH", 1, channels, rate,
                  rate * channels * (bits // 8),
                  channels * (bits // 8), bits)
    wav = (b"RIFF" + st.pack("<I", 36 + len(data)) + b"WAVE"
           + b"fmt " + st.pack("<I", 16) + fmt
           + b"data" + st.pack("<I", len(data)) + data)
    d = tmp_path / "media"
    d.mkdir()
    (d / "x.wav").write_bytes(wav)
    (d / "y.bin").write_bytes(b"\x01\x02" * 4096)

    df = multimodal.read_binary_dir(spark, str(d))
    feats = {r["format"]: r
             for r in multimodal.extract_audio_features(df).collect()}
    assert feats["wav"]["channels"] == 2
    assert feats["wav"]["sample_rate"] == 8000
    assert feats["wav"]["duration_s"] == pytest.approx(
        n_frames / rate)
    assert feats["unknown"]["n_bytes"] == 8192

    # non-image payloads: dims reported, payload null (no fake bytes)
    resized = multimodal.resize_images(df, 64, 64).collect()
    assert all(r["width"] == 64 and r["content"] is None
               for r in resized)

    frames = multimodal.sample_video_frames(df, n_frames=4)
    rows = frames.collect()
    assert len(rows) == 2 * 4  # one-to-many expansion
    per_file = {}
    for r in rows:
        per_file.setdefault(r["path"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_file.values())


def test_udf_schema_drop_columns(spark):
    """Reference parity: UdfSchema(drop_columns=...) removes columns
    AFTER UDFs run — UDFs may still read them (reference:
    experimental/core/udf_schema.py:194,248-250)."""
    from whylogs_spark.core.udf_schema import udf_schema

    df = spark.createDataFrame([(1.0, 2.0)], ["a", "b"])
    schema = udf_schema(
        [UdfSpec(["a", "b"], {"sum": lambda a, b: a + b})],
        drop_columns={"b", "not_present"})
    out = schema.apply_udfs(df)
    assert set(out.columns) == {"a", "sum"}
    assert out.first()["sum"] == 3.0


def test_register_udf_feeds_udf_schema(spark, monkeypatch):
    """A function registered with ``@register_udf`` (the reference's
    ``@register_metric_udf``) is applied by ``udf_schema()``, under its
    ``prefix.name`` output column."""
    from whylogs_spark.core import udf_schema as us

    monkeypatch.setattr(us, "_REGISTRY", [])

    @us.register_udf(["a", "b"], prefix="pair")
    def ratio(a, b):
        return a / b

    df = spark.createDataFrame([(6.0, 2.0), (1.0, 4.0)], ["a", "b"])
    out = us.udf_schema().apply_udfs(df)
    assert out.columns == ["a", "b", "pair.ratio"]
    assert [r["pair.ratio"] for r in out.collect()] == [3.0, 0.25]


def test_condition_validator_actions(spark):
    """Failure actions fire driver-side over the bounded sample with the
    reference signature (validator, condition, value, row_id) —
    condition_validator.py:85-89; raise_error throws."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from whylogs_spark.core.conditions import (
        ConditionValidator, raise_error,
    )

    df = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(100)], ["rid", "x"])
    seen = []

    def record(vname, cname, value, row_id=None):
        seen.append((vname, cname, value, row_id))

    v = ConditionValidator(
        "x_checks",
        {"x_lt_3": F.col("x") < 3, "x_ge_0": F.col("x") >= 0},
        actions=[record], sample_size=7)
    res = v.validate(df, column="x", id_col="rid")

    summary = res.to_summary_dict()
    assert summary["total_evaluations"] == 100
    assert summary["x_lt_3"] == 40  # x in {3,4}
    assert summary["x_ge_0"] == 0
    # actions: only failing conditions fire, capped at sample_size
    assert len(seen) == 7
    assert all(s[0] == "x_checks" and s[1] == "x_lt_3" for s in seen)
    assert all(s[2] in (3.0, 4.0) and s[3] is not None for s in seen)

    thrower = ConditionValidator(
        "strict", {"x_lt_3": F.col("x") < 3}, actions=[raise_error])
    with _pt.raises(ValueError, match="x_lt_3"):
        thrower.validate(df, column="x", id_col="rid")
    # and a passing validator does not throw
    ok = ConditionValidator(
        "ok", {"x_ge_0": F.col("x") >= 0}, actions=[raise_error])
    ok.validate(df, column="x", id_col="rid")


def _subspace_gap(u_a, u_b):
    """sin of the largest principal angle between the two column spans."""
    pa = u_a @ u_a.T
    pb = u_b @ u_b.T
    return float(np.linalg.norm(pa - pb, 2))


def test_updatable_svd_rank_limited_equals_batch(spark):
    """decay=1 on data of true rank <= k: the batch-by-batch sketch spans
    the same subspace as one exact SVD over the union (reference
    UpdatableSvdMetric._resketch semantics, nlp_metric.py:113)."""
    rng = np.random.default_rng(5)
    basis = np.linalg.qr(rng.normal(size=(16, 4)))[0]  # rank-4 in dim 16
    def mk(n, seed):
        r = np.random.default_rng(seed)
        return (r.normal(size=(n, 4)) * [5, 3, 2, 1]) @ basis.T
    a, b = mk(300, 1), mk(200, 2)
    dfa = spark.createDataFrame(
        [(v.tolist(),) for v in a], "embedding: array<double>")
    dfb = spark.createDataFrame(
        [(v.tolist(),) for v in b], "embedding: array<double>")
    dfu = spark.createDataFrame(
        [(v.tolist(),) for v in np.concatenate([a, b])],
        "embedding: array<double>")

    sk = emb_mod.UpdatableSvd(k=4, decay=1.0)
    sk.update(dfa, "embedding").update(dfb, "embedding")
    u_batch = emb_mod.svd_reference(dfu, "embedding", k=4)
    assert _subspace_gap(sk.U, u_batch) < 1e-6
    # singular values match the exact ones too
    g = np.concatenate([a, b])
    s_exact = np.linalg.svd(g, compute_uv=False)[:4]
    assert np.allclose(sk.S, s_exact, rtol=1e-8)


def test_updatable_svd_decay_forgets_old_batches(spark):
    """With decay, an old dominant direction ages out; without it, it
    stays on top."""
    e1 = np.eye(8)[0]
    e2 = np.eye(8)[1]
    old = spark.createDataFrame(
        [((e1 * 1.0).tolist(),) for _ in range(100)],
        "embedding: array<double>")
    new = spark.createDataFrame(
        [((e2 * 1.0).tolist(),) for _ in range(25)],
        "embedding: array<double>")

    keep = emb_mod.UpdatableSvd(k=2, decay=1.0)
    keep.update(old, "embedding").update(new, "embedding")
    assert abs(keep.U[:, 0] @ e1) > 0.99       # old mass still dominates

    fade = emb_mod.UpdatableSvd(k=2, decay=0.2)
    fade.update(old, "embedding").update(new, "embedding")
    assert abs(fade.U[:, 0] @ e2) > 0.99       # decayed: new mass wins
    # residuals flow through the distributed projection path
    out = fade.residuals(new, "embedding")
    r = out.select(F.col("`embedding.residual`")).first()[0]
    assert r == pytest.approx(0.0, abs=1e-9)

    with pytest.raises(ValueError, match="decay"):
        emb_mod.UpdatableSvd(k=2, decay=0.0)
    with pytest.raises(ValueError, match="update"):
        emb_mod.UpdatableSvd(k=2).residuals(new, "embedding")


# ------------------------------------------------------------------ EXIF
def _exif_tiff(endian="<"):
    """Hand-built TIFF/EXIF structure: IFD0 (Make offset-ascii, Model
    inline-ascii, Orientation short, XResolution rational, Exif
    sub-IFD pointer) + sub-IFD (ExposureTime rational, ISO short,
    ExifImageWidth long)."""
    import struct as st

    E = endian
    ifd0_off = 8
    n0 = 5
    data0 = ifd0_off + 2 + n0 * 12 + 4          # 74: IFD0 value area
    make_off = data0                            # 8 bytes "TestCam\0"
    xres_off = data0 + 8                        # 8 bytes 72/1
    sub_off = xres_off + 8                      # 90: Exif sub-IFD
    n1 = 3
    data1 = sub_off + 2 + n1 * 12 + 4           # 132: sub value area

    def entry(tag, vtype, count, raw4):
        return st.pack(E + "HHI", tag, vtype, count) + raw4

    ifd0 = st.pack(E + "H", n0)
    ifd0 += entry(0x010F, 2, 8, st.pack(E + "I", make_off))
    ifd0 += entry(0x0110, 2, 3, b"X5\x00\x00")
    ifd0 += entry(0x0112, 3, 1, st.pack(E + "H", 6) + b"\x00\x00")
    ifd0 += entry(0x011A, 5, 1, st.pack(E + "I", xres_off))
    ifd0 += entry(0x8769, 4, 1, st.pack(E + "I", sub_off))
    ifd0 += st.pack(E + "I", 0)

    sub = st.pack(E + "H", n1)
    sub += entry(0x829A, 5, 1, st.pack(E + "I", data1))
    sub += entry(0x8827, 3, 1, st.pack(E + "H", 400) + b"\x00\x00")
    sub += entry(0xA002, 4, 1, st.pack(E + "I", 1024))
    sub += st.pack(E + "I", 0)

    blob = (b"II" if E == "<" else b"MM") + st.pack(E + "HI", 42, 8)
    blob += ifd0
    blob += b"TestCam\x00" + st.pack(E + "II", 72, 1)
    blob += sub
    blob += st.pack(E + "II", 1, 250)
    return blob


def _exif_jpeg(endian="<"):
    import struct as st

    payload = b"Exif\x00\x00" + _exif_tiff(endian)
    return (b"\xff\xd8" + b"\xff\xe1"
            + st.pack(">H", len(payload) + 2) + payload + b"\xff\xd9")


EXPECTED_EXIF = {
    "Make": "TestCam", "Model": "X5", "Orientation": 6,
    "XResolution": "72/1", "ExposureTime": "1/250",
    "ISOSpeedRatings": 400, "ExifImageWidth": 1024,
}


def test_parse_exif_jpeg_and_tiff_both_endians():
    for endian in ("<", ">"):
        assert multimodal.parse_exif(_exif_jpeg(endian)) == \
            EXPECTED_EXIF, endian
        assert multimodal.parse_exif(_exif_tiff(endian)) == \
            EXPECTED_EXIF, endian
    # JPEG with no APP1, arbitrary junk, and truncated EXIF all -> {}
    assert multimodal.parse_exif(b"\xff\xd8\xff\xd9") == {}
    assert multimodal.parse_exif(b"not an image") == {}
    assert multimodal.parse_exif(_exif_jpeg()[:20]) == {}


def test_extract_exif_metadata_spark(spark, tmp_path):
    d = tmp_path / "exif_imgs"
    d.mkdir()
    (d / "cam.jpg").write_bytes(_exif_jpeg())
    (d / "scan.tiff").write_bytes(_exif_tiff(">"))
    (d / "plain.jpg").write_bytes(b"\xff\xd8\xff\xd9")
    df = multimodal.read_binary_dir(spark, str(d))
    out = {r["path"].rsplit("/", 1)[-1]: r
           for r in multimodal.extract_exif_metadata(df).collect()}
    assert out["cam.jpg"]["n_tags"] == 7
    assert out["cam.jpg"]["exif"]["Make"] == "TestCam"
    assert out["cam.jpg"]["exif"]["ExposureTime"] == "1/250"
    assert out["scan.tiff"]["exif"]["ISOSpeedRatings"] == "400"
    assert out["plain.jpg"]["n_tags"] == 0 and out[
        "plain.jpg"]["exif"] == {}


# ------------------------------------------------------------------- PNG
def _png_chunk(ctype, body):
    import struct as st
    import zlib

    return (st.pack(">I", len(body)) + ctype + body
            + st.pack(">I", zlib.crc32(ctype + body)))


def _png_filter_lines(arr, filters):
    """Apply the FORWARD scanline filter per row (cycling `filters`)
    over one (sub-)image -> filtered byte stream."""
    import numpy as np

    h, w, c = arr.shape
    bpp = c
    raw = arr.reshape(h, w * c).astype(np.int32)
    lines = b""
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        row = raw[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int32),
                               row[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, dtype=np.int32),
                             prev[:-bpp]])
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prev
        elif f == 3:
            filt = row - ((left + prev) // 2)
        else:  # 4 Paeth
            p = left + prev - ul
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - ul))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, ul))
            filt = row - pred
        lines += bytes([f]) + (filt & 0xFF).astype(np.uint8).tobytes()
        prev = row
    return lines


def _png_bytes(arr, ctype_id, filters, interlace=0):
    """Minimal PNG encoder for the decoder tests; ``interlace=1``
    writes the seven Adam7 passes as independently filtered
    sub-images, per spec."""
    import struct as st
    import zlib

    h, w, c = arr.shape
    if interlace == 0:
        lines = _png_filter_lines(arr, filters)
    else:
        from whylogs_spark.ops.multimodal import _ADAM7

        lines = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                lines += _png_filter_lines(sub, filters)
    ihdr = st.pack(">IIBBBBB", w, h, 8, ctype_id, 0, 0, interlace)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(lines))
            + _png_chunk(b"IEND", b""))


def test_png_decoder_all_filters_exact():
    import numpy as np

    rng = np.random.RandomState(42)
    rgb = rng.randint(0, 256, (7, 5, 3), dtype=np.uint8)
    # every filter type exercised, including filter-dependent rows
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        png = _png_bytes(rgb, 2, filters)
        got = multimodal._decode_png(png)
        assert got is not None and np.array_equal(got, rgb), filters


def test_png_decoder_color_types():
    import numpy as np

    rng = np.random.RandomState(7)
    # RGBA: alpha dropped
    rgba = rng.randint(0, 256, (4, 6, 4), dtype=np.uint8)
    got = multimodal._decode_png(_png_bytes(rgba, 6, [0, 4]))
    assert np.array_equal(got, rgba[:, :, :3])
    # grayscale replicated to RGB
    gray = rng.randint(0, 256, (5, 3, 1), dtype=np.uint8)
    got = multimodal._decode_png(_png_bytes(gray, 0, [2]))
    assert np.array_equal(got, np.repeat(gray, 3, axis=2))
    # interlaced / 16-bit / truncated -> None, not garbage
    png = bytearray(_png_bytes(rgba, 6, [0]))
    assert multimodal._decode_png(bytes(png[:40])) is None
    assert multimodal._decode_png(b"\x89PNG\r\n\x1a\njunk") is None


def test_png_decoder_adam7_interlaced_exact():
    import numpy as np

    rng = np.random.RandomState(19)
    # odd dims exercise empty/ragged Adam7 passes; every color type
    for shape, ctype in (((13, 11, 3), 2), ((9, 7, 4), 6),
                         ((10, 5, 1), 0), ((8, 8, 2), 4)):
        arr = rng.randint(0, 256, shape, dtype=np.uint8)
        plain = multimodal._decode_png(_png_bytes(arr, ctype, [0, 4]))
        inter = multimodal._decode_png(
            _png_bytes(arr, ctype, [0, 1, 2, 3, 4], interlace=1))
        assert plain is not None and inter is not None, ctype
        assert np.array_equal(plain, inter), ctype
    # tiny images where most passes are empty
    one = rng.randint(0, 256, (1, 1, 3), dtype=np.uint8)
    got = multimodal._decode_png(_png_bytes(one, 2, [0], interlace=1))
    assert np.array_equal(got, one)
    two = rng.randint(0, 256, (2, 3, 3), dtype=np.uint8)
    got = multimodal._decode_png(_png_bytes(two, 2, [4], interlace=1))
    assert np.array_equal(got, two)


def test_png_interlaced_truncated_returns_none():
    import numpy as np

    rng = np.random.RandomState(21)
    arr = rng.randint(0, 256, (12, 12, 3), dtype=np.uint8)
    png = _png_bytes(arr, 2, [0, 4], interlace=1)
    # cut inside IDAT: inflate comes up short of the Adam7 byte need
    assert multimodal._decode_png(png[:len(png) // 2]) is None


def test_png_pixel_features_libfree(spark, tmp_path):
    """extract_pixel_features must produce real HSV/entropy stats for
    PNG without PIL — same bundle as the BMP/PPM kernel."""
    import numpy as np

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    d = tmp_path / "pngs"
    d.mkdir()
    (d / "img.png").write_bytes(_png_bytes(rgb, 2, [0, 1, 2, 3, 4]))
    df = multimodal.read_binary_dir(spark, str(d))
    r = multimodal.extract_pixel_features(df).collect()[0]
    assert r["format"] == "png" and r["width"] == 16
    hsv = multimodal._rgb_to_hsv_u8(rgb).reshape(-1, 3)
    assert r["brightness_mean"] == pytest.approx(
        float(hsv[:, 2].mean()))
    assert r["hue_stddev"] == pytest.approx(float(hsv[:, 0].std()))
    assert r["entropy"] == pytest.approx(
        multimodal._entropy_bits(rgb))


def _wav_bytes(samples, rate, channels=1, bits=16, code=1):
    """Minimal RIFF/WAVE encoder: float samples in [-1,1] -> bytes."""
    import struct as st

    import numpy as np

    arr = np.asarray(samples, dtype=np.float64)
    if code == 3:
        data = arr.astype("<f4").tobytes()
    elif bits == 16:
        data = (np.clip(arr, -1, 1) * 32767).astype("<i2").tobytes()
    elif bits == 8:
        data = (np.clip(arr, -1, 1) * 127 + 128).astype(np.uint8).tobytes()
    elif bits == 24:
        v = (np.clip(arr, -1, 1) * ((1 << 23) - 1)).astype(np.int64)
        v = np.where(v < 0, v + (1 << 24), v)
        b = np.zeros((len(v), 3), dtype=np.uint8)
        b[:, 0] = v & 0xFF
        b[:, 1] = (v >> 8) & 0xFF
        b[:, 2] = (v >> 16) & 0xFF
        data = b.tobytes()
    elif bits == 32:
        data = (np.clip(arr, -1, 1) * ((1 << 31) - 1)).astype("<i4").tobytes()
    else:
        raise ValueError(bits)
    byte_rate = rate * channels * bits // 8
    fmt = st.pack("<HHIIHH", code, channels, rate, byte_rate,
                  channels * bits // 8, bits)
    body = (b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", len(data)) + data)
    return b"RIFF" + st.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_wav_sample_decode_roundtrip():
    import numpy as np

    from whylogs_spark.ops.multimodal import _decode_wav_samples

    t = np.arange(8000) / 8000.0
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    for bits, code, tol in ((16, 1, 1e-3), (8, 1, 2e-2), (24, 1, 1e-5),
                            (32, 1, 1e-7), (32, 3, 1e-7)):
        mono, rate, ch, b, tf = _decode_wav_samples(
            _wav_bytes(sig, 8000, bits=bits, code=code))
        assert tf == len(sig)
        assert rate == 8000 and ch == 1 and b == bits
        assert np.max(np.abs(mono - sig)) < tol

    # stereo mixes to mono mean
    inter = np.empty(16000)
    inter[0::2] = sig
    inter[1::2] = -sig
    mono, _, ch, _, _ = _decode_wav_samples(
        _wav_bytes(inter, 8000, channels=2))
    assert ch == 2 and np.max(np.abs(mono)) < 1e-3

    # max_samples caps the window
    mono, _, _, _, tf = _decode_wav_samples(_wav_bytes(sig, 8000),
                                            max_samples=1000)
    assert len(mono) == 1000 and tf == len(sig)

    assert _decode_wav_samples(b"not a wav at all" * 10) is None


def test_audio_signal_features_spark(spark, tmp_path):
    import numpy as np

    rate = 8000
    t = np.arange(rate * 2) / rate  # 2 s
    tone = 0.5 * np.sin(2 * np.pi * 1000 * t)
    half_silent = np.concatenate([tone[: rate], np.zeros(rate)])

    d = tmp_path / "wavs"
    d.mkdir()
    (d / "tone.wav").write_bytes(_wav_bytes(tone, rate))
    (d / "half.wav").write_bytes(_wav_bytes(half_silent, rate))
    (d / "junk.bin").write_bytes(b"\x00\x01mystery payload")

    df = multimodal.read_binary_dir(spark, str(d))
    out = {r["path"].rsplit("/", 1)[-1]: r
           for r in multimodal.extract_audio_signal_features(df).collect()}

    tr = out["tone.wav"]
    assert tr["format"] == "wav" and tr["sample_rate"] == rate
    assert abs(tr["duration_s"] - 2.0) < 1e-6
    # pure tone: rms = A/sqrt(2), peak = A, zcr = 2f, centroid ~ f
    assert abs(tr["rms"] - 0.5 / np.sqrt(2)) < 1e-3
    assert abs(tr["peak"] - 0.5) < 1e-3
    assert abs(tr["zero_crossing_rate"] - 2000) < 40
    assert abs(tr["spectral_centroid_hz"] - 1000) < 30
    assert 950 < tr["spectral_rolloff_hz"] < 1100
    assert tr["silence_ratio"] < 0.01

    hr = out["half.wav"]
    assert abs(hr["silence_ratio"] - 0.5) < 0.02
    assert abs(hr["rms"] - 0.5 / 2) < 1e-2  # energy halves -> rms/sqrt(2)

    jr = out["junk.bin"]
    assert jr["format"] == "unknown" and jr["rms"] is None


def test_wav_truncated_and_hostile_bytes():
    """Cut/hostile WAV payloads decode partially or return None —
    never raise out of the kernel."""
    import numpy as np

    from whylogs_spark.ops.multimodal import _decode_wav_samples

    t = np.arange(4000) / 8000.0
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    wav = _wav_bytes(sig, 8000)
    # odd-length truncations across the data chunk
    for cut in (len(wav) - 1, len(wav) - 3, 60, 45):
        _decode_wav_samples(wav[:cut])  # any return; must not raise
    rng = np.random.default_rng(7)
    for _ in range(30):
        blob = bytes(rng.integers(0, 256, 120, dtype=np.uint8))
        _decode_wav_samples(b"RIFF" + blob)


def test_corrupt_png_degrades_not_raises(spark, tmp_path):
    """Hostile image payloads degrade to header/null rows in the
    non-strict pixel path — decoder exceptions must not escape."""
    import struct as st
    import zlib

    from whylogs_spark.ops.multimodal import _numpy_pixel_features

    def chunk(tag, body):
        return (st.pack(">I", len(body)) + tag + body
                + st.pack(">I", zlib.crc32(tag + body)))

    magic = b"\x89PNG\r\n\x1a\n"
    # IHDR truncated to 5 bytes
    bad1 = magic + chunk(b"IHDR", b"\x00" * 5)
    # palette image whose PLTE length is not a multiple of 3
    ihdr = st.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = zlib.compress(b"\x00\x05\x05\x00\x05\x05")  # indices > plte
    bad2 = (magic + chunk(b"IHDR", ihdr) + chunk(b"PLTE", b"\x01" * 4)
            + chunk(b"IDAT", raw) + chunk(b"IEND", b""))
    # valid-structure palette PNG with out-of-range indices
    bad3 = (magic + chunk(b"IHDR", ihdr) + chunk(b"PLTE", b"\x01" * 6)
            + chunk(b"IDAT", raw) + chunk(b"IEND", b""))
    for blob in (bad1, bad2, bad3):
        assert _numpy_pixel_features(blob) is None

    # through the Spark kernel: null pixel stats, no task failure
    d = tmp_path / "corrupt"
    d.mkdir()
    (d / "x.png").write_bytes(bad3)
    from whylogs_spark.ops import multimodal
    rows = multimodal.extract_pixel_features(
        multimodal.read_binary_dir(spark, str(d))).collect()
    assert rows[0]["brightness_mean"] is None


def test_png_zip_bomb_bounded():
    """An IDAT inflating far past the IHDR-implied size must not be
    materialized — the inflate is capped at the expected byte count."""
    import struct as st
    import time
    import zlib

    from whylogs_spark.ops.multimodal import _decode_png

    def chunk(tag, body):
        return (st.pack(">I", len(body)) + tag + body
                + st.pack(">I", zlib.crc32(tag + body)))

    # 2x2 gray image whose IDAT stream carries 64 MB of trailing zeros
    ihdr = st.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    good_rows = b"\x00\x10\x20" + b"\x00\x30\x40"
    bomb = zlib.compress(good_rows + b"\x00" * (64 << 20), 9)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    t0 = time.time()
    arr = _decode_png(png)
    assert time.time() - t0 < 2.0
    assert arr is not None and arr.shape == (2, 2, 3)
    assert arr[0, 0, 0] == 0x10 and arr[1, 1, 0] == 0x40


# --------------------------------------------- embedding preparation

def test_truncate_embeddings_renormalizes(spark):
    import math

    from whylogs_spark.ops import similarity as S

    rows = [(0, [3.0, 4.0, 100.0, 100.0]), (1, [0.0, 0.0, 5.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.embedding for r in
           S.truncate_embeddings(df, dim=2).collect()}
    assert out[0] == pytest.approx([0.6, 0.8], abs=1e-12)
    assert out[1] == [0.0, 0.0]  # zero prefix stays zero, no div-by-0
    raw = {r.vec_id: r.embedding for r in S.truncate_embeddings(
        df, dim=2, renormalize=False).collect()}
    assert raw[0] == [3.0, 4.0]


def test_quantize_roundtrip_error_bound(spark):
    import math
    import random

    from whylogs_spark.ops import similarity as S

    rng = random.Random(4)
    rows = []
    for i in range(50):
        v = [rng.gauss(0, 1) for _ in range(32)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v]))
    rows.append((999, [0.0] * 32))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = S.quantize_embeddings(df)
    dq = {r.vec_id: (r.embedding, r.embedding_dq, r.q, r.q_scale)
          for r in S.dequantize_embeddings(q).collect()}
    for vid, (orig, back, qv, sc) in dq.items():
        assert all(-127 <= x <= 127 for x in qv)
        if vid == 999:
            assert sc == 0.0 and all(x == 0 for x in qv)
            continue
        err = max(abs(a - b) for a, b in zip(orig, back))
        assert err <= sc / 2 + 1e-12  # half-ulp of the quantization grid
        # python ground truth for the exact grid values
        amax = max(abs(x) for x in orig)
        pysc = amax / 127.0
        pyq = [math.floor(x / pysc + 0.5) for x in orig]
        assert qv == pyq


def test_embedding_prep_zero_shuffle(spark):
    from whylogs_spark.ops import similarity as S

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    out = S.quantize_embeddings(S.truncate_embeddings(df, dim=2))
    assert not Plan.of(out).has(named("Exchange"))


def test_mmr_select_prefers_diverse_results(spark):
    from whylogs_spark.ops import similarity as S

    # duplicate cluster A (rel .95) on one side of the query, a single
    # distinct doc B (rel .90) on the other side, one irrelevant doc;
    # plain top-3 is all A-duplicates, MMR must slot B in second
    a = [0.95, 0.3122, 0.0]
    rows = [
        (0, list(a)), (1, list(a)), (2, list(a)),   # cluster A dups
        (10, [0.9, -0.43589, 0.0]),                 # B: distinct angle
        (20, [0.0, 0.0, 1.0]),                      # irrelevant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 0.0, 0.0]
    plain = [r.vec_id for r in
             S.cosine_topk(df, q, k=3).select("vec_id").collect()]
    assert set(plain) <= {0, 1, 2}
    sel = S.mmr_select(df, q, k=3, lambda_mult=0.6)
    ids = [i for i, _ in sel]
    assert len(ids) == 3 and len(set(ids)) == 3
    assert sel[0][0] in (0, 1, 2)        # most relevant first
    assert ids[1] == 10                  # diversity: B beats the dup
    assert 20 not in ids                 # irrelevant never selected


def test_mmr_lambda_one_equals_topk(spark):
    from whylogs_spark.ops import similarity as S

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0])
            for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 1.0, 1.0]
    sel = [i for i, _ in S.mmr_select(df, q, k=5, lambda_mult=1.0)]
    top = [r.vec_id for r in
           S.cosine_topk(df, q, k=5).select("vec_id").collect()]
    assert set(sel) == set(top)


def _tiff_bytes(arr, endian="<", photometric=None, packbits=False,
                rows_per_strip=None, extra_alpha=False):
    """Minimal strip-TIFF encoder for the decoder tests: 8-bit chunky,
    Compression 1 or PackBits, gray (photometric 0/1) or RGB."""
    import struct as st

    import numpy as np

    h, w = arr.shape[:2]
    gray = arr.ndim == 2
    if gray:
        spp = 1
        photo = 1 if photometric is None else photometric
        px = arr if photo == 1 else (255 - arr)
    else:
        px = arr
        if extra_alpha:
            px = np.concatenate(
                [arr, np.full((h, w, 1), 200, np.uint8)], axis=2)
        spp = px.shape[2]
        photo = 2
    rps = rows_per_strip or h
    stride = w * spp
    flat = px.reshape(h, stride)
    strips = []
    for y0 in range(0, h, rps):
        data = flat[y0:y0 + rps].tobytes()
        if packbits:
            # literal-only PackBits: runs of <=128 literal bytes
            pb = bytearray()
            for i in range(0, len(data), 128):
                chunk = data[i:i + 128]
                pb += bytes([len(chunk) - 1]) + chunk
            data = bytes(pb)
        strips.append(data)

    hdr = (b"II*\x00" if endian == "<" else b"MM\x00*")
    entries = []

    def ent(tag, vtype, count, value_bytes):
        entries.append((tag, vtype, count, value_bytes))

    # layout: header(8) + IFD + value area + strip data
    n_fixed = 10
    ifd_off = 8
    ifd_size = 2 + n_fixed * 12 + 4
    val_area = ifd_off + ifd_size
    extra = bytearray()

    def off_val(data):
        o = val_area + len(extra)
        extra.extend(data)
        return st.pack(endian + "I", o)

    def inline(fmt, *vals):
        b = st.pack(endian + fmt, *vals)
        return b + b"\x00" * (4 - len(b))

    strip_data_off = None  # patched below
    ent(256, 3, 1, inline("H", w))
    ent(257, 3, 1, inline("H", h))
    if spp == 1:
        ent(258, 3, 1, inline("H", 8))
    else:
        ent(258, 3, spp, off_val(st.pack(endian + "H" * spp,
                                         *([8] * spp))))
    ent(259, 3, 1, inline("H", 32773 if packbits else 1))
    ent(262, 3, 1, inline("H", photo))
    ent(277, 3, 1, inline("H", spp))
    ent(278, 3, 1, inline("H", rps))
    ent(284, 3, 1, inline("H", 1))
    # strip offsets/counts appended after we know the data start
    n_strips = len(strips)
    cnts = [len(s) for s in strips]
    if n_strips == 1:
        cnt_bytes = inline("I", cnts[0])
    else:
        cnt_bytes = off_val(st.pack(endian + "I" * n_strips, *cnts))
    ent(279, 4, n_strips, cnt_bytes)
    # reserve offsets entry last so the value area is final
    if n_strips == 1:
        data_start = val_area + len(extra)
        ent(273, 4, 1, inline("I", data_start))
    else:
        offs_pos = val_area + len(extra)
        extra.extend(b"\x00" * (4 * n_strips))
        data_start = val_area + len(extra)
        offs = []
        acc = data_start
        for c in cnts:
            offs.append(acc)
            acc += c
        extra[offs_pos - val_area:offs_pos - val_area + 4 * n_strips] \
            = st.pack(endian + "I" * n_strips, *offs)
        ent(273, 4, n_strips, st.pack(endian + "I", offs_pos))
    entries.sort(key=lambda e: e[0])
    out = bytearray(hdr + st.pack(endian + "I", ifd_off))
    out += st.pack(endian + "H", len(entries))
    for tag, vtype, count, vb in entries:
        out += st.pack(endian + "HHI", tag, vtype, count) + vb
    out += st.pack(endian + "I", 0)  # next IFD
    out += extra
    for s_ in strips:
        out += s_
    return bytes(out)


def test_tiff_decoder_rgb_gray_both_endians():
    import numpy as np

    rng = np.random.RandomState(11)
    rgb = rng.randint(0, 256, (9, 7, 3), dtype=np.uint8)
    for endian in ("<", ">"):
        got = multimodal._decode_tiff(_tiff_bytes(rgb, endian=endian))
        assert got is not None and np.array_equal(got, rgb), endian
    gray = rng.randint(0, 256, (6, 5), dtype=np.uint8)
    got = multimodal._decode_tiff(_tiff_bytes(gray))
    assert np.array_equal(got, np.repeat(gray[:, :, None], 3, axis=2))
    # photometric 0 = white-is-zero: stored inverted, decode restores
    got0 = multimodal._decode_tiff(_tiff_bytes(gray, photometric=0))
    assert np.array_equal(got0,
                          np.repeat(gray[:, :, None], 3, axis=2))


def test_tiff_decoder_strips_packbits_alpha():
    import numpy as np

    rng = np.random.RandomState(13)
    rgb = rng.randint(0, 256, (11, 4, 3), dtype=np.uint8)
    # multi-strip
    got = multimodal._decode_tiff(_tiff_bytes(rgb, rows_per_strip=3))
    assert np.array_equal(got, rgb)
    # PackBits compression (incl. multi-strip)
    got = multimodal._decode_tiff(
        _tiff_bytes(rgb, packbits=True, rows_per_strip=4))
    assert np.array_equal(got, rgb)
    # RGBA extra sample dropped
    got = multimodal._decode_tiff(_tiff_bytes(rgb, extra_alpha=True))
    assert np.array_equal(got, rgb)


def test_tiff_decoder_rejects_unsupported_and_truncated():
    import numpy as np

    rng = np.random.RandomState(17)
    rgb = rng.randint(0, 256, (8, 8, 3), dtype=np.uint8)
    tif = _tiff_bytes(rgb)
    assert multimodal._decode_tiff(tif[:40]) is None
    assert multimodal._decode_tiff(b"II*\x00junk") is None
    # LZW compression tag -> unsupported -> None
    bad = bytearray(tif)
    # flip the Compression value (tag 259) from 1 to 5 in place
    import struct as st
    n = st.unpack("<H", bad[8:10])[0]
    for k in range(n):
        off = 10 + 12 * k
        tag = st.unpack("<H", bad[off:off + 2])[0]
        if tag == 259:
            bad[off + 8:off + 10] = st.pack("<H", 5)
    assert multimodal._decode_tiff(bytes(bad)) is None


def test_tiff_pixel_kernel_and_packbits_bounds():
    import numpy as np

    from whylogs_spark.ops.multimodal import (_numpy_pixel_features,
                                              _packbits)

    rng = np.random.RandomState(19)
    rgb = rng.randint(0, 256, (10, 6, 3), dtype=np.uint8)
    feats = _numpy_pixel_features(_tiff_bytes(rgb, packbits=True))
    assert feats is not None
    assert (feats[0], feats[1], feats[2]) == ("tiff", 6, 10)
    hsv = multimodal._rgb_to_hsv_u8(rgb).reshape(-1, 3)
    assert feats[9] == pytest.approx(float(hsv[:, 2].mean()))
    # PackBits: replicate runs + bound enforcement (hostile repeat
    # counts cannot overshoot the expected size)
    assert _packbits(b"\xfeA", 10) == b"AAA"       # 257-254=3 repeats
    assert _packbits(b"\x02abc", 3) == b"abc"      # literal run
    assert len(_packbits(b"\x81" + b"Z", 4)) <= 4


def test_embedding_drift_identical_and_shifted(spark):
    import numpy as np

    from whylogs_spark.core.embeddings import embedding_drift

    rng = np.random.default_rng(21)
    base = rng.normal(0, 1, (300, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "id long, embedding array<float>")
    same = embedding_drift(df, df).first()
    assert same.centroid_cosine_distance == pytest.approx(0.0, abs=1e-9)
    assert same.centroid_l2 == pytest.approx(0.0, abs=1e-9)
    assert same.norm_ratio == pytest.approx(1.0, abs=1e-9)
    assert same.spread_target == pytest.approx(same.spread_reference)

    # direction shift: add a constant offset vector
    off = np.zeros(16)
    off[0] = 3.0
    tgt = spark.createDataFrame(
        [(i, [float(x) for x in v + off]) for i, v in enumerate(base)],
        "id long, embedding array<float>")
    moved = embedding_drift(tgt, df).first()
    assert moved.centroid_l2 == pytest.approx(3.0, abs=0.2)
    assert moved.centroid_cosine_distance > 0.5
    # scale drift: norms double, spread doubles, direction unchanged
    scaled = spark.createDataFrame(
        [(i, [float(2 * x) for x in v]) for i, v in enumerate(base)],
        "id long, embedding array<float>")
    sc = embedding_drift(scaled, df).first()
    assert sc.norm_ratio == pytest.approx(2.0, abs=1e-6)
    assert sc.spread_target == pytest.approx(
        2 * sc.spread_reference, rel=1e-6)
    assert sc.centroid_cosine_distance == pytest.approx(0.0, abs=1e-6)

    # verify against direct numpy computation for the shifted case
    ct, cr = (base + off).mean(axis=0), base.mean(axis=0)
    cosd = 1 - ct @ cr / (np.linalg.norm(ct) * np.linalg.norm(cr))
    assert moved.centroid_cosine_distance == pytest.approx(
        float(cosd), abs=1e-6)
    assert moved.spread_target == pytest.approx(
        float(np.linalg.norm(base + off - ct, axis=1).mean()), abs=1e-6)


def test_embedding_drift_empty_raises(spark):
    from whylogs_spark.core.embeddings import embedding_drift

    empty = spark.createDataFrame([], "id long, embedding array<float>")
    ok = spark.createDataFrame(
        [(0, [1.0, 2.0])], "id long, embedding array<float>")
    with pytest.raises(ValueError, match="no vectors"):
        embedding_drift(ok, empty)
    with pytest.raises(ValueError, match="no vectors"):
        embedding_drift(empty, ok)


def test_embedding_drift_dim_mismatch_raises_both_directions(spark):
    """Dim guard must be symmetric: target vectors LONGER than the
    reference dim would otherwise be silently truncated (zip_with
    truncates) and return plausible-looking numbers."""
    from whylogs_spark.core.embeddings import embedding_drift

    ref2 = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])],
        "id long, embedding array<float>")
    tgt3 = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "id long, embedding array<float>")
    tgt1 = spark.createDataFrame(
        [(0, [1.0])], "id long, embedding array<float>")
    with pytest.raises(ValueError, match="dimensionality"):
        embedding_drift(tgt3, ref2)  # longer than reference
    with pytest.raises(ValueError, match="dimensionality"):
        embedding_drift(tgt1, ref2)  # shorter than reference
    # ragged reference is caught too
    ragged = ref2.union(tgt3.select("id", "embedding"))
    with pytest.raises(ValueError, match="dimensionality"):
        embedding_drift(ref2, ragged)


def test_embedding_drift_null_elements_raise(spark):
    """Null ELEMENTS inside correctly-sized vectors must raise — a
    partial-null dimension would otherwise bias the centroid silently
    (sum skips nulls, n counts the row)."""
    from whylogs_spark.core.embeddings import embedding_drift

    ref = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])],
        "id long, embedding array<float>")
    tgt = spark.createDataFrame(
        [(0, [1.0, None]), (1, [2.0, 3.0])],
        "id long, embedding array<float>")
    with pytest.raises(ValueError, match="null elements"):
        embedding_drift(tgt, ref)


def test_profile_store_prune_retention(spark, lineitem, tmp_path):
    """prune deletes whole (dataset, date) partitions older than the
    cutoff — no rewrite of surviving dates — and validates its input."""
    import datetime as dt

    store = ProfileStore(str(tmp_path / "prune_store"))
    for day in (1, 2, 3):
        store.write(
            wsp.profile(lineitem.limit(100), columns=["l_quantity"]),
            "ds1", dt.datetime(2026, 1, day, tzinfo=dt.timezone.utc))
    store.write(
        wsp.profile(lineitem.limit(50), columns=["l_quantity"]),
        "ds2", dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc))

    # scoped prune: only ds1's old date goes
    assert store.prune(spark, "2026-01-02", dataset_id="ds1") == 1
    left = store._read(spark).select("dataset_id", "date").distinct()
    got = {(r.dataset_id, str(r.date)) for r in left.collect()}
    assert got == {("ds1", "2026-01-02"), ("ds1", "2026-01-03"),
                   ("ds2", "2026-01-01")}
    # global prune takes ds2's old date too
    assert store.prune(spark, "2026-01-02") == 1
    got2 = {(r.dataset_id, str(r.date)) for r in
            store._read(spark).select("dataset_id", "date")
            .distinct().collect()}
    assert got2 == {("ds1", "2026-01-02"), ("ds1", "2026-01-03")}
    # surviving data still reads as a profile
    assert store.get(spark, "ds1").get_component(
        "l_quantity", "counts", "n") == 200
    with pytest.raises(ValueError, match="ISO date"):
        store.prune(spark, "yesterday")
    assert store.prune(spark, "2020-01-01") == 0


def test_profile_store_prune_escaped_ids_and_validation(spark,
                                                        lineitem,
                                                        tmp_path):
    """Hive-escaped dataset ids (':' -> %3A on disk) must still prune;
    invalid dates must raise, not lexicographically over-delete."""
    import datetime as dt

    store = ProfileStore(str(tmp_path / "esc_store"))
    for day in (1, 2):
        store.write(
            wsp.profile(lineitem.limit(20), columns=["l_quantity"]),
            "jobs:2024",
            dt.datetime(2026, 2, day, tzinfo=dt.timezone.utc))
    assert store.prune(spark, "2026-02-02",
                       dataset_id="jobs:2024") == 1
    assert store._read(spark).select("date").distinct().count() == 1
    with pytest.raises(ValueError, match="valid ISO date"):
        store.prune(spark, "2026-19-99")
    with pytest.raises(ValueError, match="valid ISO date"):
        store.prune(spark, "2026-31-01")
