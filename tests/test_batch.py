"""Batch-harness, skew-operator and media-decoder tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_process_dataframe_contract_and_report(spark):
    import pandas as pd

    from data_warehouse_punta_fina_spark.batch import process_dataframe

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("g"))

    def double_ids(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"id": pdf["id"], "doubled": pdf["id"] * 2})

    result, report = process_dataframe(df, double_ids, "double_ids", "id long, doubled long")
    assert report.total_rows_in == 1000
    assert report.total_rows_out == 1000
    assert report.n_batches >= 1
    assert report.job_name == "double_ids"
    # result is a reusable lazy DataFrame
    assert result.filter(F.col("doubled") == F.col("id") * 2).count() == 1000


def test_process_dataframe_per_batch_retry(spark, tmp_path):
    """Reference parity (core/batch_processor.py:182-199): a transiently
    failing callable succeeds under retries= without failing the Spark
    task; the retry count surfaces in the report; with retries=0 the
    same failure escalates."""
    import pandas as pd
    import pytest

    from data_warehouse_punta_fina_spark.batch import process_dataframe

    marker = tmp_path / "transient_ok"
    mpath = str(marker)

    def flaky(pdf: pd.DataFrame) -> pd.DataFrame:
        import os

        if not os.path.exists(mpath):
            with open(mpath, "w") as fh:
                fh.write("x")
            raise RuntimeError("transient")
        return pd.DataFrame({"id": pdf["id"]})

    df = spark.range(100).coalesce(1)
    result, report = process_dataframe(
        df, flaky, "flaky", "id long", retries=2, retry_delay=0.05
    )
    assert report.total_rows_out == 100
    assert report.extra["batch_retries"] >= 1

    marker.unlink()
    with pytest.raises(Exception):
        process_dataframe(df, flaky, "flaky0", "id long", retries=0)


def test_process_dataframe_job_timeout(spark):
    """timeout= cancels the materializing job group once the wall clock
    passes the deadline (Spark's per-job form of the reference's chunk
    timeout) and raises TimeoutError promptly, not after the callable
    would have finished."""
    import time as _time

    import pandas as pd
    import pytest

    from data_warehouse_punta_fina_spark.batch import process_dataframe

    def slow(pdf: pd.DataFrame) -> pd.DataFrame:
        _time.sleep(60)
        return pdf

    df = spark.range(8).coalesce(1)
    t0 = _time.time()
    with pytest.raises(TimeoutError):
        process_dataframe(df, slow, "slow", "id long", timeout=3.0)
    assert _time.time() - t0 < 45  # cancelled, not waited out


def test_salted_agg_equals_direct(spark, sf_dir):
    from data_warehouse_punta_fina_spark.functions.money import pround2
    from data_warehouse_punta_fina_spark.operators.skew import salted_agg
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    salted = salted_agg(
        li,
        ["l_returnflag"],
        {"sum_qty": ("sum", pround2("l_quantity")), "n": ("count", F.lit(1)), "mx": ("max", F.col("l_partkey"))},
        buckets=8,
    )
    direct = li.groupBy("l_returnflag").agg(
        F.sum(pround2("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
        F.max("l_partkey").alias("mx"),
    )
    s = {r["l_returnflag"]: (r["sum_qty"], r["n"], r["mx"]) for r in salted.collect()}
    d = {r["l_returnflag"]: (r["sum_qty"], r["n"], r["mx"]) for r in direct.collect()}
    assert s == d


def test_salted_agg_rejects_non_algebraic(spark):
    import pytest

    from data_warehouse_punta_fina_spark.operators.skew import salted_agg

    df = spark.range(10)
    with pytest.raises(ValueError):
        salted_agg(df, [], {"bad": ("avg", F.col("id"))})


def test_isotonic_fit_pava_per_group(spark):
    """Grouped-map applyInPandas with a genuinely sequential computation:
    the distributed per-group fit equals the pure-Python PAVA reference,
    is non-decreasing, and preserves each group's weighted mean."""
    import random

    from data_warehouse_punta_fina_spark.operators.grouped import _pava, isotonic_fit

    rng = random.Random(11)
    rows = []
    for g in ("a", "b", "c"):
        for i in range(40):
            # noisy increasing signal with deliberate violations
            rows.append((g, float(i), i * 0.5 + rng.uniform(-3, 3)))
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = isotonic_fit(df, ["g"], "x", "y")
    out = {}
    for r in got.collect():
        out.setdefault(r["g"], []).append((r["x"], r["y"], r["y_fit"]))
    for g in ("a", "b", "c"):
        seq = sorted(out[g])
        fits = [f for _, _, f in seq]
        ys = [y for _, y, _ in seq]
        # monotone
        assert all(f1 <= f2 + 1e-12 for f1, f2 in zip(fits, fits[1:]))
        # matches the reference implementation exactly
        expect = _pava(ys, [1.0] * len(ys))
        assert all(abs(a - b) < 1e-9 for a, b in zip(fits, expect))
        # mean preserved (least-squares projection property)
        assert abs(sum(fits) - sum(ys)) < 1e-6


def test_audio_band_energies_real_fft(spark):
    """The audio path runs REAL numpy DSP (no codec gate): a pure tone
    lands its energy in the expected rfft band; a higher tone lands in a
    higher band; short payloads zero-pad without error."""
    from data_warehouse_punta_fina_spark.operators.multimodal import (
        audio_band_energies,
        pcm16_sine,
    )

    rate, frame, n_bands = 16000, 2048, 8
    # band width = (frame/2+1)/8 ≈ 128 rfft bins ≈ 1 kHz at 16 kHz rate
    rows = [
        (1, pcm16_sine(1, 500.0, 4096, rate)),   # 500 Hz -> band 0
        (2, pcm16_sine(2, 4300.0, 4096, rate)),  # 4.3 kHz -> band 4 interior
        (3, pcm16_sine(3, 500.0, 64, rate)),     # short: zero-padded
    ]
    media = spark.createDataFrame(rows, "asset_id long, content binary")
    got = {
        r["asset_id"]: r.asDict()
        for r in audio_band_energies(media, n_bands=n_bands, frame=frame).collect()
    }
    assert got[1]["dominant_band"] == 0
    assert got[2]["dominant_band"] == 4
    assert got[3]["n_samples"] == 64 and len(got[3]["band_energies"]) == n_bands
    # tone energy concentrates: dominant band carries the bulk
    e = got[2]["band_energies"]
    assert e[4] > 10 * sum(v for i, v in enumerate(e) if i != 4)


def test_netpbm_decode_is_real_and_drives_resize(spark):
    """P5/P6 payloads decode for REAL (header grammar incl. comments,
    raster, BT.601 luma) and flow through the distributed resize path
    with true source dimensions — no stub anywhere on this tier."""
    import numpy as np

    from data_warehouse_punta_fina_spark.operators.multimodal import (
        decode_netpbm,
        pgm_encode,
        ppm_encode,
        resize_images,
    )

    # 6x4 gradient grayscale + 4x2 RGB with known luma
    gray = (np.arange(24, dtype=np.uint8) * 10).reshape(4, 6)
    rgb = np.zeros((2, 4, 3), dtype=np.uint8)
    rgb[:, :, 0] = 100  # r
    rgb[:, :, 1] = 50   # g
    rgb[:, :, 2] = 200  # b
    luma = 100 * 0.299 + 50 * 0.587 + 200 * 0.114

    # direct decode: round-trips exactly, comments tolerated
    assert np.array_equal(decode_netpbm(pgm_encode(gray)), gray.astype(float))
    with_comment = pgm_encode(gray).replace(b"P5\n", b"P5\n# a comment\n", 1)
    assert np.array_equal(decode_netpbm(with_comment), gray.astype(float))
    assert np.allclose(decode_netpbm(ppm_encode(rgb)), luma)

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(pgm_encode(gray)), "image/x-portable-graymap"),
            (2, "image", bytearray(ppm_encode(rgb)), "image/x-portable-pixmap"),
        ],
        "asset_id long, modality string, content binary, mime_type string",
    )
    rows = {r["asset_id"]: r for r in resize_images(media, out_hw=(2, 2)).collect()}
    # REAL dims, not the stub's isqrt fabrication
    assert (rows[1]["height"], rows[1]["width"]) == (4, 6)
    assert (rows[2]["height"], rows[2]["width"]) == (2, 4)
    # area pooling over the known gradient: verify one cell exactly
    # top-left 2x3 block of gray = rows 0-1, cols 0-2
    expect = gray[:2, :3].mean()
    assert rows[1]["thumb"][0] == expect
    # constant-color RGB pools to the constant luma everywhere
    assert all(abs(v - luma) < 1e-9 for v in rows[2]["thumb"])


def test_netpbm_decode_rejects_non_netpbm(spark):
    import pytest as _pytest

    from data_warehouse_punta_fina_spark.operators.multimodal import decode_netpbm

    with _pytest.raises(ValueError):
        decode_netpbm(b"\x89PNG\r\n\x1a\n....")


def test_png_palette_and_interlaced_decode():
    """The two PNG variants that stayed stub seams after round 11 are
    feasible with the same stdlib-zlib + numpy machinery: palette
    (color type 3, PLTE lookup) and Adam7 interlace (seven
    independently-filtered passes scattered onto the full raster).
    Every lane must reconstruct the identical raster under every filter
    type; JPEG/MP3 remain honestly stubbed (no stdlib codec)."""
    import numpy as np

    from data_warehouse_punta_fina_spark.operators.multimodal import (
        decode_png,
        png_encode,
    )

    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, (13, 17), dtype=np.uint8)
    for filters in ([0], [1, 2, 3, 4]):
        assert np.array_equal(
            decode_png(png_encode(g, row_filters=filters, interlaced=True)),
            g.astype(float),
        )
    rgb = rng.integers(0, 256, (9, 11, 3), dtype=np.uint8)
    want = rgb[:, :, 0] * 0.299 + rgb[:, :, 1] * 0.587 + rgb[:, :, 2] * 0.114
    assert np.allclose(
        decode_png(png_encode(rgb, row_filters=[4, 3, 1], interlaced=True)), want
    )
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (10, 14), dtype=np.uint8)
    prgb = pal[idx]
    pwant = prgb[:, :, 0] * 0.299 + prgb[:, :, 1] * 0.587 + prgb[:, :, 2] * 0.114
    assert np.allclose(decode_png(png_encode(idx, palette=pal)), pwant)
    assert np.allclose(
        decode_png(png_encode(idx, palette=pal, row_filters=[2, 4], interlaced=True)),
        pwant,
    )
    # tiny rasters where several Adam7 passes are EMPTY
    for shape in ((1, 1), (3, 2), (2, 9)):
        t = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_png(png_encode(t, interlaced=True)), t.astype(float))
    # refusals stay loud: palette index beyond PLTE, missing PLTE
    import pytest as _pytest

    with _pytest.raises(ValueError, match="palette index"):
        decode_png(png_encode(np.full((4, 4), 99, dtype=np.uint8), palette=pal[:5]))
    # a palette PNG whose PLTE chunk is stripped refuses
    raw = png_encode(idx, palette=pal)
    # signature (8) + IHDR chunk (length 4 + type 4 + data 13 + crc 4)
    ihdr_end = 8 + 12 + 13
    plte_len = int.from_bytes(raw[ihdr_end : ihdr_end + 4], "big")
    with _pytest.raises(ValueError, match="palette PNG without a valid PLTE"):
        decode_png(raw[:ihdr_end] + raw[ihdr_end + 12 + plte_len :])
    # color type 4 (gray+alpha) refuses: patch IHDR's color-type byte
    # (data starts at 16, color type is its 10th byte) and re-sign the chunk
    import zlib

    gray = bytearray(png_encode(g))
    gray[16 + 9] = 4
    gray[16 + 13 : 16 + 17] = zlib.crc32(bytes(gray[12 : 16 + 13])).to_bytes(4, "big")
    with _pytest.raises(ValueError, match=r"only grayscale \(0\) / truecolor \(2\)"):
        decode_png(bytes(gray))
