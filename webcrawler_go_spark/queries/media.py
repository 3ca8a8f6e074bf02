"""Multimodal queries: frame sampling, real PNG/WAV decode, CMYK
transforms, TIFF and PDF containers, media metadata.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.queries.common import _spread, _t, query


@query(oracle="""
            SELECT 'media://' || CAST(doc_id AS VARCHAR) AS media_ref,
                   CAST(g * 10 AS INT) AS frame_idx,
                   CAST((g * 10 * 1000) // 24 AS BIGINT) AS ts_ms,
                   CAST(NULL AS VARCHAR) AS decode_error
            FROM documents
            CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS g)
            WHERE doc_id % 4 = 2 AND g * 10 < strlen(text) % 240 + 1""")
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: video blobs → every 10th frame, max 8,
    with 24fps timestamps — mapInPandas plumbing real, codec math the
    deterministic fake (no codec libs in this container)."""
    from webcrawler_go_spark.operators.multimodal import (
        media_blobs_from_documents,
        sample_frames,
    )

    blobs = media_blobs_from_documents(_spread(_t(spark, sf_dir, "documents")))
    return sample_frames(blobs, every=10, max_frames=8, use_fake_decoder=True)


@query(oracle="""
            -- expected (width, height, pixel-sum) from the pixel formula;
            -- the Spark side must round-trip REAL PNG bytes to match
            SELECT k,
                   CAST(k % 8 + 2 AS INT) AS width,
                   CAST(k % 5 + 2 AS INT) AS height,
                   CAST(SUM((k * 31 + u.j * 7) % 256) AS BIGINT) AS pix_sum
            FROM (SELECT c_custkey AS k FROM customer) t,
                 unnest(generate_series(0, (k % 8 + 2) * (k % 5 + 2) * 3 - 1)) AS u(j)
            GROUP BY k""")
def q_media_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (round-3 directive #9): synthesize a true PNG
    per row (deterministic pixels, per-row filters cycling None/Sub/Up),
    then decode it with the stdlib-only PNG decoder — signature, chunk
    CRCs, zlib inflate, filter reversal are all exercised per row. The
    oracle states the expected (width, height, pixel sum) straight from
    the pixel formula, so a decoder that mis-reverses any filter row
    hash-fails."""
    c = _spread(
        _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    )

    def kernel(batches):
        from webcrawler_go_spark.functions.media_codecs import (
            decode_png,
            encode_png,
        )

        for b in batches:
            rows = []
            for k in b["k"]:
                k = int(k)
                w, h = k % 8 + 2, k % 5 + 2
                px = bytes((k * 31 + j * 7) % 256 for j in range(w * h * 3))
                blob = encode_png(w, h, px, channels=3,
                                  row_filters=[y % 3 for y in range(h)])
                dw, dh, _ch, dpx = decode_png(blob)
                rows.append((k, dw, dh, sum(dpx)))
            yield pd.DataFrame(
                rows, columns=["k", "width", "height", "pix_sum"]
            )

    return c.mapInPandas(
        kernel, "k long, width int, height int, pix_sum long"
    )


# pixel generator + naive-GCR CMYK math + per-channel ink sums, shared by
# the three S10 oracles (media_cmyk_transform and the two container twins):
# pixel p of customer k has r,g,b = v(3p),v(3p+1),v(3p+2), v(j)=(k*31+j*7)%256;
# K = 255-max, X' = round-half-up(255*(255-X-K)/(255-K)) (0 when K=255)
_CMYK_SUMS_SQL = """
px AS (
  SELECT k,
         (k * 31 + (3 * u.p) * 7) % 256 AS r,
         (k * 31 + (3 * u.p + 1) * 7) % 256 AS g,
         (k * 31 + (3 * u.p + 2) * 7) % 256 AS b
  FROM (SELECT c_custkey AS k FROM customer) t,
       unnest(generate_series(0, (k % 8 + 2) * (k % 5 + 2) - 1)) AS u(p)
),
cmyk AS (
  SELECT k,
         CASE WHEN kk = 255 THEN 0
              ELSE (510 * (255 - r - kk) + (255 - kk)) // (510 - 2 * kk) END AS c,
         CASE WHEN kk = 255 THEN 0
              ELSE (510 * (255 - g - kk) + (255 - kk)) // (510 - 2 * kk) END AS m,
         CASE WHEN kk = 255 THEN 0
              ELSE (510 * (255 - b - kk) + (255 - kk)) // (510 - 2 * kk) END AS y,
         kk
  FROM (SELECT *, 255 - GREATEST(r, g, b) AS kk FROM px)
),
sums AS (
  SELECT k,
         CAST(SUM(c) AS BIGINT) AS c_sum,
         CAST(SUM(m) AS BIGINT) AS m_sum,
         CAST(SUM(y) AS BIGINT) AS y_sum,
         CAST(SUM(kk) AS BIGINT) AS k_sum
  FROM cmyk GROUP BY k
)
"""


@query(oracle=f"""
            WITH {_CMYK_SUMS_SQL}
            SELECT k, c_sum, m_sum, y_sum, k_sum FROM sums""")
def q_media_cmyk_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10's colorimetric core (pdfcapture.go:399-431): real PNG decode →
    naive-GCR RGB→CMYK (exact integer round-half-up) → per-channel sums.
    Only the Ghostscript/ImageMagick PDF-X/TIFF *wrapper* remains a
    container boundary; the color math runs for real here. Oracle = the
    pixel + CMYK formulas in SQL."""
    c = _spread(_t(spark, sf_dir, "customer")).select(F.col("c_custkey").alias("k"))

    def kernel(batches):
        from webcrawler_go_spark.functions.media_codecs import (
            decode_png,
            encode_png,
            rgb_to_cmyk,
        )

        for b in batches:
            rows = []
            for k in b["k"]:
                k = int(k)
                w, h = k % 8 + 2, k % 5 + 2
                px = bytes((k * 31 + j * 7) % 256 for j in range(w * h * 3))
                _w, _h, _ch, dpx = decode_png(
                    encode_png(w, h, px, row_filters=[y % 3 for y in range(h)])
                )
                cmyk = rgb_to_cmyk(dpx)
                rows.append(
                    (k, sum(cmyk[0::4]), sum(cmyk[1::4]), sum(cmyk[2::4]),
                     sum(cmyk[3::4]))
                )
            yield pd.DataFrame(
                rows, columns=["k", "c_sum", "m_sum", "y_sum", "k_sum"]
            )

    return c.mapInPandas(
        kernel, "k long, c_sum long, m_sum long, y_sum long, k_sum long"
    )


@query(oracle=f"""
            -- structural fields are fixed by the writer's parameters
            -- (Photometric 5 Separated, InkSet 1 CMYK, LZW=5, Predictor
            -- 1+k%2, ceil(h/(k%3+1)) strips); ink sums come from the
            -- shared CMYK pixel math; tiff_ok is the in-kernel byte
            -- round-trip through the real container
            WITH {_CMYK_SUMS_SQL}
            SELECT k,
                   CAST(k % 8 + 2 AS INT) AS width,
                   CAST(k % 5 + 2 AS INT) AS height,
                   CAST(5 AS INT) AS photometric,
                   CAST(5 AS INT) AS compression,
                   CAST(1 + k % 2 AS INT) AS predictor,
                   CAST(1 AS INT) AS inkset,
                   CAST((k % 5 + 2 + k % 3) // (k % 3 + 1) AS INT) AS n_strips,
                   TRUE AS tiff_ok,
                   c_sum, m_sum, y_sum, k_sum
            FROM sums""")
def q_media_tiff_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 CONTAINER closure, TIFF side (pdfcapture.go:759-790:
    ``convertToCMYKTIFF`` shells to ImageMagick ``convert -colorspace
    CMYK -compress LZW``). Per customer row: deterministic RGB pixels →
    `rgb_to_cmyk` → a REAL baseline TIFF 6.0 file (Photometric 5
    Separated + InkSet CMYK, per-strip TIFF-LZW, Predictor 2 on odd
    keys, k%3+1 rows/strip so multi-strip paths run) → re-parsed by the
    independent reader. Emits the container's structural fields, the
    per-channel ink sums computed FROM THE DECODED PIXELS, and a
    byte-equality round-trip flag — all closed-form for the SQL oracle.
    Embarrassingly parallel mapInPandas; the payload-free repartition on
    the 8-byte key column spreads the CPU-bound codec work across all
    cores even when the upstream scan is a single split (small test
    files = 1 task otherwise; at 100 TB the scan arrives pre-split and
    the exchange stays negligible — keys only, no pixel bytes)."""
    c = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def kernel(batches):
        import numpy as np

        from webcrawler_go_spark.functions.media_codecs import rgb_to_cmyk
        from webcrawler_go_spark.functions.media_containers import (
            decode_tiff,
            encode_tiff_cmyk,
        )

        for b in batches:
            rows = []
            for k in b["k"]:
                k = int(k)
                w, h = k % 8 + 2, k % 5 + 2
                # same (k*31 + 7j) mod 256 ramp as the SQL oracle, numpy-
                # vectorized (exact integer math, values unchanged)
                rgb = (
                    (k * 31 + 7 * np.arange(w * h * 3, dtype=np.int64)) % 256
                ).astype(np.uint8).tobytes()
                cmyk = rgb_to_cmyk(rgb)
                blob = encode_tiff_cmyk(
                    cmyk, w, h, compression="lzw",
                    predictor=1 + k % 2, rows_per_strip=k % 3 + 1,
                )
                d = decode_tiff(blob)
                px = d["pixels"]
                sums = (
                    np.frombuffer(px, dtype=np.uint8)
                    .reshape(-1, 4)
                    .sum(axis=0, dtype=np.int64)
                )
                rows.append((
                    k, d["width"], d["height"], d["photometric"],
                    d["compression"], d["predictor"], d["inkset"],
                    d["n_strips"], px == cmyk,
                    int(sums[0]), int(sums[1]), int(sums[2]), int(sums[3]),
                ))
            yield pd.DataFrame(rows, columns=[
                "k", "width", "height", "photometric", "compression",
                "predictor", "inkset", "n_strips", "tiff_ok",
                "c_sum", "m_sum", "y_sum", "k_sum",
            ])

    return c.mapInPandas(
        kernel,
        "k long, width int, height int, photometric int, compression int, "
        "predictor int, inkset int, n_strips int, tiff_ok boolean, "
        "c_sum long, m_sum long, y_sum long, k_sum long",
    )


@query(oracle=f"""
            WITH {_CMYK_SUMS_SQL}
            SELECT k,
                   CAST(k % 8 + 2 AS INT) AS width,
                   CAST(k % 5 + 2 AS INT) AS height,
                   'DeviceCMYK' AS colorspace,
                   'FlateDecode' AS pdf_filter,
                   CAST(8 AS INT) AS bits,
                   CAST(5 AS INT) AS n_objects,
                   TRUE AS pdf_ok,
                   c_sum, m_sum, y_sum, k_sum
            FROM sums""")
def q_media_pdf_cmyk_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 CONTAINER closure, PDF side (pdfcapture.go:731-757:
    ``convertToCMYKPDF`` shells to Ghostscript ``pdfwrite`` with
    ``-dProcessColorModel=/DeviceCMYK``). Per customer row: RGB →
    `rgb_to_cmyk` → a valid single-page PDF embedding the pixels as a
    /DeviceCMYK /FlateDecode Image XObject with byte-accurate xref →
    re-extracted by the un-wrapper. Same oracle pattern as the TIFF
    twin; the ICC OutputIntent of full PDF/X stays out of scope (no
    profile data in the sandbox), documented in SURVEY §2.1. Payload-
    free key repartition before the kernel — same rationale as the TIFF
    twin (spread CPU-bound codec work even off a single-split scan)."""
    c = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def kernel(batches):
        from webcrawler_go_spark.functions.media_codecs import rgb_to_cmyk
        from webcrawler_go_spark.functions.media_containers import (
            unwrap_pdf_cmyk,
            wrap_pdf_cmyk,
        )

        for b in batches:
            rows = []
            for k in b["k"]:
                k = int(k)
                w, h = k % 8 + 2, k % 5 + 2
                rgb = bytes((k * 31 + j * 7) % 256 for j in range(w * h * 3))
                cmyk = rgb_to_cmyk(rgb)
                u = unwrap_pdf_cmyk(wrap_pdf_cmyk(cmyk, w, h))
                px = u["pixels"]
                rows.append((
                    k, u["width"], u["height"], u["colorspace"], u["filter"],
                    u["bits_per_component"], u["n_objects"], px == cmyk,
                    sum(px[0::4]), sum(px[1::4]), sum(px[2::4]), sum(px[3::4]),
                ))
            yield pd.DataFrame(rows, columns=[
                "k", "width", "height", "colorspace", "pdf_filter",
                "bits", "n_objects", "pdf_ok",
                "c_sum", "m_sum", "y_sum", "k_sum",
            ])

    return c.mapInPandas(
        kernel,
        "k long, width int, height int, colorspace string, pdf_filter string, "
        "bits int, n_objects int, pdf_ok boolean, "
        "c_sum long, m_sum long, y_sum long, k_sum long",
    )


@query(oracle="""
            SELECT k,
                   CAST(8000 AS INT) AS sample_rate,
                   CAST(k % 50 + 20 AS INT) AS n_samples,
                   CAST(SUM(((k * 131 + u.i * 17) % 256 - 128)
                          * ((k * 131 + u.i * 17) % 256 - 128)) AS BIGINT) AS sum_sq
            FROM (SELECT c_custkey AS k FROM customer) t,
                 unnest(generate_series(0, k % 50 + 20 - 1)) AS u(i)
            GROUP BY k""")
def q_media_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: synthesize 8-bit PCM WAV bytes per row and
    decode with the stdlib ``wave`` RIFF parser; emit header fields plus
    the exact integer sum of squared centered samples (engine-neutral).
    Oracle = the sample formula in SQL."""
    c = _spread(_t(spark, sf_dir, "customer")).select(F.col("c_custkey").alias("k"))

    def kernel(batches):
        from webcrawler_go_spark.functions.media_codecs import (
            decode_wav,
            encode_wav_pcm,
        )

        for b in batches:
            rows = []
            for k in b["k"]:
                k = int(k)
                n = k % 50 + 20
                samples = [(k * 131 + i * 17) % 256 for i in range(n)]
                d = decode_wav(encode_wav_pcm(samples, sample_rate=8000))
                rows.append((k, d["sample_rate"], d["n_samples"], d["sum_sq"]))
            yield pd.DataFrame(
                rows, columns=["k", "sample_rate", "n_samples", "sum_sq"]
            )

    return c.mapInPandas(
        kernel, "k long, sample_rate int, n_samples int, sum_sq long"
    )


@query(oracle="""
            SELECT 'media://' || CAST(doc_id AS VARCHAR) AS media_ref,
                   (CASE WHEN doc_id % 4 = 0 THEN 'image'
                         WHEN doc_id % 4 = 1 THEN 'audio'
                         WHEN doc_id % 4 = 2 THEN 'video'
                         ELSE 'pdf' END) AS media_type,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   (CASE WHEN doc_id % 4 IN (0, 2)
                         THEN CAST(strlen(text) % 1920 + 1 AS INT) END) AS width,
                   (CASE WHEN doc_id % 4 IN (0, 2)
                         THEN CAST(strlen(text) % 1080 + 1 AS INT) END) AS height,
                   (CASE WHEN doc_id % 4 = 2
                         THEN CAST(strlen(text) % 240 + 1 AS INT) END) AS n_frames,
                   CAST(NULL AS VARCHAR) AS decode_error
            FROM documents""")
def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary blobs → mapInPandas decode (fake
    deterministic decoder) → typed feature rows. The Arrow/batch path is
    real; only the codec math is faked (no codec libs in the container)."""
    from webcrawler_go_spark.operators.multimodal import (
        decode_media,
        media_blobs_from_documents,
    )

    blobs = media_blobs_from_documents(_spread(_t(spark, sf_dir, "documents")))
    return decode_media(blobs, use_fake_decoder=True)
