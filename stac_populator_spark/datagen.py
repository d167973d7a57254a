"""Deterministic synthetic input generation (seed=42 everywhere).

Materializes the FIXTURES.md schemas: the Common-Crawl-style ``pages``
fact table matching the driver's ``input_hint``
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string),
the ``footprints`` broadcast dimension (collection polygons, shaped like
the reference's bbox rings /root/reference/STACpopulator/
stac_utils.py:197-228 and config keys /root/reference/STACpopulator/
populators.py:118-123), and the z=7 ``tiles`` grid.

Generation is pure numpy/pandas on the driver for test scales; for bench
scales the pages table is generated distributed (spark.range → pandas UDF
with the same row-index-keyed rules) so the same seed gives identical rows
at any parallelism — every value is a pure function of the row index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .functions.textextract import extract_text

SEED = 42
LANGS = ["en", "zh", "es", "de", "fr", "ja", "pt", "ru"]
# Zipf-ish weights, en ≈ 45% (FIXTURES.md §1 — skew exercises salted shuffles)
LANG_WEIGHTS = np.array([0.45, 0.17, 0.11, 0.08, 0.06, 0.05, 0.045, 0.035])
_WORDS = (
    "data page web crawl spark index cell join tile map scan query batch "
    "stream river mountain city forest island harbor bridge valley plain"
).split()

N_FOOTPRINTS = 500
TILE_Z = 7


def _rand01(i: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic uniform [0,1) from row index — splitmix64-style integer
    hash, so any partition can generate any row independently."""
    with np.errstate(over="ignore"):
        x = i.astype(np.uint64) + np.uint64((salt * 0x9E3779B97F4A7C15) % (1 << 64))
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    x = x ^ (x >> np.uint64(31))
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def pages_pdf(start: int, count: int) -> pd.DataFrame:
    """Rows [start, start+count) of the pages table as pandas. Pure function
    of the row index — identical output for any (start, count) slicing."""
    i = np.arange(start, start + count, dtype=np.int64)

    lang_u = _rand01(i, 1)
    cum = np.cumsum(LANG_WEIGHTS)
    lang_idx = np.searchsorted(cum, lang_u, side="right").clip(0, len(LANGS) - 1)
    langs = np.array(LANGS, dtype=object)[lang_idx]

    urls = np.array(
        [f"https://site{int(k) % 1000}.example/{l}/page{int(k)}.html" for k, l in zip(i, langs)],
        dtype=object,
    )
    # bounded so arbitrarily large row counts stay inside the pandas
    # nanosecond timestamp range (max year 2262)
    ts = pd.Timestamp("2024-01-01T00:00:00") + pd.to_timedelta((i * 137) % (86400 * 365 * 50), unit="s")

    has_geo = _rand01(i, 2) < 0.80
    lat = (_rand01(i, 3) * 170.0 - 85.0).round(6)
    lon = (_rand01(i, 4) * 360.0 - 180.0).round(6)
    # ~0.5% of geo rows carry a geo.box near the antimeridian (most wrap,
    # exercising the lon_min > lon_max MultiPolygon split)
    is_box = has_geo & (_rand01(i, 5) < 0.005)
    lon = np.where(is_box, (170.0 + _rand01(i, 8) * 9.9).round(6), lon)
    box_w = (_rand01(i, 6) * 10.0 + 5.0).round(6)
    box_h = (_rand01(i, 7) * 8.0 + 1.0).round(6)
    lon2 = lon + box_w
    lon2 = np.where(lon2 >= 180.0, lon2 - 360.0, lon2)  # wraps → lon_min > lon_max
    lat2 = np.clip(lat + box_h, -85.0, 85.0)

    n_para = (i % 5).astype(np.int64)
    htmls = []
    for k in range(count):
        idx = int(i[k])
        parts = [f"<html><head><title>Page {idx}</title>"]
        if has_geo[k]:
            if is_box[k]:
                parts.append(
                    f'<meta name="geo.box" content="{lat[k]};{lon[k]};{lat2[k]};{lon2[k]}">'
                )
            else:
                parts.append(f'<meta name="geo.position" content="{lat[k]};{lon[k]}">')
            iso = (
                pd.Timestamp("2020-01-01")
                + pd.Timedelta(seconds=(idx * 977) % (86400 * 365 * 50))
            ).isoformat()
            parts.append(f'<meta name="date" content="{iso}">')
        parts.append("</head><body>")
        parts.append("<script>var x = 1 < 2;</script>")
        for p in range(int(n_para[k])):
            w0 = (idx * 7 + p * 13) % len(_WORDS)
            words = " ".join(_WORDS[(w0 + t) % len(_WORDS)] for t in range(12))
            parts.append(f"<p>{words}</p>")
        parts.append("</body></html>")
        htmls.append("".join(parts))
    html_s = pd.Series(htmls, dtype=object)
    text = extract_text(html_s)

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": html_s.str.encode("utf-8"),
            "text": text.astype(object),
            "lang": langs,
        }
    )


def pages_df(spark, n_rows: int, partitions: int | None = None):
    """Distributed pages generation: spark.range → mapInPandas with the
    index-keyed generator. Identical rows at any parallelism level (the
    byte-identity invariant's precondition)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            # ids from spark.range are contiguous per batch slice only if
            # numPartitions divides evenly; generate per-id to be safe.
            out = pages_pdf(int(ids[0]), len(ids)) if (ids == np.arange(ids[0], ids[0] + len(ids))).all() else pd.concat(
                [pages_pdf(int(k), 1) for k in ids], ignore_index=True
            )
            yield out

    rng = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema=schema)


def footprints_pdf(n: int = N_FOOTPRINTS) -> pd.DataFrame:
    """Collection footprints: bbox-shaped closed 5-point rings (reference
    ring construction), ~2% antimeridian-crossing, a few nested pairs."""
    j = np.arange(n, dtype=np.int64)
    cx = (_rand01(j, 101) * 360.0 - 180.0).round(4)
    cy = (_rand01(j, 102) * 160.0 - 80.0).round(4)
    w = (_rand01(j, 103) * 19.5 + 0.5).round(4)
    h = (_rand01(j, 104) * 15.5 + 0.5).round(4)
    crosses = _rand01(j, 105) < 0.02

    rows = []
    for k in range(n):
        lon_min = cx[k] - w[k] / 2.0
        lon_max = cx[k] + w[k] / 2.0
        lat_min = max(cy[k] - h[k] / 2.0, -85.0)
        lat_max = min(cy[k] + h[k] / 2.0, 85.0)
        if crosses[k]:
            # push across the antimeridian: wrap so lon_min > lon_max
            lon_min = 175.0 + (cx[k] % 4.0)
            lon_max = -178.0 + (cx[k] % 3.0)
        else:
            lon_min = max(lon_min, -180.0)
            lon_max = min(lon_max, 180.0)
        if k % 50 == 7 and k + 1 < n:
            pass  # neighbor k+1 regenerated below as nested
        rows.append((f"col-{k:04d}", lon_min, lat_min, lon_max, lat_max, bool(crosses[k])))

    # make every k≡8 (mod 50) footprint nested inside its predecessor
    out = []
    for k, (cid, lon_min, lat_min, lon_max, lat_max, crossed) in enumerate(rows):
        if k % 50 == 8 and not rows[k - 1][5] and not crossed:
            plon_min, plat_min, plon_max, plat_max = rows[k - 1][1:5]
            lon_min = plon_min + (plon_max - plon_min) * 0.25
            lon_max = plon_min + (plon_max - plon_min) * 0.75
            lat_min = plat_min + (plat_max - plat_min) * 0.25
            lat_max = plat_min + (plat_max - plat_min) * 0.75
        ring = [
            [lon_min, lat_min],
            [lon_min, lat_max],
            [lon_max, lat_max],
            [lon_max, lat_min],
            [lon_min, lat_min],
        ]
        out.append(
            {
                "collection_id": cid,
                "ring": ring,
                "bbox": [lon_min, lat_min, lon_max, lat_max],
                "title": f"Collection {k}",
                "license": "CC-BY-4.0",
                "keywords": ["synthetic", f"kw{k % 7}"],
            }
        )
    return pd.DataFrame(out)


def tiles_pdf(z: int = TILE_Z) -> pd.DataFrame:
    """Fixed web-mercator-style z=7 tile grid over [-180,180]×[-85,85],
    equirectangular bounds (FIXTURES.md §3)."""
    n = 1 << z
    xs, ys = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    xs, ys = xs.ravel(), ys.ravel()
    lon_min = -180.0 + xs * (360.0 / n)
    lon_max = lon_min + 360.0 / n
    lat_max = 85.0 - ys * (170.0 / n)
    lat_min = lat_max - 170.0 / n
    return pd.DataFrame(
        {
            "tile_id": [f"z{z}/x{int(x)}/y{int(y)}" for x, y in zip(xs, ys)],
            "z": np.full(len(xs), z, dtype=np.int32),
            "x": xs.astype(np.int32),
            "y": ys.astype(np.int32),
            "bbox": [list(b) for b in np.stack([lon_min, lat_min, lon_max, lat_max], axis=1)],
        }
    )


def pages_from_documents(documents):
    """Derive a pages table (input_hint schema) deterministically from the
    driver's ``documents`` parquet: url/warc_ts/html/text/lang are pure
    column expressions of (doc_id, text, lang, source). ~80% of docs get a
    geo.position meta (doc_id % 5 != 0), matching FIXTURES.md §1's
    null-geometry share; coordinates are integer-mod arithmetic on doc_id
    so a SQL oracle can reproduce them exactly."""
    from pyspark.sql import functions as F

    lon = ((F.col("doc_id") * 37) % 3600) / 10.0 - 179.95
    lat = ((F.col("doc_id") * 53) % 1700) / 10.0 - 84.95
    has_geo = (F.col("doc_id") % 5) != 0
    iso = F.date_format(
        F.expr("timestampadd(SECOND, doc_id * 977, timestamp'2020-01-01 00:00:00')"),
        "yyyy-MM-dd'T'HH:mm:ss",
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title>"),
        F.when(
            has_geo,
            F.concat(
                F.lit('<meta name="geo.position" content="'),
                lat.cast("string"),
                F.lit(";"),
                lon.cast("string"),
                F.lit('"><meta name="date" content="'),
                iso,
                F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    return documents.select(
        F.concat(
            F.lit("https://docs.example/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.expr("timestampadd(SECOND, doc_id * 137, timestamp'2024-01-01 00:00:00')").alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )

