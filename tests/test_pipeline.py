"""End-to-end pipeline tests: PIP join vs brute-force pandas oracle,
antimeridian handling, STAC JSON validity, byte-identity invariant across
parallelism levels (FIXTURES.md §4-5, SURVEY.md §5.2)."""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stac_populator_spark.datagen import footprints_pdf, pages_df, pages_pdf
from stac_populator_spark.operators.cells import encode_cells
from stac_populator_spark.operators.extract import extract_items
from stac_populator_spark.operators.spatial_join import (
    footprint_cover_df,
    footprint_cover_pdf,
    pip_join,
)
from stac_populator_spark.plans.pipeline import build_items, run_pipeline

N_PAGES = 1500


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_PAGES, partitions=4).cache()


@pytest.fixture(scope="module")
def items(spark, pages):
    return encode_cells(extract_items(pages)).cache()


@pytest.fixture(scope="module")
def fps():
    return footprints_pdf()


def _brute_force_pip(items_pdf: pd.DataFrame, fps: pd.DataFrame) -> set:
    """O(n·m) pandas oracle: point-in-bbox with antimeridian splitting."""
    out = set()
    for _, fp in fps.iterrows():
        lon_min, lat_min, lon_max, lat_max = fp["bbox"]
        for _, it in items_pdf.iterrows():
            if pd.isna(it["lon"]):
                continue
            lat_ok = lat_min <= it["lat"] <= lat_max
            if lon_min > lon_max:  # crossing
                lon_ok = it["lon"] >= lon_min or it["lon"] <= lon_max
            else:
                lon_ok = lon_min <= it["lon"] <= lon_max
            if lat_ok and lon_ok:
                out.add((it["id"], fp["collection_id"]))
    return out


def test_extraction_counts(items, pages):
    n = pages.count()
    it = items.count()
    assert it == n  # one item per page
    geo = items.filter(F.col("lon").isNotNull()).count()
    assert 0.75 * n < geo < 0.85 * n  # ~80% have geo


def test_pip_join_matches_bruteforce(spark, items, fps):
    cover = footprint_cover_df(spark, fps)
    joined = pip_join(items.filter(F.col("lon").isNotNull()), cover, exact="rect")
    got = {(r["id"], r["collection_id"]) for r in joined.select("id", "collection_id").collect()}
    expected = _brute_force_pip(items.select("id", "lon", "lat").toPandas(), fps)
    assert got == expected
    assert len(got) > 0


def test_pip_join_pip_mode_matches_rect(spark, items, fps):
    cover = footprint_cover_df(spark, fps)
    geo = items.filter(F.col("lon").isNotNull())
    rect = {(r["id"], r["collection_id"]) for r in pip_join(geo, cover, "rect").select("id", "collection_id").collect()}
    ray = {(r["id"], r["collection_id"]) for r in pip_join(geo, cover, "pip").select("id", "collection_id").collect()}
    assert rect == ray


def test_antimeridian_footprints_match(spark, items, fps):
    crossing = fps[[b[0] > b[2] for b in fps["bbox"]]]
    assert len(crossing) > 0
    cover = footprint_cover_df(spark, crossing)
    joined = pip_join(items.filter(F.col("lon").isNotNull()), cover, exact="rect")
    got = {(r["id"], r["collection_id"]) for r in joined.select("id", "collection_id").collect()}
    expected = _brute_force_pip(items.select("id", "lon", "lat").toPandas(), crossing)
    assert got == expected


def test_multires_pip_matches_bruteforce(spark, items, fps):
    from stac_populator_spark.operators.spatial_join import (
        multires_cover_df,
        pip_join_multires,
    )

    cover = multires_cover_df(spark, fps)
    # cover stays compact: ≤ ~20 cells per footprint at its chosen level
    assert cover.count() < len(fps) * 25
    assert cover.select("res").distinct().count() >= 2  # mixed sizes → mixed levels
    geo = items.filter(F.col("lon").isNotNull()).drop("cell_grid")
    got = {
        (r["id"], r["collection_id"])
        for r in pip_join_multires(geo, cover).select("id", "collection_id").collect()
    }
    expected = _brute_force_pip(items.select("id", "lon", "lat").toPandas(), fps)
    assert got == expected


def test_cover_cells_contain_all_matches(items, fps):
    # every brute-force match's item cell must appear in the cover (no
    # false negatives from the coarse-grid candidate stage)
    cover = footprint_cover_pdf(fps)
    by_col = cover.groupby("collection_id")["cell_grid"].apply(set).to_dict()
    ipdf = items.select("id", "lon", "lat", "cell_grid").toPandas()
    expected = _brute_force_pip(ipdf, fps)
    cells = dict(zip(ipdf["id"], ipdf["cell_grid"]))
    for iid, cid in expected:
        assert cells[iid] in by_col[cid]


def test_stac_json_valid(spark, pages, fps):
    cover = footprint_cover_df(spark, fps)
    out = build_items(pages, cover).select("stac_json", "crosses_am").collect()
    assert len(out) > 0
    n_multi = 0
    n_nogeo = 0
    for r in out:
        doc = json.loads(r["stac_json"])  # must parse
        assert doc["type"] == "Feature"
        assert doc["stac_version"] == "1.0.0"
        geom = doc["geometry"]
        if geom is None:
            # corpus-complete: geometry-less pages flow through as valid
            # null-geometry items (reference collection_update.py:45-48)
            n_nogeo += 1
            assert "bbox" not in doc and "collection" not in doc
            continue
        assert isinstance(doc["bbox"], list) and len(doc["bbox"]) == 4
        assert geom["type"] in ("Polygon", "MultiPolygon")
        if geom["type"] == "MultiPolygon":
            n_multi += 1
            assert r["crosses_am"]
            assert len(geom["coordinates"]) == 2
            # split at the antimeridian: west part ends at 180, east at -180
            west, east = geom["coordinates"]
            assert max(p[0] for p in west[0]) == 180.0
            assert min(p[0] for p in east[0]) == -180.0
        else:
            ring = geom["coordinates"][0]
            assert len(ring) == 5 and ring[0] == ring[-1]
        props = doc["properties"]
        assert "page:language" in props
        assert doc["assets"]["source"]["href"].startswith("https://")
    assert n_nogeo > 0  # ~20% of pages have no geo and must still appear


def _out_of_range_pages(spark, n):
    """Pages whose geo meta is out of WGS84 range: every third page's point
    moves to lat 95, the next third's meta becomes a box from lon -200."""
    k = F.regexp_extract("url", r"page(\d+)\.html", 1).cast("long") % 3
    geo = r'<meta name="geo\.position" content="[^"]*">'
    html = F.col("html").cast("string")
    bad = (
        F.when(k == 0, F.regexp_replace(html, geo, '<meta name="geo.position" content="95.0;10.0">'))
        .when(k == 1, F.regexp_replace(html, geo, '<meta name="geo.box" content="10;-200;20;5">'))
        .otherwise(html)
    )
    return pages_df(spark, n, partitions=2).withColumn("html", bad.cast("binary"))


def _row_set(df) -> list:
    return sorted(r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect())


def test_pipeline_accounts_for_full_corpus(spark, pages, fps):
    # every input page appears exactly once in items ∪ errors (per matched
    # collection for multi-footprint matches, but never silently dropped)
    from stac_populator_spark.operators.validate import split_valid_invalid

    out = run_pipeline(spark, pages, fps)
    urls_in = {r["url"] for r in pages.select("url").collect()}
    urls_items = {r["url"] for r in out["items"].select("url").collect()}
    urls_errors = {r["url"] for r in out["errors"].select("url").collect()}
    assert urls_items | urls_errors == urls_in
    # null-geometry and unmatched items are valid with null collection
    assert out["items"].filter(F.col("collection_id").isNull()).count() > 0

    # a second input that dead-letters: errors carry both WGS84 range
    # reasons, nothing is dropped, and items/errors are exactly the
    # valid/dead split of the same built items
    bad = _out_of_range_pages(spark, 300).cache()
    out = run_pipeline(spark, bad, fps)
    reasons = {r["failure_reason"] for r in out["errors"].select("failure_reason").collect()}
    assert {"lat_out_of_range", "lon_out_of_range"} <= reasons
    urls_in = {r["url"] for r in bad.select("url").collect()}
    urls_items = {r["url"] for r in out["items"].select("url").collect()}
    urls_errors = {r["url"] for r in out["errors"].select("url").collect()}
    assert urls_items | urls_errors == urls_in
    valid, dead = split_valid_invalid(build_items(bad, footprint_cover_df(spark, fps)))
    assert _row_set(out["items"]) == _row_set(valid)
    assert _row_set(out["errors"]) == _row_set(dead)
    bad.unpersist()


def test_antimeridian_items_exist(items):
    # datagen plants ~0.5% of geo rows as crossing boxes
    assert items.filter(F.col("crosses_am")).count() > 0


def test_text_byte_identity_across_partitionings(spark):
    # the driver invariant: byte-identical extracted text per url at any
    # parallelism (input_hint). Same generator, different partitioning.
    a = pages_df(spark, 600, partitions=2)
    b = pages_df(spark, 600, partitions=13)
    ta = {r["url"]: r["text"] for r in extract_items(a).select("url", "text").collect()}
    tb = {r["url"]: r["text"] for r in extract_items(b).select("url", "text").collect()}
    assert ta == tb
    # and extraction reproduces the stored text column exactly
    stored = {r["url"]: r["text"] for r in a.select("url", "text").collect()}
    assert ta == stored


def test_pages_pdf_slicing_invariance():
    whole = pages_pdf(0, 100)
    parts = pd.concat([pages_pdf(0, 37), pages_pdf(37, 40), pages_pdf(77, 23)], ignore_index=True)
    pd.testing.assert_frame_equal(whole, parts)


def test_run_pipeline_smoke(spark, pages, fps):
    out = run_pipeline(spark, pages, fps)
    items_n = out["items"].count()
    cols = out["collections"]
    assert items_n > 0
    rows = cols.collect()
    assert all(r["item_count"] > 0 for r in rows)
    # collection bbox must contain its non-crossing members' points (the
    # reference's bbox union is plain elementwise min/max with no
    # antimeridian handling — collection_update.py:60-65 — so crossing
    # items are excluded from the containment check)
    member = (
        out["items"].filter(~F.col("crosses_am"))
        .groupBy("collection_id")
        .agg(
            F.min("lon").alias("mn_lon"), F.max("lon").alias("mx_lon"),
            F.min("lat").alias("mn_lat"), F.max("lat").alias("mx_lat"),
        )
    )
    j = cols.join(member, "collection_id").collect()
    assert len(j) > 0
    for r in j:
        b = list(r["bbox"])
        assert b[1] <= r["mn_lat"] and b[3] >= r["mx_lat"]
        if b[0] <= b[2]:  # collection bbox itself doesn't wrap
            assert b[0] <= r["mn_lon"] and b[2] >= r["mx_lon"]


def test_null_and_empty_html_flow_as_null_geometry_items(spark, fps):
    # at corpus scale null/empty html WILL occur; the kernel must emit a
    # well-formed null-geometry item (id from url, null lon/lat/n_chars),
    # never crash and never drop the row
    from stac_populator_spark.operators.spatial_join import footprint_cover_df

    pages = pages_df(spark, 50, partitions=2)
    poison = pages.limit(3).select(
        F.concat(F.col("url"), F.lit("#null")).alias("url"),
        F.col("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    empty = pages.limit(2).select(
        F.concat(F.col("url"), F.lit("#empty")).alias("url"),
        "warc_ts",
        F.lit(b"").alias("html"),
        "text",
        "lang",
    )
    mixed = pages.unionByName(poison).unionByName(empty)
    cover = footprint_cover_df(spark, footprints_pdf())
    out = build_items(mixed, cover)
    rows = out.filter(F.col("url").contains("#")).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["id"] is not None and r["id"].endswith((".html#null", ".html#empty"))
        assert r["lon"] is None and r["lat"] is None
        assert r["collection_id"] is None and r["cell_s2"] is None
    # the full corpus is still accounted for
    assert out.select("url").distinct().count() == 55
