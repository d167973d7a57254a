"""The three benchmark workloads: seeded inputs, one operation, the
correctness oracles, and the ladder each one runs in a traced run.

Every input is a pure function of ``--seed``. The system under test only
sees the generated files; it never sees the seed. The oracles are
independent of the code under test: numpy for geometry and distances,
pandas for the upsert model, plain ``json``/file reads for outputs.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tracing import MB, ladder_self

HERE = os.path.dirname(os.path.abspath(__file__))

# metric names and units live in BENCHMARK.json only; a layer that does
# not run in a workload reports 0 for its metrics (it did no work there)
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
E2E_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
LAYER_METRICS = list(LAYER_UNITS)

# the layers each workload runs in a traced run; the benchmark's own
# tests check that these metrics come out non-zero where the layer runs.
# A traced spatial run also runs the recrawl write side (merge, ingest,
# export), so every layer is measured on a workload BENCHMARK.json lists.
RUNS_LAYER = {
    "populate": ["sources", "extract", "cells", "spatial_join", "tiles", "stac_json",
                 "validate", "collection_agg"],
    "spatial": ["sources", "cells", "spatial_join", "tiles", "knn", "merge", "ingest", "export"],
    "recrawl": ["sources", "extract", "merge", "ingest", "export"],
}

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
PAGES = 80_000  # populate pages per pass
# stream_items_upsert defaults to 64 buckets; at 64 every micro-batch
# rewrites 64 partition directories and costs 8-11 s, too long for a run
N_BUCKETS = 8


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def page_window(seed: int) -> int:
    """First row index of the seed's pages window (datagen.pages_pdf is a
    pure function of the row index)."""
    return 1_000_000 + (seed % 1000) * 10_000_000


def pages_table(pdf: pd.DataFrame) -> pa.Table:
    """Pages as Arrow, with ``warc_ts`` as a UTC instant (Spark TIMESTAMP)."""
    pdf = pdf.copy()
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    return pa.Table.from_pandas(pdf, preserve_index=False)


def write_parts(table: pa.Table, path: str, parts: int) -> None:
    """Write a table as ``parts`` parquet files, so the scan is parallel."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k:03d}.parquet",
                       coerce_timestamps="us")


def generate_pages(spark, start: int, n: int, path: str, parts: int) -> None:
    """Pages ``[start, start + n)`` made on the executors by the package's
    row-index-keyed generator and written as ``parts`` parquet files."""
    from stac_populator_spark.datagen import pages_pdf

    def gen(batches):
        for b in batches:
            ids = b["id"].to_numpy()
            if len(ids) and ids[-1] - ids[0] != len(ids) - 1:
                raise ValueError("a range batch is not contiguous")
            if len(ids):
                yield pages_pdf(int(ids[0]), len(ids))

    spark.range(start, start + n, 1, parts).mapInPandas(gen, PAGES_SCHEMA).write.parquet(path)


def bbox_lookup(lon, lat, fp: pd.DataFrame) -> list[set]:
    """numpy brute force: the footprint ids whose bbox (closed, with
    antimeridian wrap) holds each point."""
    b = np.array([list(x) for x in fp["bbox"]], dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)[:, None]
    lat = np.asarray(lat, dtype=np.float64)[:, None]
    wrap = b[:, 0] > b[:, 2]
    in_lon = np.where(
        wrap, (lon >= b[:, 0]) | (lon <= b[:, 2]), (lon >= b[:, 0]) & (lon <= b[:, 2])
    )
    hit = in_lon & (lat >= b[:, 1]) & (lat <= b[:, 3])
    ids = fp["collection_id"].to_numpy()
    return [set(ids[row]) for row in hit]


_POS = re.compile(r'name="geo\.position" content="([^";]*);([^"]*)"')
_BOX = re.compile(r'name="geo\.box" content="([^";]*);([^";]*);([^";]*);([^"]*)"')


def page_points(html: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Representative point of each generated page, parsed with plain
    ``re`` (NaN when the page has no geometry)."""
    lon = np.full(len(html), np.nan)
    lat = np.full(len(html), np.nan)
    for k, h in enumerate(html):
        s = h.decode() if isinstance(h, bytes) else h
        m = _BOX.search(s)
        if m:
            la0, lo0, la1, lo1 = (float(x) for x in m.groups())
            span = lo1 - lo0 + (360.0 if lo0 > lo1 else 0.0)
            c = lo0 + span / 2.0
            lon[k] = c - 360.0 if c >= 180.0 else c
            lat[k] = (la0 + la1) / 2.0
            continue
        m = _POS.search(s)
        if m:
            lat[k], lon[k] = float(m.group(1)), float(m.group(2))
    return lon, lat


class Workload:
    """One workload. ``scale`` shrinks the inputs (the benchmark's own
    tests use a tiny scale)."""

    name = ""
    timed_by_passes = True
    write_side = False
    min_passes = 2  # timed passes per run, at least

    def __init__(self, h, seed: int, scale: float):
        self.h, self.seed, self.scale = h, seed, scale

    @property
    def spark(self):
        return self.h.spark

    def size(self, n: int, floor: int = 200) -> int:
        return max(floor, int(n * self.scale))

    def bind(self) -> None:
        """(Re)create what belongs to the current Spark session."""

    def discard(self, name: str) -> None:
        shutil.rmtree(f"{self.out_root}/{name}", ignore_errors=True)


# ---------------------------------------------------------------- populate
class Populate(Workload):
    """What the ``run`` verb does to seeded pages: run_pipeline, then
    items, collections and errors written as parquet."""

    name = "populate"

    def setup(self, d: str) -> None:
        from stac_populator_spark.datagen import footprints_pdf

        self.n = self.size(PAGES)
        self.start = page_window(self.seed)
        self.pages = f"{d}/pages"
        generate_pages(self.spark, self.start, self.n, self.pages, 2 * self.h.cpus)
        self.footprints = footprints_pdf()
        self.out_root = f"{d}/out"

    def rows(self) -> int:
        return self.n

    def op(self, name: str) -> None:
        from stac_populator_spark.plans.pipeline import run_pipeline

        self.out = f"{self.out_root}/{name}"
        out = run_pipeline(self.spark, self.spark.read.parquet(self.pages), self.footprints)
        for k in ("items", "collections", "errors"):
            out[k].write.parquet(f"{self.out}/{k}")

    def out_bytes(self) -> int:
        return dir_bytes(self.out)

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        sp, bad = self.spark, []
        items = sp.read.parquet(f"{self.out}/items")
        errors = sp.read.parquet(f"{self.out}/errors")
        urls = items.select("url").union(errors.select("url")).distinct().count()
        if urls != self.n:
            bad.append(f"items+errors cover {urls} pages, expected {self.n}")
        dup = items.groupBy("collection_id", "id").count().filter("count > 1").count()
        if dup:
            bad.append(f"{dup} (collection_id, id) keys repeat in items")
        n_bad_json = parse_failures(items)
        if n_bad_json:
            bad.append(f"{n_bad_json} stac_json documents do not parse")
        bad.extend(self.check_sample(items))
        stats = items.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("geometry").alias("n_geom"),
            F.count("collection_id").alias("n_coll"),
            F.sum(F.octet_length("stac_json")).alias("json_bytes"),
        ).first()
        n_err = errors.count()
        self.counts = {
            "items": stats["n"], "geom": stats["n_geom"], "matched": stats["n_coll"],
            "json_bytes": stats["json_bytes"] or 0, "errors": n_err,
        }
        return bad

    def check_sample(self, items) -> list[str]:
        """On a seeded sample of pages, the item's point and collection_ids
        against the page's own meta tags (parsed with ``re``) and a numpy
        brute-force lookup in every footprint bbox."""
        from pyspark.sql import functions as F

        from stac_populator_spark.datagen import pages_pdf

        rng = np.random.default_rng(self.seed)
        idx = np.sort(rng.choice(self.n, size=min(400, self.n), replace=False)) + self.start
        sample = pd.concat([pages_pdf(int(k), 1) for k in idx], ignore_index=True)
        keys = [u.rsplit("/", 1)[1] for u in sample["url"]]
        lon, lat = page_points(sample["html"])
        want = dict(zip(keys, bbox_lookup(lon, lat, self.footprints)))
        point = dict(zip(keys, zip(lon, lat)))
        got = (
            items.withColumn("k", F.element_at(F.split("url", "/"), -1))
            .filter(F.col("k").isin(keys))
            .select("k", "lon", "lat", "collection_id")
            .toPandas()
        )
        if set(got["k"]) != set(keys):
            return [f"{len(set(keys) - set(got['k']))} sampled pages missing from items"]
        bad = []
        moved = [k for k, x, y in zip(got["k"], got["lon"], got["lat"])
                 if not np.allclose([x, y], point[k], rtol=0.0, atol=1e-9, equal_nan=True)]
        if moved:
            bad.append(f"{len(set(moved))} sampled items are not at their page's geo point")
        have = got.groupby("k")["collection_id"].apply(lambda s: {c for c in s if c is not None})
        wrong = [k for k in keys if have[k] != want[k]]
        if wrong:
            bad.append(f"{len(wrong)} sampled pages have the wrong collection_id")
        return bad

    def ladder(self, tr) -> dict:
        from pyspark.sql import functions as F

        from stac_populator_spark.operators.cells import encode_cells
        from stac_populator_spark.operators.collection_agg import collection_extent
        from stac_populator_spark.operators.extract import extract_items
        from stac_populator_spark.operators.spatial_join import footprint_cover_df, pip_join
        from stac_populator_spark.operators.stac_json import stac_item_json
        from stac_populator_spark.operators.tiles import assign_items_to_tiles
        from stac_populator_spark.operators.validate import split_valid_invalid

        sp = self.spark
        cover = footprint_cover_df(sp, self.footprints)

        def pages():
            return sp.read.parquet(self.pages).select("url", "warc_ts", "html", "lang")

        def extract():
            return extract_items(pages())

        def cells():
            return encode_cells(extract())

        def joined():
            return pip_join(cells(), cover, exact="rect", how="left")

        def tiled():
            return assign_items_to_tiles(joined())

        def stac():
            return stac_item_json(tiled())

        def tagged():
            valid, dead = split_valid_invalid(stac())
            return valid.withColumn("failure_reason", F.lit(None).cast("string")).unionByName(dead)

        def collections():
            t = tagged()
            ok = t.filter(F.col("failure_reason").isNull() & F.col("collection_id").isNotNull())
            return collection_extent(ok)

        steps = [
            ("scan", None, pages),
            ("extract", "scan", extract),
            ("cells", "extract", cells),
            ("spatial_join", "cells", joined),
            ("tiles", "spatial_join", tiled),
            ("stac_json", "tiles", stac),
            ("validate", "stac_json", tagged),
            ("collection_agg", "validate", collections),
        ]
        outs = [f"{self.out}/{k}" for k in ("items", "collections", "errors")]
        return run_ladder(tr, [(n, p, (lambda f=f: noop(f()))) for n, p, f in steps]
                          + write_steps(sp, outs, f"{self.out_root}/rewrite"))

    def layers(self, ev, lad: dict, pass_spans: list[str]) -> dict:
        self_s = lad["self"]
        m = sources_layer(ev, lad, pass_spans)
        p = ev.stats(pass_spans)
        m.update(extract_layer(ev, self_s["extract"], self.n))
        m["extract.geom_frac"] = self.counts["geom"] / max(self.counts["items"], 1)
        m["extract.passes"] = p.extract_rows / (self.n * len(pass_spans))
        m.update(cells_layer(ev, self_s["cells"]))
        j = ev.stats(["ladder/spatial_join"])
        m["spatial_join.self_s"] = self_s["spatial_join"]
        m["spatial_join.candidates_per_item"] = j.metric("BroadcastHashJoin", "number of output rows") / max(self.counts["items"] + self.counts["errors"], 1)
        m["spatial_join.match_frac"] = self.counts["matched"] / max(self.counts["items"], 1)
        m["spatial_join.broadcast_mb"] = j.metric("BroadcastExchange", "data size") / MB
        m["tiles.self_s"] = self_s["tiles"]
        m["stac_json.self_s"] = self_s["stac_json"]
        m["stac_json.bytes_per_item"] = self.counts["json_bytes"] / max(self.counts["items"], 1)
        m["validate.self_s"] = self_s["validate"]
        m["validate.dead_letter_frac"] = self.counts["errors"] / max(self.counts["items"] + self.counts["errors"], 1)
        m["collection_agg.self_s"] = self_s["collection_agg"]
        m["collection_agg.shuffle_mb"] = ev.stats(["ladder/collection_agg"]).shuffle_write / MB
        return m


def parse_failures(items) -> int:
    """stac_json documents that Python's ``json`` cannot parse as a STAC
    Feature whose id matches the row, counted on the executors."""
    from pyspark.sql import functions as F

    def count_bad(batches):
        for b in batches:
            bad = 0
            for doc, item_id in zip(b["stac_json"], b["id"]):
                try:
                    d = json.loads(doc)
                    ok = d.get("type") == "Feature" and d.get("id") == item_id
                except (TypeError, ValueError):
                    ok = False
                bad += not ok
            yield pd.DataFrame({"bad": [bad]})

    return items.select("id", "stac_json").mapInPandas(count_bad, "bad long").agg(
        F.sum("bad")
    ).first()[0] or 0


def sources_layer(ev, lad: dict, pass_spans: list[str], scan: str = "scan") -> dict:
    """Scan and parquet-sink metrics. Written bytes are per timed
    operation; the sink's self time comes from the write steps."""
    written = ev.stats(pass_spans).metric("Execute InsertIntoHadoopFsRelationCommand", "written output")
    return {
        "sources.scan_s": lad["cum"][scan],
        "sources.scan_mb": ev.stats([f"ladder/{scan}"]).metric("Scan", "size of files read") / MB,
        "sources.write_s": lad["self"].get("rewrite", 0.0),
        "sources.write_mb": written / MB / max(len(pass_spans), 1),
    }


def extract_layer(ev, self_s: float, rows: int, step: str = "extract") -> dict:
    e = ev.stats([f"ladder/{step}"])
    return {
        "extract.self_s": self_s,
        "extract.ms_per_10k_rows": self_s * 1000.0 * 10_000 / max(rows, 1),
        "extract.py_in_mb": e.py_in() / MB,
        "extract.py_out_mb": e.py_out() / MB,
    }


def cells_layer(ev, self_s: float) -> dict:
    # bytes the cells layer adds to the Python crossings of its prefix
    with_cells = ev.stats(["ladder/cells"]).py_in()
    without = ev.stats(["ladder/extract"]).py_in()
    return {"cells.self_s": self_s, "cells.py_in_mb": max(with_cells - without, 0.0) / MB}


def write_steps(sp, outs: list[str], tmp_dir: str) -> list:
    """Ladder steps isolating the parquet sink: re-read a pass's outputs to
    ``noop``, then re-read and write them as parquet again."""

    def reread():
        for o in outs:
            noop(sp.read.parquet(o))

    def rewrite():
        for k, o in enumerate(outs):
            sp.read.parquet(o).write.parquet(f"{tmp_dir}/{k}")
        shutil.rmtree(tmp_dir, ignore_errors=True)

    return [("reread", None, reread), ("rewrite", "reread", rewrite)]


def run_ladder(tr, steps) -> dict:
    """Run each (name, parent, fn) step once inside a ``ladder/<name>``
    span; return cumulative and self times."""
    cum, parents = {}, {}
    for name, parent, fn in steps:
        with tr.span(f"ladder/{name}"):
            fn()
        cum[name] = tr.spans[-1]["wall_s"]
        parents[name] = parent
    return {"cum": cum, "self": ladder_self(cum, parents)}


# ----------------------------------------------------------------- spatial
def point_cloud(seed: int, n: int) -> pd.DataFrame:
    """City-like clusters (Zipf sizes), a uniform background and a polar
    band. Component sizes are fixed; the seed moves the clusters."""
    rng = np.random.default_rng(seed)
    n_clu, n_pol = int(n * 0.55), int(n * 0.10)
    n_bg = n - n_clu - n_pol
    k = 12
    w = 1.0 / np.arange(1, k + 1)
    sizes = np.floor(w / w.sum() * n_clu).astype(int)
    sizes[0] += n_clu - sizes.sum()
    cx = rng.uniform(-170, 170, k)
    cy = rng.uniform(-55, 55, k)
    sig = np.linspace(0.4, 1.5, k)
    lon = [rng.normal(cx[i], sig[i], sizes[i]) for i in range(k)]
    lat = [rng.normal(cy[i], sig[i] * 0.7, sizes[i]) for i in range(k)]
    # background uniform on the sphere between ±75°
    lon.append(rng.uniform(-180, 180, n_bg))
    lat.append(np.degrees(np.arcsin(rng.uniform(np.sin(np.radians(-75)), np.sin(np.radians(75)), n_bg))))
    # polar band: 80°..89.5° north and south
    half = n_pol // 2
    lon.append(rng.uniform(-180, 180, n_pol))
    lat.append(np.concatenate([rng.uniform(80, 89.5, half), -rng.uniform(80, 89.5, n_pol - half)]))
    lon = np.concatenate(lon)
    lat = np.clip(np.concatenate(lat), -89.9, 89.9)
    lon = (lon + 180.0) % 360.0 - 180.0
    return pd.DataFrame({"id": np.arange(n, dtype=np.int64), "lon": lon.round(6), "lat": lat.round(6)}), (cx, cy)


def ring_footprints(seed: int, centers, n: int = 160) -> pd.DataFrame:
    """Star-shaped ring footprints, half centred on the point clusters.
    The shapes are the same for every seed; the seed moves them."""
    rng = np.random.default_rng(seed + 7919)
    shape = np.random.default_rng(7919)
    cx, cy = centers
    rows = []
    for f in range(n):
        if f % 2 == 0:
            c = f // 2 % len(cx)
            x0, y0 = cx[c] + rng.normal(0, 1.0), cy[c] + rng.normal(0, 0.7)
        else:
            x0, y0 = rng.uniform(-165, 165), rng.uniform(-70, 70)
        r = shape.uniform(0.8, 5.0)
        nv = int(shape.integers(6, 13))
        ang = np.sort(shape.uniform(0, 2 * np.pi, nv))
        rad = r * shape.uniform(0.5, 1.0, nv)
        xs = np.clip(x0 + rad * np.cos(ang), -179.5, 179.5).round(6)
        ys = np.clip(y0 + rad * np.sin(ang), -84.5, 84.5).round(6)
        ring = [[float(a), float(b)] for a, b in zip(xs, ys)]
        ring.append(ring[0])
        rows.append({
            "collection_id": f"ring-{f:03d}",
            "ring": ring,
            "bbox": [float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())],
        })
    return pd.DataFrame(rows)


def winding_inside(lon: np.ndarray, lat: np.ndarray, ring) -> np.ndarray:
    """Winding-number point-in-polygon (non-zero rule)."""
    r = np.asarray(ring, dtype=np.float64)
    x0, y0, x1, y1 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
    px, py = lon[:, None], lat[:, None]
    cross = (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0)
    up = (y0 <= py) & (y1 > py) & (cross > 0)
    down = (y0 > py) & (y1 <= py) & (cross < 0)
    return (up.sum(axis=1) - down.sum(axis=1)) != 0


def haversine(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lon2 - lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * 6371.0088 * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


class Spatial(Workload):
    """kNN (k=3), the exact PIP join against ring footprints and the tile
    pyramid over a seeded point cloud."""

    name = "spatial"
    K = 3
    # its traced run is the shorter of the two listed ones, so it also
    # measures the recrawl write side
    write_side = True

    def setup(self, d: str) -> None:
        self.n = self.size(2_500, floor=1000)
        self.pts, centers = point_cloud(self.seed, self.n)
        self.fp = ring_footprints(self.seed, centers)
        self.points = f"{d}/points"
        write_parts(pa.Table.from_pandas(self.pts, preserve_index=False), self.points, self.h.cpus)
        self.out_root = f"{d}/out"
        self.bind()

    def bind(self) -> None:
        from stac_populator_spark.operators.spatial_join import footprint_cover_df

        self.cover = footprint_cover_df(self.spark, self.fp)

    def rows(self) -> int:
        return self.n

    def op(self, name: str) -> None:
        from stac_populator_spark.operators.cells import encode_cells
        from stac_populator_spark.operators.knn import knn_join_exact
        from stac_populator_spark.operators.spatial_join import pip_join
        from stac_populator_spark.operators.tiles import assign_items_to_tiles, tile_pyramid

        self.out = f"{self.out_root}/{name}"
        pts = self.spark.read.parquet(self.points)
        knn_join_exact(pts, k=self.K, res=None, radius=1).write.parquet(f"{self.out}/knn")
        pip_join(encode_cells(pts), self.cover, exact="pip").select(
            "id", "collection_id"
        ).write.parquet(f"{self.out}/matches")
        tile_pyramid(assign_items_to_tiles(pts)).write.parquet(f"{self.out}/pyramid")

    def out_bytes(self) -> int:
        return dir_bytes(self.out)

    def check(self) -> list[str]:
        bad = []
        lon, lat = self.pts["lon"].to_numpy(), self.pts["lat"].to_numpy()
        # kNN against a numpy haversine brute force on sampled query points
        rng = np.random.default_rng(self.seed + 1)
        q = rng.choice(self.n, size=min(64, self.n), replace=False)
        knn = self.spark.read.parquet(f"{self.out}/knn")
        got = knn.filter(knn.id.isin([int(x) for x in q])).toPandas()
        wrong = 0
        for qi in q:
            d = haversine(lon[qi], lat[qi], lon, lat)
            d[qi] = np.inf
            want = np.sort(d)[: self.K]
            g = np.sort(got.loc[got["id"] == qi, "dist_km"].to_numpy())
            if len(g) != self.K or not np.allclose(g, want, rtol=1e-9, atol=1e-6):
                wrong += 1
        if wrong:
            bad.append(f"kNN differs from brute force on {wrong} of {len(q)} points")
        # PIP matches against a numpy winding-number test
        want = set()
        for cid, ring, (x0, y0, x1, y1) in zip(self.fp["collection_id"], self.fp["ring"], self.fp["bbox"]):
            cand = np.nonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))[0]
            if len(cand):
                inside = cand[winding_inside(lon[cand], lat[cand], ring)]
                want.update((int(i), cid) for i in inside)
        m = self.spark.read.parquet(f"{self.out}/matches").toPandas()
        have = set(zip(m["id"].astype(int), m["collection_id"]))
        self.n_matches = len(m)
        if have != want or len(m) != len(have):
            bad.append(f"PIP matches differ: {len(have ^ want)} pairs, {len(m) - len(have)} repeats")
        # the pyramid holds every point once per zoom level
        pyr = self.spark.read.parquet(f"{self.out}/pyramid").toPandas()
        per_z = pyr.groupby("z")["n_items"].sum()
        if sorted(per_z.index) != list(range(8)) or (per_z != self.n).any():
            bad.append("tile pyramid does not hold every point at every zoom")
        return bad

    def ladder(self, tr) -> dict:
        from stac_populator_spark.operators.cells import encode_cells
        from stac_populator_spark.operators.knn import knn_join_exact
        from stac_populator_spark.operators.spatial_join import pip_join
        from stac_populator_spark.operators.tiles import assign_items_to_tiles, tile_pyramid

        sp = self.spark

        def pts():
            return sp.read.parquet(self.points)

        steps = [
            ("scan", None, lambda: noop(pts())),
            ("cells", "scan", lambda: noop(encode_cells(pts()))),
            ("spatial_join", "cells",
             lambda: noop(pip_join(encode_cells(pts()), self.cover, exact="pip"))),
            ("tiles", "scan", lambda: noop(tile_pyramid(assign_items_to_tiles(pts())))),
            ("knn", "scan", lambda: noop(knn_join_exact(pts(), k=self.K, res=None, radius=1))),
        ]
        outs = [f"{self.out}/{k}" for k in ("knn", "matches", "pyramid")]
        lad = run_ladder(tr, steps + write_steps(sp, outs, f"{self.out_root}/rewrite"))
        with tr.span("knn_stats"):
            _, self.knn_stats = knn_join_exact(pts(), k=self.K, res=None, radius=1,
                                               return_stats=True)
        return lad

    def layers(self, ev, lad: dict, pass_spans: list[str]) -> dict:
        self_s = lad["self"]
        m = sources_layer(ev, lad, pass_spans)
        m.update(cells_layer(ev, self_s["cells"]))
        j = ev.stats(["ladder/spatial_join"])
        cand = j.metric("BroadcastHashJoin", "number of output rows")
        m["spatial_join.self_s"] = self_s["spatial_join"]
        m["spatial_join.candidates_per_item"] = cand / self.n
        m["spatial_join.match_frac"] = self.n_matches / max(cand, 1)
        m["spatial_join.broadcast_mb"] = j.metric("BroadcastExchange", "data size") / MB
        m["tiles.self_s"] = self_s["tiles"]
        k = ev.stats(["ladder/knn"])
        m["knn.self_s"] = self_s["knn"]
        m["knn.jobs"] = k.jobs
        joins = sum(v for (node, met), v in k.node.items() if node.endswith("Join") and met == "number of output rows")
        m["knn.ring_rows_per_point"] = joins / self.n
        m["knn.polar_frac"] = self.knn_stats.get("polar_cap", 0) / self.n
        m["knn.brute_rows"] = self.knn_stats.get("brute", 0)
        return m


# ----------------------------------------------------------------- recrawl
class Recrawl(Workload):
    """Re-crawled pages upserted in micro-batches into a bucketed items
    table (stream_items_upsert), then the export verb."""

    name = "recrawl"
    timed_by_passes = False

    def __init__(self, h, seed: int, scale: float, phases: int | None = None):
        super().__init__(h, seed, scale)
        # timed phases to stage micro-batches for: a traced run of its own
        # times two (without and with the event log)
        self.phases = phases or (2 if h.trace else 1)

    def setup(self, d: str) -> None:
        from stac_populator_spark.datagen import footprints_pdf, pages_pdf
        from stac_populator_spark.plans.pipeline import build_items
        from stac_populator_spark.sources.merge import merge_upsert_bucketed

        sp = self.spark
        self.n0 = self.size(3_000)
        self.batch = self.size(1_000, floor=100)
        # a warm-up batch and the timed batches, per timed phase
        self.n_batches = (self.h.batches + 1) * self.phases
        self.next_batch = 0
        start = page_window(self.seed)
        self.d = d
        self.footprints = footprints_pdf()
        self.bind()
        # the existing table: the seed's first n0 pages, bucketed by key
        base = pages_pdf(start, self.n0)
        write_parts(pages_table(base), f"{d}/pages0", self.h.cpus)
        items = with_merge_key(build_items(sp.read.parquet(f"{d}/pages0"), self.cover))
        self.table = f"{d}/table"
        merge_upsert_bucketed(sp, self.table, items, key="merge_key", n_buckets=N_BUCKETS)
        # re-crawled batches: half updates of existing urls (hot
        # collections favoured, newer warc_ts, new title), half new pages
        lon, lat = page_points(base["html"])
        hits = bbox_lookup(lon, lat, self.footprints)
        counts = pd.Series([c for s in hits for c in s]).value_counts()
        hot = set(counts.index[:10])
        weight = np.array([8.0 if s & hot else 1.0 for s in hits])
        rng = np.random.default_rng(self.seed)
        n_upd = self.batch // 2
        self.model = pd.DataFrame({"url": base["url"], "warc_ts": base["warc_ts"],
                                   "title": [f"Page {start + k}" for k in range(self.n0)]})
        self.model = self.model.set_index("url")
        self.staged = []
        os.makedirs(f"{d}/staged")
        for b in range(self.n_batches):
            pick = rng.choice(self.n0, size=n_upd, replace=False, p=weight / weight.sum())
            upd = base.iloc[np.sort(pick)].copy()
            v = b + 1
            upd["warc_ts"] = upd["warc_ts"] + pd.Timedelta(days=v)
            idx = start + np.sort(pick)
            upd["html"] = [
                h.replace(f"<title>Page {i}</title>".encode(), f"<title>Page {i} v{v}</title>".encode())
                for h, i in zip(upd["html"], idx)
            ]
            new = pages_pdf(start + self.n0 + b * (self.batch - n_upd), self.batch - n_upd)
            batch = pd.concat([upd, new], ignore_index=True)
            path = f"{d}/staged/batch-{b:03d}.parquet"
            pq.write_table(pages_table(batch), path, coerce_timestamps="us")
            self.staged.append(path)
            titles = [f"Page {i} v{v}" for i in idx] + [
                f"Page {start + self.n0 + b * (self.batch - n_upd) + k}" for k in range(len(new))
            ]
            upd_model = pd.DataFrame({"url": batch["url"], "warc_ts": batch["warc_ts"],
                                      "title": titles}).set_index("url")
            self.model = pd.concat([self.model[~self.model.index.isin(upd_model.index)], upd_model])
        self.bucket_log: list[dict] = []
        self.inbox = f"{d}/inbox"
        self.ckpt = f"{d}/ckpt"
        os.makedirs(self.inbox)

    def bind(self) -> None:
        from stac_populator_spark.operators.spatial_join import footprint_cover_df

        self.cover = footprint_cover_df(self.spark, self.footprints)

    def rows(self) -> int:
        return self.batch

    def op(self, b: int) -> None:
        """Land staged batch ``b`` and run the upsert stream until it has
        consumed it."""
        from stac_populator_spark.streaming.ingest import read_pages_stream, stream_items_upsert

        landed = f"{self.inbox}/batch-{b:03d}.parquet"
        os.replace(self.staged[b], landed)
        before = table_files(self.table) if self.h.trace else None
        q = stream_items_upsert(read_pages_stream(self.spark, self.inbox), self.cover,
                                self.table, self.ckpt, n_buckets=N_BUCKETS)
        self.h.watch(q)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if before is not None:
            after = table_files(self.table)
            written = set(after) - set(before)
            self.bucket_log.append({
                "touched": len({os.path.dirname(f) for f in written}),
                "rows": sum(pq.read_metadata(f).num_rows for f in written),
                "bytes": sum(after[f] for f in written),
                "in_bytes": os.path.getsize(landed),
            })

    def export(self, tag: str) -> None:
        from stac_populator_spark import cli

        self.export_dir = f"{self.d}/export-{tag.strip('/') or 'main'}"
        t0 = time.perf_counter()
        with self.h.quiet():
            cli.main(["export", "--items", self.table, "--out", self.export_dir])
        self.export_s = time.perf_counter() - t0

    def out_bytes(self) -> int:
        return dir_bytes(self.table) + dir_bytes(self.export_dir)

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        bad = []
        t = self.spark.read.parquet(self.table).select(
            "url", "warc_ts", "title", "id", "collection_id", "merge_key",
            F.col("geometry").isNotNull().alias("has_geom"),
        ).toPandas()
        model = self.model
        if t["merge_key"].duplicated().any():
            bad.append("merge keys repeat in the table")
        if set(t["url"]) != set(model.index):
            bad.append(f"table urls differ from the model: {len(set(t['url']) ^ set(model.index))}")
        else:
            ts = t["warc_ts"]
            want_ts = model.loc[t["url"], "warc_ts"].to_numpy()
            want_title = model.loc[t["url"], "title"].to_numpy()
            stale = (ts.to_numpy() != want_ts) | (t["title"].to_numpy() != want_title)
            if stale.any():
                bad.append(f"{int(stale.sum())} table rows are not the latest crawl")
        pairs = t[["collection_id", "id"]].drop_duplicates()
        docs = 0
        files = 0
        for dp, _, fs in os.walk(self.export_dir):
            if "_duplicates" in dp:
                continue
            for f in fs:
                if f.startswith("part-"):
                    files += 1
                    with open(os.path.join(dp, f), "rb") as fh:
                        docs += sum(1 for _ in fh)
        if docs != len(pairs):
            bad.append(f"export holds {docs} documents, expected {len(pairs)} (collection, id) pairs")
        self.counts = {"rows": len(t), "files": files, "docs": docs,
                       "geom": int(t["has_geom"].sum())}
        return bad

    def ladder(self, tr) -> dict:
        """Micro-batch steps on a copy of the table; the export step is the
        export verb of the timed phase, over a plain scan of the table."""
        from stac_populator_spark.operators.extract import extract_items
        from stac_populator_spark.plans.pipeline import build_items
        from stac_populator_spark.sources.merge import merge_upsert_bucketed

        sp = self.spark
        sample = f"{self.inbox}/batch-001.parquet"
        copy = f"{self.d}/table_copy"
        shutil.copytree(self.table, copy)

        def batch():
            return sp.read.schema(PAGES_SCHEMA).parquet(sample)

        def merge():
            items = with_merge_key(build_items(batch(), self.cover))
            merge_upsert_bucketed(sp, copy, items, key="merge_key", n_buckets=N_BUCKETS)

        steps = [
            ("batch_scan", None, lambda: noop(batch())),
            ("batch_extract", "batch_scan", lambda: noop(extract_items(batch()))),
            ("build", "batch_extract", lambda: noop(build_items(batch(), self.cover))),
            ("merge", "build", merge),
            ("table_scan", None, lambda: noop(sp.read.parquet(self.table))),
        ]
        lad = run_ladder(tr, steps)
        shutil.rmtree(copy, ignore_errors=True)
        lad["cum"]["export"] = self.export_s
        lad["self"]["export"] = max(self.export_s - lad["cum"]["table_scan"], 0.0)
        return lad

    def layers(self, ev, lad: dict, pass_spans: list[str]) -> dict:
        m = sources_layer(ev, lad, pass_spans, scan="batch_scan")
        p = ev.stats(pass_spans)
        m.update(extract_layer(ev, lad["self"]["batch_extract"], self.batch, step="batch_extract"))
        m["extract.geom_frac"] = self.counts["geom"] / max(self.counts["rows"], 1)
        m["extract.passes"] = p.extract_rows / (self.batch * len(pass_spans))
        m.update(self.write_layers(lad, pass_spans))
        return m

    def write_layers(self, lad: dict, batch_spans: list[str]) -> dict:
        """The merge, ingest and export metrics; none of them needs the
        event log."""
        m = {"merge.self_s": lad["self"]["merge"]}
        touched = [b["touched"] for b in self.bucket_log]
        m["merge.buckets_touched_frac"] = float(np.mean(touched)) / N_BUCKETS if touched else 0.0
        m["merge.rows_rewritten_per_update_row"] = float(np.mean([b["rows"] for b in self.bucket_log])) / self.batch
        m["merge.bytes_written_per_update_byte"] = float(np.mean([b["bytes"] / b["in_bytes"] for b in self.bucket_log]))
        walls = [s["wall_s"] for s in self.h.tracer.spans if s["name"] in batch_spans]
        m["ingest.batches"] = len(walls)
        m["ingest.batch_p50_s"] = float(np.median(walls))
        m["export.self_s"] = lad["self"]["export"]
        m["export.files"] = self.counts["files"]
        m["export.dup_frac"] = dup_frac(self.export_dir, self.counts["docs"])
        return m


def with_merge_key(items):
    """The upsert key stream_items_upsert uses: one row per (id, collection)."""
    from pyspark.sql import functions as F

    return items.withColumn(
        "merge_key",
        F.concat_ws("|", F.col("id"), F.coalesce(F.col("collection_id"), F.lit(""))),
    )


def table_files(table: str) -> dict[str, int]:
    """Data files of a bucketed table and their sizes."""
    out = {}
    for dp, _, fs in os.walk(table):
        for f in fs:
            if f.endswith(".parquet"):
                out[os.path.join(dp, f)] = os.path.getsize(os.path.join(dp, f))
    return out


def dup_frac(export_dir: str, docs: int) -> float:
    path = f"{export_dir}/_duplicates"
    if not os.path.isdir(path):
        return 0.0
    t = pq.read_table(path)
    return float(pa.compute.sum(t["n_duplicates"]).as_py() or 0) / max(docs, 1)


WORKLOADS = {"populate": Populate, "spatial": Spatial, "recrawl": Recrawl}
