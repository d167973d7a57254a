"""The flagship end-to-end pipeline (SURVEY.md §7.1 milestone-1 slice).

    pages(url, warc_ts, html, text, lang)
      → extract_items        (vectorized parse; P2/P4/P5/P8 semantics)
      → encode_cells         (S2 L12 + hex r7 + join grid)
      → pip_join             (broadcast footprint cover; J5)
      → assign_items_to_tiles(arithmetic tile ids; J7)
      → stac_item_json       (STAC-valid Feature per item)
      → tag_failures         (failure_reason projection; K4)
      → route                (items / errors = two filters of the tagged frame)
      → collection_extent    (A1/A2 groupBy union)

Spark lifecycle (SURVEY.md §3.1): one declarative DAG — Catalyst prunes
columns into the parquet scan, the only wide exchange is the collection
aggregation's final groupBy (map-side partial aggregation first), the PIP
join is broadcast (no fact shuffle). Items, errors and collections each
read the extraction once (no union of valid and dead-letter branches).
Stage boundaries are optionally snapshot-checkpointed (sources.checkpoint)
for kill-resume.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators.cells import encode_cells
from ..operators.collection_agg import collection_extent
from ..operators.extract import extract_items
from ..operators.spatial_join import footprint_cover_df, pip_join
from ..operators.stac_json import stac_item_json
from ..operators.tiles import assign_items_to_tiles
from ..operators.validate import route, tag_failures
from ..sources.checkpoint import CheckpointedPipeline


def build_items(pages: DataFrame, cover: DataFrame, exact: str = "rect",
                tile_z: int = 7, how: str = "left") -> DataFrame:
    """pages → STAC items with cells, collection match and tile id (the
    narrow+broadcast portion — no fact-side shuffle anywhere).

    ``how='left'`` (default): the full corpus flows through — null-geometry
    pages and footprint-unmatched pages pass as valid items with a null
    collection (reference tolerates null geometry, collection_update.py:
    45-48), so items+errors always account for every input page.
    ``how='inner'``: the round-1 behavior (only footprint-matched items).
    """
    items = extract_items(pages)
    items = encode_cells(items)
    if how == "inner":
        items = items.filter(items.lon.isNotNull())
    joined = pip_join(items, cover, exact=exact, how=how)
    tiled = assign_items_to_tiles(joined, z=tile_z)
    return stac_item_json(tiled)


def build_tagged(pages: DataFrame, cover: DataFrame, exact: str = "rect") -> DataFrame:
    """Every item with its failure_reason (null = valid) from ONE
    extraction pass — the pipeline's checkpointed ``extracted`` stage."""
    return tag_failures(build_items(pages, cover, exact=exact))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    footprints_pdf: pd.DataFrame,
    checkpoint_root: str | None = None,
    exact: str = "rect",
) -> dict:
    """Full run: items + collection extents + dead-letter routing
    (+ optional checkpointing).

    Returns {"items", "collections", "errors": DataFrame, "metrics": dict}.
    ``errors`` is the dead-letter table (K4): rows failing validation with
    a failure_reason column — the Spark analogue of the reference's
    error-item JSON dumps (populators.py:288-300).
    """
    from pyspark.sql import functions as F

    cover = footprint_cover_df(spark, footprints_pdf)
    cp = CheckpointedPipeline(spark, checkpoint_root) if checkpoint_root else None
    stage = cp.run_stage if cp else (lambda _name, build: build())

    tagged = stage("extracted", lambda: build_tagged(pages, cover, exact=exact))
    items, errors = route(tagged)
    # collection extents aggregate only footprint-matched items; the
    # null-collection (geometry-less / unmatched) items stay in `items`
    in_collection = items.filter(F.col("collection_id").isNotNull())
    collections = stage("collections", lambda: collection_extent(in_collection))
    metrics = cp.stage_metrics() if cp else {}
    return {"items": items, "collections": collections, "errors": errors, "metrics": metrics}
