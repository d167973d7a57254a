"""Tests of the benchmark's trace extractor, on tiny inputs.

    python3 -m pytest perfbench -q

The last test runs every workload once with ``--trace 1`` at a tiny
scale (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from tracing import EventLog, Tracer, ladder_self, load_events  # noqa: E402
from workloads import LAYER_METRICS, RUNS_LAYER  # noqa: E402


def test_ladder_self_is_the_difference_of_prefixes():
    cum = {"scan": 1.0, "extract": 3.0, "cells": 3.5}
    parents = {"scan": None, "extract": "scan", "cells": "extract"}
    assert ladder_self(cum, parents) == {"scan": 1.0, "extract": 2.0, "cells": 0.5}


def test_ladder_self_is_never_negative():
    # a cheap layer measured under noise can read faster than its parent
    cum = {"scan": 1.0, "extract": 3.0, "tiles": 2.9, "json": 4.0, "side": 0.5}
    parents = {"scan": None, "extract": "scan", "tiles": "extract", "json": "tiles",
               "side": "scan"}
    out = ladder_self(cum, parents)
    assert all(v >= 0 for v in out.values())
    assert out["tiles"] == 0.0
    assert out["json"] == pytest.approx(1.0)
    assert out["side"] == 0.0


def test_tracer_records_nested_spans():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    names = {s["name"]: s for s in tr.spans}
    assert names["inner"]["parent"] == "outer"
    assert names["outer"]["parent"] is None
    assert names["outer"]["wall_s"] >= names["inner"]["wall_s"] >= 0


def test_socket_dir_fits_a_unix_socket_path(tmp_path, monkeypatch):
    from run import Harness

    deep = tmp_path / ("checkout-" + "d" * 90)
    deep.mkdir()
    monkeypatch.chdir(deep)
    h = Harness.__new__(Harness)
    h.root = str(deep / ".perfbench_tmp" / "populate-123456789-4194304")
    # Spark names each socket "/.<uuid4>.sock" (43 bytes) in that
    # directory; AF_UNIX paths hold at most 107 bytes
    assert len(os.path.join(h.root, "s")) + 43 > 107
    assert len(h.socket_dir()) + 43 <= 107
    assert os.path.abspath(h.socket_dir()) == os.path.join(h.root, "s")


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from stac_populator_spark.session import get_spark

    evdir = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark(
        app_name="perfbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield spark, evdir
    spark.stop()


def test_extract_passes_are_counted(traced_spark, tmp_path):
    import pyarrow.parquet as pq

    from stac_populator_spark.datagen import pages_pdf
    from stac_populator_spark.operators.extract import extract_items
    from workloads import noop, pages_table

    spark, evdir = traced_spark
    n = 300
    pq.write_table(pages_table(pages_pdf(10, n)), str(tmp_path / "p.parquet"),
                   coerce_timestamps="us")
    pages = spark.read.parquet(str(tmp_path / "p.parquet"))
    tr = Tracer(spark.sparkContext)
    with tr.span("once"):
        noop(extract_items(pages))
    with tr.span("twice"):
        noop(extract_items(pages))
        noop(extract_items(pages))
    with tr.span("scan_only"):
        noop(pages)
    spark.sparkContext.setLocalProperty("perfbench.span", None)
    # the event log is complete once the context stops
    spark.stop()
    ev = EventLog(load_events(evdir))
    assert ev.stats(["once"]).extract_rows == n
    assert ev.stats(["twice"]).extract_rows == 2 * n
    assert ev.stats(["scan_only"]).extract_rows == 0
    once = ev.stats(["once"])
    assert once.jobs >= 1 and once.tasks >= 1 and once.failed_tasks == 0
    assert once.py_in() > 0 and ev.stats(["scan_only"]).py_in() == 0


def _layer(name: str) -> str:
    return name.split(".", 1)[0]


@pytest.mark.parametrize("workload", sorted(RUNS_LAYER))
def test_traced_run_emits_every_layer_metric(workload):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", "1", "--scale", "0.01"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=400, check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(LAYER_METRICS)
    assert all(math.isfinite(v) and v >= 0 for v in m.values())
    for layer in RUNS_LAYER[workload]:
        assert any(v > 0 for k, v in m.items() if _layer(k) == layer), layer
    # layers a workload does not run report no work
    ran = set(RUNS_LAYER[workload]) | {"session", "skew", "spark", "trace"}
    assert all(v == 0 for k, v in m.items() if _layer(k) not in ran)
    assert m["session.start_s"] > 0 and m["spark.jobs"] > 0 and m["trace.overhead"] > 0
    if workload == "populate":
        assert m["extract.passes"] >= 1.0
