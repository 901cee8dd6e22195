"""The plan check catches a sink that lets Catalyst prune the timed work.

    python3 -m pytest perfbench/test_sink.py

A ``count()``-only sink drops the nearest-feature UDF from the fused point
query and the area UDF and cell join from the overlay; the benchmark's
checksum sink keeps every expected node.
"""

from __future__ import annotations

import os
import sys
from contextlib import nullcontext

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from pyspark.sql import functions as F  # noqa: E402

import workloads  # noqa: E402
from sink import consume, executed_plan, plan_errors  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    from spandex_spark.session import get_spark
    s = get_spark("perfbench-test", "local[2]", 4,
                  {"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _small(cls, **sizes):
    w = cls(seed=3, cpus=2)
    for k, v in sizes.items():
        setattr(w, k, v)
    return w


@pytest.fixture(scope="module")
def calls(spark, tmp_path_factory):
    """The fused point call and the overlay call on small seeded inputs."""
    pts = _small(workloads.PipKnnStream, N_KEYS=500, N_QUERIES=100)
    parcels = _small(workloads.ParcelAnalysis, GRID=6)
    for w in (pts, parcels):
        w.generate(str(tmp_path_factory.mktemp(w.name)))
        w.prepare(spark, lambda name: nullcontext())
    by_layer = {c.layer: c for w in (pts, parcels) for c in w.calls()}
    return [by_layer["operators.tag.tag_points"],
            by_layer["operators.overlay.proportion_overlap"]]


def test_count_only_sink_fails_the_plan_check(calls):
    for call in calls:
        counted = call.build(lambda name: nullcontext()).agg(F.count(F.lit(1)))
        counted.collect()
        assert plan_errors(executed_plan(counted), call.sink.expect), call.layer


def test_checksum_sink_passes_the_plan_check(calls):
    for call in calls:
        res, plan = consume(call.build(lambda name: nullcontext()), call.sink)
        assert res["rows"] > 0
        assert plan_errors(plan, call.sink.expect) == [], call.layer
