"""Physical-plan shape of the extraction plans: the post-passes run inside
the OCR Arrow stage, so after it only the doc_id exchange, one sort and
the one order window remain. Each branch explodes only its own kind of
span, so every span passes through one Generate. The plan is built from a
few SQL statements, so building it costs few Py4J round trips."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.plans.pipeline import extract, extract_crops
from tests.test_dedup_plan import _walk

pytestmark = pytest.mark.spark

_NODES = ("Exchange", "Sort", "Window", "MapInArrow", "Generate")


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree(df) -> str:
    """The node tree of ``explain("formatted")`` (its first section)."""
    return _formatted(df).split("\n\n")[0]


def _count(tree: str) -> dict[str, int]:
    # "+- Exchange (7)" counts; "BroadcastExchange (8)" does not
    return {n: len(re.findall(rf"[-\s]{n} \(\d+\)", tree)) for n in _NODES}


def test_extract_plan_shape(spark, fx_small_path):
    df = extract(
        spark.read.parquet(fx_small_path), ExtractConfig(media_partitions=4)
    )
    assert _count(_tree(df)) == {
        "Exchange": 2, "Sort": 1, "Window": 1, "MapInArrow": 1,
        "Generate": 2,
    }
    # the media array is sorted once; no prefix-count scan or zip
    plan = _formatted(df)
    assert plan.count("array_sort(") == 1
    assert "aggregate(" not in plan and "zip_with" not in plan


def _generate_rows(spark, df) -> list[int]:
    """``number of output rows`` of every Generate node that ran in
    ``df``'s executed (adaptive) plan."""
    ident = spark._jvm.System.identityHashCode
    return [
        n.metrics().apply("numOutputRows").value()
        for n in _walk(df._jdf.queryExecution().executedPlan(), ident)
        if n.getClass().getSimpleName() == "GenerateExec"
    ]


def test_extract_explodes_each_span_once(spark, fx_small_docs, fx_small_path):
    df = extract(
        spark.read.parquet(fx_small_path), ExtractConfig(media_partitions=4)
    )
    df.collect()
    spans = sum(len(d["spans"]) for d in fx_small_docs)
    # the media explode is OUTER: a doc without media gives one NULL row
    media_less = sum(
        not any(s["kind"] == "media" for s in d["spans"])
        for d in fx_small_docs
    )
    assert media_less < spans
    assert sum(_generate_rows(spark, df)) == spans + media_less


def test_extract_builds_in_few_py4j_round_trips(
    spark, fx_small_path, round_trips
):
    # each Column expression is one round trip to the JVM; a plan built
    # from Column calls made ~970 of them per extract()
    docs = spark.read.parquet(fx_small_path)
    cfg = ExtractConfig(media_partitions=4)
    assert 0 < round_trips(lambda: extract(docs, cfg)) <= 150


def test_extract_crops_plan_shape(spark, fx_small_docs, fx_small_path):
    crops = spark.createDataFrame(
        [
            (d["doc_id"], s["offset"], "c1", 0, 0, 60, 60)
            for d in fx_small_docs for s in d["spans"]
            if s["kind"] == "media"
        ],
        "doc_id string, offset int, crop_id string, crop_x0 int, "
        "crop_y0 int, crop_x1 int, crop_y1 int",
    )
    df = extract_crops(
        spark.read.parquet(fx_small_path), crops,
        ExtractConfig(psm="auto", media_partitions=4),
    )
    tree = _tree(df)
    # above the OCR stage: the doc_id exchange, one sort, one window
    tail = tree.split("MapInArrow")[0]
    assert _count(tail) == {
        "Exchange": 1, "Sort": 1, "Window": 1, "MapInArrow": 0,
        "Generate": 0,
    }
    # the whole plan adds only the salting exchange: it clusters each
    # page's crops into one row, so the crops need no numbering window
    assert _count(tree) == {
        "Exchange": 2, "Sort": 1, "Window": 1, "MapInArrow": 1,
        "Generate": 1,
    }
    # the tree below the stage and the details of its nodes, which are
    # numbered before it
    below = _formatted(df).split("MapInArrow")[1]
    assert "ObjectHashAggregate" in below and "row_number" not in below
