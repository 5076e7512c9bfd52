from __future__ import annotations

import sys
from pathlib import Path
from typing import NamedTuple

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from music_streaming_data_pipeline_v2_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


class ScanFilters(NamedTuple):
    partition: list[str]  # PartitionFilters, as Catalyst expressions
    data: list[str]       # DataFilters, as Catalyst expressions
    pushed: list[str]     # PushedFilters, as data source filters


def scan_filters(df) -> ScanFilters:
    """The filters of every ``FileSourceScanExec`` in ``df``'s executed
    plan, read from the scan nodes themselves. The plan string cuts each
    filter list at ``spark.sql.maxMetadataStringLength`` characters, so a
    string search misses a filter past the cut."""
    out = ScanFilters([], [], [])
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "ReusedExchangeExec":
            stack.append(node.child())
        elif name == "FileSourceScanExec":
            for got, seq in (
                (out.partition, node.partitionFilters()),
                (out.data, node.dataFilters()),
                (out.pushed, node.pushedDownFilters()),
            ):
                got.extend(seq.apply(i).toString() for i in range(seq.size()))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out
