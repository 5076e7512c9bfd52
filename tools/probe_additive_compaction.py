"""Scale probe for additive-cell chain compaction (VERDICT r8 #2).

Every additive ingest family sums ALL ``batch_id=`` partitions at
readout, so readout cost tracks DRAIN COUNT, not state size — fine at
3 drains, linear pain at 10⁴⁻⁵ micro-batches. ``compact_additive_cells``
folds the chain into the newest partition between drains; because cell
addition is associative integer math the folded readout is
bit-identical (pinned by tests/test_state_maintenance.py) while its
cost returns to the cell-space bound.

Readout cost depends only on the state LAYOUT (the drains themselves
are proven equivalent by tests/test_value_ingest.py), so this probe
fabricates the ``batch_id=`` chain directly — the same per-batch cell
relations a drain writes, just without paying 2×N streaming drains of
wall-clock — and times the MAD readout at growing chain lengths
against the folded single-partition state with identical totals. A
first run at 20 REAL drains (streaming path) showed the linear term
still hiding under fixed job overhead; the direct layout reaches the
chain lengths where it dominates.

Run:  python tools/probe_additive_compaction.py [groups] [values] [max_chain]
Prints one markdown row per measured chain length, then the fold time.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from music_streaming_data_pipeline_v2_spark.session import get_spark


def main() -> None:
    from pyspark.sql import functions as F

    from music_streaming_data_pipeline_v2_spark.streaming.state import (
        compact_additive_cells,
    )
    from music_streaming_data_pipeline_v2_spark.streaming.value_ingest import (
        query_mad_stats,
    )

    groups = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    values = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    max_chain = int(sys.argv[3]) if len(sys.argv) > 3 else 200
    spark = get_spark("probe_compact", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="probe_compact_")
    work = os.path.join(root, "work")
    cells_dir = os.path.join(work, "cells")

    # one batch's cell relation: every (grp, centi-value) pair with a
    # small count — the shape a value_ingest drain writes
    batch_cells = (
        spark.range(groups * values)
        .select(
            F.concat(F.lit("g"), (F.col("id") % groups)).alias("grp"),
            (F.col("id") / groups).cast("long").alias("v"),
            F.lit(3).cast("long").alias("cnt"),
        )
        # a real drain's cell write comes out of a groupBy — several
        # shuffle-partition files per batch_id dir, not one
        .repartition(4)
        .localCheckpoint(eager=True)
    )

    print(
        f"groups={groups} values={values} max_chain={max_chain} "
        f"loadavg={os.getloadavg()}"
    )
    print("| chain parts | readout s (min of 2) |")
    print("|---|---|")
    marks = [m for m in (1, 10, 50, 100, 200, 400) if m <= max_chain]
    written = 0
    for mark in marks:
        while written < mark:
            batch_cells.write.mode("overwrite").parquet(
                os.path.join(cells_dir, f"batch_id={written}")
            )
            written += 1
        ts = []
        for _ in range(2):
            t0 = time.monotonic()
            query_mad_stats(spark, work).count()
            ts.append(time.monotonic() - t0)
        print(f"| {mark} | {round(min(ts), 3)} |", flush=True)

    t0 = time.monotonic()
    compact_additive_cells(
        spark,
        cells_dir,
        "grp string, v long, cnt long",
        key_cols=["grp", "v"],
        sum_cols=["cnt"],
        # fabricated chain, no stream: an absent checkpoint passes
        ckpt_dir=os.path.join(work, "ckpt"),
    )
    fold_s = round(time.monotonic() - t0, 3)
    time.sleep(10)  # let the fold's GC/page-cache churn settle
    ts = []
    for _ in range(3):
        t0 = time.monotonic()
        query_mad_stats(spark, work).count()
        ts.append(time.monotonic() - t0)
    print(
        f"folded: 1 partition, readout {round(min(ts), 3)} s "
        f"(fold itself {fold_s} s, one-time between drains)"
    )
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
