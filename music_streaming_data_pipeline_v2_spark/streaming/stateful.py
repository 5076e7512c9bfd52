"""Custom stateful streaming operators (``applyInPandasWithState``).

Beyond the built-in windowed aggregations (X2/X5): arbitrary per-key
state machines over an unbounded stream. The example operator keeps a
running per-user listening total across micro-batches — the pattern
that generalizes to loyalty counters, fraud scores, or any accumulator
the built-in aggregates can't express.

Mechanics: Spark shuffles each micro-batch by the grouping key, hands
every key's rows to the kernel as Arrow-backed pandas frames along with
that key's persisted state (checkpoint-backed), and writes the state
back after the call — exactly-once per batch. State size is
O(active keys × state schema); use timeouts (``GroupStateTimeout``)
to expire idle keys at 100 TB key cardinalities.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_user_totals(
    stream: DataFrame,
    user_col: str = "user_id",
    measure_col: str = "duration_ms",
) -> DataFrame:
    """Per-user cumulative (event_count, measure_sum) across ALL
    micro-batches, emitted as an update row whenever the user appears
    in a batch.

    Output: (user_id, n_events, total_ms) — the totals *so far*.
    """

    def kernel(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n_events, total = state.get if state.exists else (0, 0)
        for pdf in batches:
            n_events += len(pdf)
            total += int(pdf[measure_col].sum())
        state.update((n_events, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n_events], "total_ms": [total]}
        )

    return stream.groupBy(user_col).applyInPandasWithState(
        kernel,
        outputStructType="user_id string, n_events long, total_ms long",
        stateStructType="n_events long, total_ms long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: at-least-once sources (Kafka redelivery,
    file replays) → exactly-once records downstream (X5 extension,
    SURVEY.md §2.10).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes the key's event time, so state is bounded by
    the key cardinality of one watermark horizon — unlike plain
    ``dropDuplicates`` on a stream, whose state grows without bound.
    The first arrival of each key is emitted; later replays within the
    horizon are dropped.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )

