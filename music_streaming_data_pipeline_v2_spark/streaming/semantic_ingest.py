"""Semantic-dedup-at-ingest: an incrementally maintained leader index.

The batch operator (operators/similarity.py:semantic_dedup) rescans
the corpus; an ingest pipeline cannot — each arriving micro-batch of
embeddings must be deduplicated against everything KEPT so far without
re-scoring history. This is the online **leader clustering** form of
SemDeDup: the state is the set of accepted representatives
("leaders"), and a new vector is dropped iff it lies within the cosine
threshold of any earlier-accepted leader in its centroid cell.
History is never retroactively dropped — the keep-FIRST-ARRIVAL rule
replaces the batch operator's keep-lowest-id rule, exactly like
dedup_ingest's pairs always containing one NEW member. Within a
batch, arrival order is the ascending id order, so a replayed batch
makes identical decisions.

Shape per micro-batch (``foreachBatch``):

1. assign each new vector its centroid (broadcast codebook, the same
   map-only argmax as the batch operator — computed ONCE, stored);
2. fetch the cell's leaders (partition-pruned read of the leader
   store — state is written partitioned by ``centroid_id`` nested in
   ``batch_id``, so only touched cells are read);
3. per cell, one Arrow batch through ``applyInPandas``: score new
   vectors against the cell's leader matrix in id order, accepting
   greedily — the sequential dependency (a kept new vector becomes a
   leader for later new vectors in the same batch) lives inside one
   numpy kernel over one small cell, never across the cluster;
4. commit decisions and newly accepted leaders through the drain
   kernel (streaming/drain.py); the decisions are a pure function of
   the batch and the leaders committed before it, so a replay
   rewrites identical content.

Scale: per-batch work is Σ_cell (batch_cell × leaders_cell) dot
products — bounded by codebook granularity like the batch operator —
and the state read is pruned to the batch's touched cells. The
kernel is numpy matmul over float64; decisions are engine-internal
(no cross-engine replay needed — the streaming layer is proven by
replay tests, like dedup_ingest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import Rows, drain, read_state

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)

# _lead: this arrival becomes a leader (kept AND has a direction) —
# consumed for the leader-store append, not persisted into decisions
_KERNEL_SCHEMA = "vec_id long, centroid_id int, kept boolean, _lead boolean"


def _leader_kernel(threshold: float):
    """Per-cell greedy leader pass. Self-contained closure (pickle by
    value): rows flagged _leader are the cell's accepted history, the
    rest are this batch's arrivals in ascending vec_id order."""

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        leaders = pdf[pdf["_leader"]]
        new = pdf[~pdf["_leader"]].sort_values("vec_id")
        mat = (
            np.stack(leaders["embedding"].to_numpy())
            if len(leaders)
            else np.zeros((0, 0))
        )
        if mat.size:
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-300
            )
        out = []
        for vid, emb in zip(new["vec_id"], new["embedding"]):
            v = np.asarray(emb, dtype="float64")
            n = np.linalg.norm(v)
            if n == 0.0 or not np.isfinite(n):
                # zero-norm vectors have no direction: always kept,
                # never become leaders (batch-operator parity)
                out.append((vid, True, False))
                continue
            v = v / n
            hit = mat.size and bool((mat @ v >= threshold).any())
            out.append((vid, not hit, not hit))
            if not hit:
                mat = np.vstack([mat, v[None, :]]) if mat.size else v[None, :]
        cid = int(pdf["centroid_id"].iloc[0])
        # explicit dtypes: empty object-dtype columns break the Arrow
        # conversion even at 0 rows (see operators/frequency.py)
        return pd.DataFrame(
            {
                "vec_id": pd.Series([o[0] for o in out], dtype="int64"),
                "centroid_id": pd.Series([cid] * len(out), dtype="int32"),
                "kept": pd.Series([bool(o[1]) for o in out], dtype="bool"),
                "_lead": pd.Series([bool(o[2]) for o in out], dtype="bool"),
            }
        )

    return kernel


LEADERS = Rows(
    "leaders", "vec_id long, embedding array<double>, centroid_id int"
)
DECISIONS = Rows("decisions", "vec_id long, centroid_id int, kept boolean")
SPEC = (LEADERS, DECISIONS)


def run_incremental_semantic_dedup(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    schema: T.StructType | None = None,
) -> None:
    """Drain ``input_path`` (JSON-lines embedding files: vec_id,
    embedding) through the incremental leader index under ``work_dir``
    (leaders/, decisions/, ckpt/)."""
    from ..operators.similarity import assign_centroid

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        batch = (
            assign_centroid(batch_df, centroids, "embedding")
            .select("vec_id", "embedding", "centroid_id")
            .localCheckpoint()
        )
        # touched cells only — the collect is ≤ n_centroids ints
        cells = [
            r["centroid_id"]
            for r in batch.select("centroid_id").distinct().collect()
        ]
        # the leader read directory-prunes to the touched cells (state
        # is nested centroid_id partitions under each batch_id=)
        old = read_state(spark, work_dir, LEADERS, batch_id).filter(
            F.col("centroid_id").isin(cells)
        )
        union = old.withColumn("_leader", F.lit(True)).unionByName(
            batch.withColumn("_leader", F.lit(False))
        )
        decisions = (
            union.groupBy("centroid_id")
            .applyInPandas(_leader_kernel(threshold), _KERNEL_SCHEMA)
            .localCheckpoint()  # one evaluation feeds both writes below
        )
        commit("decisions", decisions.drop("_lead"))
        new_leaders = batch.join(
            decisions.filter("_lead").select("vec_id"), "vec_id"
        ).select("vec_id", "embedding", "centroid_id")
        # nested centroid_id partitions: the next batch's leader read
        # directory-prunes to its touched cells. A batch may accept no
        # leaders at all (e.g. every vector zero-norm) — skip the
        # write then, so the store never holds a data-less partition
        # (ADVICE r4). decisions is localCheckpointed, so the isEmpty
        # probe reuses the evaluated batch rather than recomputing.
        if not new_leaders.isEmpty():
            commit("leaders", new_leaders, partition_by=["centroid_id"])

    drain(spark, input_path, work_dir, schema or VEC_SCHEMA, batch_fn)
