"""Per-domain cap as ingest state: incrementally maintained per-group
k-smallest-hash candidate sets.

The batch quota (operators/sampling.py:group_cap_sample) ranks the
whole corpus per call; a sharded ingest that wants the capped corpus
after every arriving batch cannot re-rank history. The algebra that
makes the incremental cap EXACT: the kept set is each group's ``cap``
smallest rows by ``(md5('c|'||id), id)``, and top-k-smallest is a
mergeable summary — the global top-k of a union is contained in the
union of per-member top-k's. So the only state needed is:

- ``cells/`` — (g, doc_id, _h): each batch's per-group top-``cap``
  candidates over ITS documents. Per-batch work is one bounded rank
  over the batch (output ≤ groups × cap rows); history is never
  re-hashed.

The capped corpus is derived at query time by ranking the merged
candidate cells — a window over ≤ batches × groups × cap rows, never
over documents. Duplicate delivery is absorbed exactly: the same
document re-arriving carries the same (g, doc_id, _h) triple and the
query dedups on (g, doc_id) before ranking, so overlapping waves
cannot crowd out a distinct survivor (the MIN-idempotence stance of
overlap_ingest, applied to a k-MIN summary).

Equivalence contract: after draining any sequence of waves,
``query_capped`` returns EXACTLY ``group_cap_sample(all drained docs,
...).select(group, doc_id)`` — pinned by tests/test_cap_ingest.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import Rows, drain, read_state

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

CELLS = Rows("cells", "g string, doc_id long, _h string")
SPEC = (CELLS,)

_SALT = "c|"


def _hash_col(id_col: str):
    return F.md5(F.concat(F.lit(_SALT), F.col(id_col).cast("string")))


def run_incremental_cap(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    cap: int,
    schema: T.StructType | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> None:
    """Drain ``input_path`` (JSON-lines doc files) into the candidate
    state under ``work_dir`` (cells/, ckpt/). Each batch contributes
    at most ``cap`` rows per group it touches."""

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        cand = (
            batch_df.select(
                F.col(group_col).alias("g"),
                F.col(id_col).alias("doc_id"),
                _hash_col(id_col).alias("_h"),
            )
            # dedup BEFORE the rank: a document delivered twice inside
            # one batch would otherwise occupy two of the group's cap
            # ranks and crowd out a distinct survivor (the query-time
            # dedup only heals duplicates across batches)
            .dropDuplicates(["g", "doc_id"])
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("g").orderBy("_h", "doc_id")
                ),
            )
            .filter(F.col("_rn") <= int(cap))
            .drop("_rn")
        )
        commit("cells", cand)

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def query_capped(
    spark: SparkSession, work_dir: str, cap: int
) -> DataFrame:
    """The capped corpus over everything drained so far: rank the
    merged candidate cells — identical (hash, id) semantics to the
    batch ``group_cap_sample`` — and keep each group's ``cap``
    smallest. Returns ``(g, doc_id)``.

    Plan: the window runs over the state (≤ batches × groups × cap
    rows after the (g, doc_id) dedup), never over documents; nothing
    re-reads raw text."""
    state = read_state(spark, work_dir, CELLS)
    w = Window.partitionBy("g").orderBy("_h", "doc_id")
    return (
        state.dropDuplicates(["g", "doc_id"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(cap))
        .select("g", "doc_id")
    )
