"""DSIR-at-ingest: incrementally maintained importance-weight state.

Batch DSIR (operators/sampling.py:dsir_importance) re-featurizes the
whole raw pool per call; a curation pipeline that scores documents as
they arrive cannot — each micro-batch must fold into state without
re-reading history. The observation that makes this exact rather than
approximate: a document's log-weight is a pure function of its own
bucket-count vector and the two GLOBAL bucket distributions, and the
global raw distribution is itself just the sum of the per-doc vectors.
So the only state needed is:

- ``docbuckets/`` — (doc_id, bkt, cnt): each document's hashed-n-gram
  bucket counts. Per-batch work is featurizing THAT batch once;
  history is never re-scored at ingest.

The raw distribution is ONE 256-row aggregate over that state at
query time (the index_ingest.py stance: derived statistics are not
stored, so the ingest path stays append-only, replays stay idempotent,
and the statistics are always exactly consistent with the state). The
target corpus is a fixture, not a stream — its distribution is
computed per query call.

Equivalence contract: after draining any sequence of waves,
``query_dsir_scores`` over the accumulated state returns EXACTLY what
``dsir_importance`` returns over the concatenation of all drained
documents (integer-sum arithmetic on both paths; the per-occurrence
sum Σ lr equals the per-bucket sum Σ cnt·lr) — the property
tests/test_dsir_ingest.py pins. The streaming layer's correctness
thereby inherits dsir_importance's DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import Cells, drain, read_state

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_NUM_BUCKETS = 256


#: Docs arrive once (the family's disjoint-arrival contract, the same
#: one the readout's plain union relies on), so (doc, bucket) cells
#: never repeat across batches: the sum fold is the identity on
#: content and compaction only collapses the partition chain.
DOCBUCKETS = Cells(
    "docbuckets",
    "doc_id long, bkt int, cnt long",
    ("doc_id", "bkt"),
    {"cnt": "sum"},
)
SPEC = (DOCBUCKETS,)


def run_incremental_dsir(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
) -> None:
    """Drain ``input_path`` (JSON-lines doc files: doc_id, text) into
    the DSIR state under ``work_dir`` (docbuckets/, ckpt/)."""
    from ..operators.sampling import _dsir_feature_buckets

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        commit(
            "docbuckets",
            _dsir_feature_buckets(batch_df, "text", "doc_id", _NUM_BUCKETS)
            .groupBy("_doc", "bkt")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("_doc").alias("doc_id"), "bkt", "cnt"),
        )

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def query_dsir_scores(
    spark: SparkSession,
    work_dir: str,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Importance weights over every document drained so far —
    identical arithmetic (and the same scaled-BIGINT log-ratio table,
    via the shared ``dsir_log_ratio``) as ``dsir_importance``, but
    reading the stored bucket vectors instead of re-featurizing the
    corpus. Returns ``(id, n_feats, log_weight)``.

    Plan: the raw distribution is one 256-group aggregate over the
    state; the target distribution is featurized from the (small)
    target fixture; scoring is a 256-row broadcast join + a doc-keyed
    integer-sum aggregate. Nothing re-reads raw TEXT — at 100 TB the
    state is the compressed (doc, bkt, cnt) relation, bucket-prunable
    and a fraction of the corpus it summarizes."""
    from ..operators.sampling import _dsir_feature_buckets, dsir_log_ratio

    # an undrained (or all-empty-batches) state is a legitimate
    # "nothing scored yet" relation, not a crash
    db = read_state(spark, work_dir, DOCBUCKETS)
    r_cnt = db.groupBy("bkt").agg(F.sum("cnt").alias("rc"))
    t_cnt = (
        _dsir_feature_buckets(target, text_col, id_col, _NUM_BUCKETS)
        .groupBy("bkt")
        .agg(F.count("*").alias("tc"))
    )
    lr = dsir_log_ratio(r_cnt, t_cnt, _NUM_BUCKETS)
    return (
        db.join(F.broadcast(lr), "bkt")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("_lr_i")).alias("_sum"),
        )
        .select(
            F.col("doc_id").alias(id_col),
            "n_feats",
            (F.col("_sum").cast("double") / F.lit(1e9)).alias("log_weight"),
        )
    )
