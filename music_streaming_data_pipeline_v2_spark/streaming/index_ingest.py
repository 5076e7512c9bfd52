"""Retrieval-index-at-ingest: an incrementally maintained BM25 index.

Batch retrieval (operators/text.py:bm25_topk) re-tokenizes the corpus
per call; a serving index cannot — each arriving micro-batch of
documents must be folded into searchable state without re-reading
history. The state is the classic decomposition every incremental
search engine keeps, expressed as batch-partitioned Parquet relations
(the dedup_ingest.py layout contract):

- ``postings/``  — (token, doc_id, tf): the inverted index. Append-only;
  per-batch work is tokenizing THAT batch once.
- ``doclens/``   — (doc_id, dl): document lengths for BM25's length
  normalization.

Global statistics (N, Σdl, per-token df) are NOT stored — they are
one cheap aggregate over the state at query time, which keeps the
ingest path append-only (no read-modify-write races, replays stay
idempotent) and the statistics always exactly consistent with the
postings. At 100 TB the postings state is the thing to bucket by
token (co-locates query-time probes); df/N materialize into a
vocabulary-sized summary table refreshed per compaction, exactly like
the serving shapes in operators/serving.py.

Equivalence contract: after draining any sequence of waves,
``query_index`` over the accumulated state returns EXACTLY what
``bm25_topk`` returns over the concatenation of all drained documents
— the property tests/test_index_ingest.py pins. That makes the
streaming layer's correctness inherit bm25_topk's DuckDB oracle.
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


#: Disjoint-arrival contract (as the readout's union assumes): no
#: (doc, token) key repeats across batches, so the sum fold is
#: content-identity and compaction only collapses the partition chain.
POSTINGS = Cells(
    "postings",
    "doc_id long, token string, tf long",
    ("doc_id", "token"),
    {"tf": "sum"},
)
DOCLENS = Cells("doclens", "doc_id long, dl long", ("doc_id",), {"dl": "sum"})
SPEC = (POSTINGS, DOCLENS)


def run_incremental_index(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
) -> None:
    """Drain ``input_path`` (JSON-lines doc files: doc_id, text) into
    the BM25 index state under ``work_dir`` (postings/, doclens/,
    ckpt/)."""
    from ..operators.text import tokens

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        # tokenize the batch ONCE; both state relations derive from tf
        tok = batch_df.select(
            "doc_id",
            F.explode(F.transform(tokens("text"), F.lower)).alias("token"),
        )
        tf = tok.groupBy("doc_id", "token").agg(
            F.count("*").alias("tf")
        ).localCheckpoint()  # one evaluation feeds both writes
        commit("postings", tf)
        commit("doclens", tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")))

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def query_index(
    spark: SparkSession,
    work_dir: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """BM25 top-``k`` per query over the accumulated index state —
    identical scoring (and the same scaled-BIGINT summation) as
    ``bm25_topk``, but reading the stored postings instead of
    re-tokenizing the corpus. Returns (query_id, rank, doc_id, score).

    Plan: the broadcast query-token join prunes the postings scan to
    matching tokens; df comes from ONE aggregate over the pruned-side
    complement (token-keyed, vocabulary-sized); N/Σdl from the tiny
    doclens relation."""
    from pyspark.sql import Window

    from ..operators.text import tokens as _tokens

    # an undrained state is a legitimate "no results" relation, not a
    # crash
    tf = read_state(spark, work_dir, POSTINGS)
    dl_rel = read_state(spark, work_dir, DOCLENS)
    stats = dl_rel.groupBy().agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.transform(_tokens(query_text_col), F.lower)).alias("token"),
    ).distinct()
    # df only for tokens the queries actually probe (the docstring's
    # "pruned-side complement" — the previous full-vocabulary groupBy
    # aggregated every posting row; identical join result, and at scale
    # the aggregate is bounded by query tokens, not the vocabulary)
    dfreq = (
        tf.join(F.broadcast(qt.select("token").distinct()), "token")
        .groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
    )
    contrib = (
        "CAST(ROUND("
        "LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5)"
        " / (CAST(doc_freq AS DOUBLE) + 0.5))"
        f" * (CAST(tf AS DOUBLE) * ({k1!r} + 1.0))"
        f" / (CAST(tf AS DOUBLE) + {k1!r} * (1.0 - {b!r} + {b!r}"
        " * CAST(dl AS DOUBLE)"
        " / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        " * 1e9) AS BIGINT)"
    )
    scored = (
        tf.join(F.broadcast(qt), "token")
        .join(dfreq, "token")
        .join(dl_rel, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("_c", F.expr(contrib))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_c").alias("_score_i"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_score_i"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            (F.col("_score_i").cast("double") / F.lit(1e9)).alias("score"),
        )
    )
