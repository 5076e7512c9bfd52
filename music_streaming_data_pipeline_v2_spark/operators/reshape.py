"""Wide→long unpivot and composite-key KV projection (reference R1/R2, F9).

Reference: driver-side ``iterrows`` loops build DynamoDB items — O(n)
single-core Python (reference glue_jobs/dynamodb-ingestion.py:46-131).
Here the same reshapes are pure DataFrame ops (distributed, codegen'd):

- R1: each genre_kpis row → 4 metric records. A row loop in the
  reference; a ``stack`` unpivot here (dynamodb-ingestion.py:57-62).
- R2: top_songs / top_genres rows → one KV item each — a projection with
  ``concat_ws``-built keys (dynamodb-ingestion.py:88-99, 115-124).
- F9 key formats preserved exactly:
    pk = ``GENRE#{genre}#DATE#{date}``   sk = ``METRIC#{metric_type}``
    pk = ``GENRE#{genre}#DATE#{date}``   sk = ``SONG#{rank}#{track_id}``
    pk = ``DATE#{date}``                 sk = ``GENRE_RANK#{rank}``
- F5/F10: numeric attrs stringified (str(v) in the reference,
  cast('string') here).

The unified ``kv`` relation (union of the three) is the serving table;
operators/serving.py implements the 9 DynamoDB query patterns over it.
The kv table is written partitioned by ``date`` and sorted by (pk, sk)
within files. Each projection takes ``date`` from the same value it puts
in the pk, so serving derives the partition predicate from the pk and a
lookup becomes a one-day, row-group-skipping scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import date_pk, genre_date_pk, genre_rank_sk, metric_sk, song_sk


def unpivot_kpis(
    kpis: DataFrame,
    id_cols: list[str],
    metric_cols: list[str],
    key_col: str = "metric_type",
    value_col: str = "value",
) -> DataFrame:
    """R1: wide→long melt via the native unpivot (stack) operator.

    Generalizes dynamodb-ingestion.py:57-62 (4 hardcoded metrics) to any
    metric list. Values are stringified like the reference's ``str(v)``.
    """
    stringified = kpis.select(
        *id_cols, *[F.col(c).cast("string").alias(c) for c in metric_cols]
    )
    return stringified.unpivot(id_cols, metric_cols, key_col, value_col)


def genre_kpis_to_kv(genre_kpis: DataFrame) -> DataFrame:
    """R1 + F9: genre_kpis → METRIC# KV records
    (dynamodb-ingestion.py:46-79). Output: 4 rows per input row."""
    metrics = [
        "listen_count",
        "unique_listeners",
        "total_listening_time_ms",
        "avg_listening_time_ms",
    ]
    long = unpivot_kpis(
        genre_kpis, ["track_genre", "date"], metrics, "metric_type", "value"
    )
    return long.select(
        genre_date_pk("track_genre", "date").alias("pk"),
        metric_sk("metric_type").alias("sk"),
        F.col("value"),
        F.col("metric_type"),
        F.col("date").cast("string").alias("date"),
        F.col("track_genre").alias("genre"),
    )


def top_songs_to_kv(top_songs: DataFrame) -> DataFrame:
    """R2 + F9: top_songs → SONG# KV records
    (dynamodb-ingestion.py:81-106)."""
    return top_songs.select(
        genre_date_pk("track_genre", "date").alias("pk"),
        song_sk("rank", "track_id").alias("sk"),
        F.col("track_name").alias("song_name"),
        F.col("artists"),
        F.col("play_count").cast("string").alias("play_count"),
        F.col("rank").cast("string").alias("rank"),
        F.col("date").cast("string").alias("date"),
        F.col("track_genre").alias("genre"),
        F.lit("top_song").alias("record_type"),
    )


def top_genres_to_kv(top_genres: DataFrame) -> DataFrame:
    """R2 + F9: top_genres → GENRE_RANK# KV records
    (dynamodb-ingestion.py:108-131)."""
    return top_genres.select(
        date_pk("date").alias("pk"),
        genre_rank_sk("rank").alias("sk"),
        F.col("track_genre").alias("genre"),
        F.col("total_plays").cast("string").alias("total_plays"),
        F.col("rank").cast("string").alias("rank"),
        F.col("date").cast("string").alias("date"),
        F.lit("top_genre").alias("record_type"),
    )


def build_kv_table(
    genre_kpis: DataFrame, top_songs: DataFrame, top_genres: DataFrame
) -> DataFrame:
    """Union the three KV projections into one serving relation.

    Columns are aligned by name; attributes absent in a source are null
    (DynamoDB items simply lack them — a sparse single-table design).
    """
    a, b, c = (
        genre_kpis_to_kv(genre_kpis),
        top_songs_to_kv(top_songs),
        top_genres_to_kv(top_genres),
    )
    return a.unionByName(b, allowMissingColumns=True).unionByName(
        c, allowMissingColumns=True
    )
