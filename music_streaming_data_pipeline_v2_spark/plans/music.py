"""The reference's transform job as one composed DataFrame plan, and its
KV load from the committed outputs.

Mirrors glue_jobs/music-streaming-transform.py:187-210 (load → enrich →
three KPI pipelines → save) with the anti-patterns removed:

- no diagnostic ``count()`` actions — the reference burns seven
  (music-streaming-transform.py:43-51, 87, 108, 132, 156). The outputs
  are lazy plans; nothing runs until an action.
- no ``coalesce(1)`` writes — outputs keep natural partitioning or are
  partitioned by date (io/sinks.py).
- deterministic top-K ordering — ``row_number`` tie-broken by item key
  (operators/topk.py), where the reference's ties are arbitrary.

``write_music_outputs`` runs the history lineage only for the two
outputs that need it, ``genre_kpis`` and ``top_songs``. It then derives
``top_genres`` and the ``kv`` table from the committed partitions of the
dates those writes produced, as the reference's KV load reads the
transform's parquet outputs (SURVEY.md §3.3,
dynamodb-ingestion.py:24-44, 169-191). With two consumers of the
enrichment left, caching it costs more than the second scan+join it
would save, so nothing is cached.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import daily_genre_kpis, plays_per_item
from ..io.sinks import write_partitioned, write_partitioned_audited
from ..operators.enrich import enrich_streams
from ..operators.reshape import build_kv_table
from ..operators.topk import top_k_per_group


@dataclass
class MusicKpiOutputs:
    enriched: DataFrame
    genre_kpis: DataFrame
    top_songs: DataFrame
    top_genres: DataFrame
    kv: DataFrame


def rank_genres(genre_kpis: DataFrame) -> DataFrame:
    """Top-5 genres per date by plays (reference A4/W2).

    A4 is the same grain as A1's listen_count, so it is read off
    ``genre_kpis`` instead of recomputed from the plays
    (music-streaming-transform.py:145-147 recomputes).
    """
    genre_totals = genre_kpis.select(
        "track_genre", "date", F.col("listen_count").alias("total_plays")
    )
    return top_k_per_group(
        genre_totals,
        partition_cols=["date"],
        order_col="total_plays",
        k=5,
        tie_break_cols=["track_genre"],
    ).select("date", "rank", "track_genre", "total_plays")


def run_music_pipeline(
    streams: DataFrame,
    songs: DataFrame,
    users: DataFrame,
    process_date: str | None = None,
    approx_distinct: bool = False,
) -> MusicKpiOutputs:
    """Build the full KPI plan; nothing is executed until an action."""
    enriched = enrich_streams(streams, songs, users, process_date=process_date)
    genre_kpis = daily_genre_kpis(enriched, approx_distinct=approx_distinct)

    song_counts = plays_per_item(
        enriched, ["track_genre", "date", "track_id", "track_name", "artists"]
    )
    top_songs = top_k_per_group(
        song_counts,
        partition_cols=["track_genre", "date"],
        order_col="play_count",
        k=3,
        tie_break_cols=["track_id"],
    ).select(
        "track_genre", "date", "rank", "track_id", "track_name", "artists", "play_count"
    )

    top_genres = rank_genres(genre_kpis)
    kv = build_kv_table(genre_kpis, top_songs, top_genres)
    return MusicKpiOutputs(enriched, genre_kpis, top_songs, top_genres, kv)


def write_music_outputs(
    outputs: MusicKpiOutputs, base_dir: str, partition_by_date: bool = True
) -> None:
    """Write the four result tables under ``base_dir``, in this order:

    1. ``genre_kpis`` from the history lineage; the dates it wrote are
       collected on the write's own pass (``observe``).
    2. ``top_songs`` from the history lineage.
    3. ``top_genres``, ranked from the committed ``genre_kpis`` of those
       dates.
    4. ``kv``, built from the committed ``genre_kpis``, ``top_songs`` and
       ``top_genres`` of those dates and sorted by (pk, sk) within files
       so serving predicates skip row groups. The sort leads with the
       partition column: a partitioned write sorts its rows by ``date``
       unless they already are, and that sort would replace a
       (pk, sk) one.

    Derived tables read back exactly the dates step 1 wrote, so a
    one-day recompute into an existing ``base_dir`` reads and replaces
    one day: date-partitioned outputs are dynamic partition overwrites.
    Each read back uses the output's own schema, so no parquet footer
    is opened to infer it. The reference recomputes everything per
    output (music-streaming-transform.py:162-185).
    """
    spark = outputs.genre_kpis.sparkSession
    part = ["date"] if partition_by_date else None
    paths = {
        name: os.path.join(base_dir, name)
        for name in ("genre_kpis", "top_songs", "top_genres", "kv")
    }
    audit = write_partitioned_audited(
        outputs.genre_kpis,
        paths["genre_kpis"],
        part,
        null_check_cols=["date"],
        extra_metrics={"dates_written": F.collect_set("date")},
    )
    written = F.col("date").isin(audit["dates_written"])
    if audit["null_date"]:  # a null listen_time makes a null-date group
        written = written | F.col("date").isNull()
    write_partitioned(outputs.top_songs, paths["top_songs"], part)

    def committed(name: str, df: DataFrame) -> DataFrame:
        return spark.read.schema(df.schema).parquet(paths[name]).where(written)

    genre_kpis = committed("genre_kpis", outputs.genre_kpis)
    write_partitioned(rank_genres(genre_kpis), paths["top_genres"], part)
    kv = build_kv_table(
        genre_kpis,
        committed("top_songs", outputs.top_songs),
        committed("top_genres", outputs.top_genres),
    ).sortWithinPartitions(*(part or []), "pk", "sk")
    write_partitioned(kv, paths["kv"], part)
