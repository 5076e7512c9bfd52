"""End-to-end music pipeline semantics (reference transform job +
DynamoDB reshape), on a small synthetic music-schema dataset.

Property checks mirror SURVEY.md §5: inner-join containment, rank
uniqueness and K-bounds, unpivot row-count = 4× genre_kpis, KV key
formats, idempotent date recompute.
"""

from __future__ import annotations

import glob
import os
import re
from collections import Counter

import pyarrow.parquet as pq
import pytest
from conftest import scan_filters
from pyspark.sql import Row
from pyspark.sql import functions as F

from music_streaming_data_pipeline_v2_spark.operators.serving import (
    query_pk_prefix,
    query_pk_sk,
    query_pk_sk_between,
)
from music_streaming_data_pipeline_v2_spark.plans.music import (
    run_music_pipeline,
    write_music_outputs,
)


@pytest.fixture(scope="module")
def music(spark):
    songs = spark.createDataFrame(
        [
            Row(track_id=f"t{i}", track_name=f"name{i}", album_name="al",
                artists=f"artist{i}", duration_ms=100000 + i * 1000,
                track_genre="rock" if i % 2 == 0 else "jazz")
            for i in range(10)
        ]
    )
    users = spark.createDataFrame(
        [
            Row(user_id=str(u), user_name=f"u{u}", user_age=20 + u,
                user_country="US")
            for u in range(5)
        ]
    )
    streams = spark.createDataFrame(
        [
            Row(user_id=str(i % 5), track_id=f"t{i % 10}",
                listen_time=f"2024-06-{25 + (i % 2):02d} 10:{i % 60:02d}:00")
            for i in range(200)
        ]
        + [  # events referencing unknown dims → must be inner-join dropped
            Row(user_id="99", track_id="t0", listen_time="2024-06-25 10:00:00"),
            Row(user_id="0", track_id="zz", listen_time="2024-06-25 10:00:00"),
        ]
    ).withColumn("listen_time", F.to_timestamp("listen_time"))
    return run_music_pipeline(streams, songs, users)


def test_inner_join_drops_unknown(music):
    # 200 valid stream rows; the 2 unknown-key rows vanish (J1/J2 inner)
    assert music.enriched.count() == 200


def test_genre_kpis_shape_and_values(music):
    rows = {(r.track_genre, str(r.date)): r for r in music.genre_kpis.collect()}
    assert set(k[0] for k in rows) == {"rock", "jazz"}
    # even i → even track (rock) and day 25: all 100 rock plays on 06-25
    r = rows[("rock", "2024-06-25")]
    assert r.listen_count == 100
    assert r.unique_listeners == 5
    assert r.avg_listening_time_per_user == r.total_listening_time_ms / r.unique_listeners


def test_top_songs_bounds_and_rank_uniqueness(music):
    pdf = music.top_songs.toPandas()
    g = pdf.groupby(["track_genre", "date"])
    assert (g.size() <= 3).all()
    for _, grp in g:
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))


def test_top_genres_bounds(music):
    pdf = music.top_genres.toPandas()
    assert (pdf.groupby("date").size() <= 5).all()
    assert set(pdf["rank"]) <= {1, 2, 3, 4, 5}


def test_kv_unpivot_multiplicity_and_key_format(music):
    kv = music.kv.toPandas()
    n_kpis = music.genre_kpis.count()
    metric_rows = kv[kv.sk.str.startswith("METRIC#")]
    assert len(metric_rows) == 4 * n_kpis  # dynamodb-ingestion.py:57-62
    assert metric_rows.pk.str.match(r"^GENRE#[a-z]+#DATE#\d{4}-\d{2}-\d{2}$").all()
    song_rows = kv[kv.sk.str.startswith("SONG#")]
    assert song_rows.sk.str.match(r"^SONG#\d+#t\d+$").all()
    rank_rows = kv[kv.sk.str.startswith("GENRE_RANK#")]
    assert rank_rows.pk.str.match(r"^DATE#\d{4}-\d{2}-\d{2}$").all()


def test_serving_queries(music):
    kv = music.kv
    pk = "GENRE#rock#DATE#2024-06-25"
    metrics = query_pk_prefix(kv, pk, "METRIC#").collect()
    assert len(metrics) == 4
    one = query_pk_sk(kv, pk, "METRIC#listen_count").collect()
    assert len(one) == 1 and one[0].value == "100"
    top2 = query_pk_sk_between(kv, pk, "SONG#1#", "SONG#2#z").collect()
    assert {re.match(r"SONG#(\d)#", r.sk).group(1) for r in top2} == {"1", "2"}
    # only rock played on 06-25 (jazz plays all fall on 06-26)
    ranks = query_pk_sk_between(
        kv, "DATE#2024-06-25", "GENRE_RANK#1", "GENRE_RANK#2"
    ).collect()
    assert [r.genre for r in ranks] == ["rock"]


def test_process_date_filter(spark, music):
    # P6: recompute-one-day filter keeps only that date
    from music_streaming_data_pipeline_v2_spark.operators.enrich import enrich_streams

    streams = music.enriched.select("user_id", "track_id", "listen_time")
    songs = music.enriched.select(
        "track_id", "track_name", "track_genre", "artists", "duration_ms"
    ).dropDuplicates(["track_id"])
    users = music.enriched.select("user_id", "user_age", "user_country").dropDuplicates(
        ["user_id"]
    )
    one_day = enrich_streams(streams, songs, users, process_date="2024-06-25")
    assert one_day.select("date").distinct().collect()[0].date.isoformat() == "2024-06-25"


def test_kv_serving_pushdown_on_parquet(spark, music, tmp_path):
    """SCALE.md claim: serving predicates reach the Parquet scan as
    PushedFilters (EqualTo pk + StringStartsWith sk) when the kv
    relation is persisted as a table."""
    path = str(tmp_path / "kv")
    music.kv.write.mode("overwrite").parquet(path)
    kv = spark.read.parquet(path)
    q = query_pk_prefix(kv, "GENRE#rock#DATE#2024-06-25", "METRIC#")
    pushed = scan_filters(q).pushed
    assert "EqualTo(pk,GENRE#rock#DATE#2024-06-25)" in pushed
    assert "StringStartsWith(sk,METRIC#)" in pushed
    assert q.count() == 4


def test_write_music_outputs_one_pass(spark, music, tmp_path):
    base = str(tmp_path / "outs")
    write_music_outputs(music, base)
    kpis = spark.read.parquet(f"{base}/genre_kpis")
    kv = spark.read.parquet(f"{base}/kv")
    assert kpis.count() == music.genre_kpis.count()
    assert kv.count() == music.kv.count()
    # date-partitioned layout on disk
    assert any(d.startswith("date=") for d in os.listdir(f"{base}/genre_kpis"))
    assert any(d.startswith("date=") for d in os.listdir(f"{base}/kv"))
    # each kv file is sorted by (pk, sk)
    files = glob.glob(f"{base}/kv/date=*/*.parquet")
    assert files
    for f in files:
        keys = [(r["pk"], r["sk"]) for r in pq.read_table(f, columns=["pk", "sk"]).to_pylist()]
        assert keys == sorted(keys), f


def _tie_tables(spark):
    """Seven genres of four tracks, every track played twice a day on two
    days: the top-5 genres of a day and the top-3 songs of a genre-day
    are decided by the ``track_genre`` and ``track_id`` tie-breaks. One
    more play has no time."""
    songs = spark.createDataFrame(
        [
            Row(track_id=f"t{g}{j}", track_name=f"name{g}{j}", album_name="al",
                artists=f"artist{j}", duration_ms=100000 + 1000 * j,
                track_genre=f"g{g}")
            for g in range(7) for j in range(4)
        ]
    )
    users = spark.createDataFrame(
        [Row(user_id=str(u), user_name=f"u{u}", user_age=20 + u, user_country="US")
         for u in range(3)]
    )
    streams = spark.createDataFrame(
        [
            Row(user_id=str((g + j + n) % 3), track_id=f"t{g}{j}",
                listen_time=f"2024-06-{25 + d:02d} 1{n}:{g * 4 + j:02d}:00")
            for g in range(7) for j in range(4) for d in range(2) for n in range(2)
        ]
        # a play with no time forms a null-date group in every output
        + [Row(user_id="0", track_id="t00", listen_time=None)]
    ).withColumn("listen_time", F.to_timestamp("listen_time"))
    return streams, songs, users


@pytest.fixture(scope="module")
def music_ties(spark):
    return run_music_pipeline(*_tie_tables(spark))


def _bag_and_types(df, columns, as_types):
    """The rows of ``df`` over ``columns`` as a multiset, with each
    column cast to the type in ``as_types`` when given, plus its types."""
    df = df.select(*[F.col(c).cast(as_types[c]) if c in as_types else c for c in columns])
    return Counter(tuple(r) for r in df.collect()), [f.dataType for f in df.schema]


@pytest.mark.parametrize("fixture", ["music", "music_ties"])
def test_written_tables_equal_in_memory(spark, request, tmp_path, fixture):
    """Each table on disk equals its in-memory relation as a multiset,
    with the same column types: ``top_genres`` and ``kv`` are derived
    from the committed outputs, and both top-K tie-breaks run on the
    values read back."""
    music = request.getfixturevalue(fixture)
    base = str(tmp_path / "outs")
    write_music_outputs(music, base)
    for name in ("genre_kpis", "top_songs", "top_genres", "kv"):
        mem = getattr(music, name)
        disk = spark.read.parquet(f"{base}/{name}")
        # a partition column's type is inferred from its directory names
        # (a kv ``date`` string reads back as a date); its values are
        # compared in the in-memory type
        as_types = {"date": mem.schema["date"].dataType}
        got, got_types = _bag_and_types(disk, mem.columns, as_types)
        want, want_types = _bag_and_types(mem, mem.columns, {})
        assert got_types == want_types, name
        assert got == want, name
        assert sum(want.values()) > 0, name
    if fixture == "music_ties":
        # the ties reach the cut: 7 tied genres a day, 4 tied songs a genre-day
        ranked = spark.read.parquet(f"{base}/top_genres").where("rank = 5").collect()
        assert sorted(r.track_genre for r in ranked) == ["g4", "g4"]
        songs = spark.read.parquet(f"{base}/top_songs").where("rank = 3")
        assert {r.track_id[-1] for r in songs.collect()} == {"2"}


def _day_files(root):
    """``{day: {file name: mtime_ns}}`` of a date-partitioned table."""
    return {
        d: {f: os.stat(os.path.join(root, d, f)).st_mtime_ns
            for f in os.listdir(os.path.join(root, d))}
        for d in os.listdir(root) if d.startswith("date=")
    }


def _one_day_rewrite(spark, tmp_path):
    """A 3-day backfill, then a 1-day backfill with changed plays on the
    middle day into the same directory; checks that only that day's
    files changed in each of the four tables."""
    songs = spark.createDataFrame(
        [Row(track_id=f"t{i}", track_name=f"name{i}", album_name="al",
             artists=f"artist{i}", duration_ms=100000 + i * 1000,
             track_genre=f"g{i % 3}") for i in range(9)]
    )
    users = spark.createDataFrame(
        [Row(user_id=str(u), user_name=f"u{u}", user_age=20 + u, user_country="US")
         for u in range(4)]
    )

    def streams(n_per_day):
        return spark.createDataFrame(
            [Row(user_id=str(i % 4), track_id=f"t{(i * 7 + d) % 9}",
                 listen_time=f"2024-06-{24 + d:02d} 10:{i % 60:02d}:00")
             for d, n in enumerate(n_per_day) for i in range(n)]
        ).withColumn("listen_time", F.to_timestamp("listen_time"))

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    base = str(tmp_path / "outs")
    write_music_outputs(run_music_pipeline(streams([40, 50, 60]), songs, users), base)
    tables = ("genre_kpis", "top_songs", "top_genres", "kv")
    before = {t: _day_files(f"{base}/{t}") for t in tables}
    assert all(len(days) == 3 for days in before.values())

    # the recompute sees fewer plays on 06-25, so its rows change
    day = "2024-06-25"
    redo = run_music_pipeline(streams([40, 20, 60]), songs, users, process_date=day)
    write_music_outputs(redo, base)
    assert cache.isEmpty()

    for t in tables:
        after = _day_files(f"{base}/{t}")
        assert after.keys() == before[t].keys()
        for d in after:
            if d == f"date={day}":
                assert not set(after[d]) & set(before[t][d]), (t, d)
            else:
                assert after[d] == before[t][d], (t, d)
    got, got_types = _bag_and_types(
        spark.read.parquet(f"{base}/kv").where(F.col("date") == day),
        redo.kv.columns, {"date": "string"},
    )
    want, want_types = _bag_and_types(redo.kv, redo.kv.columns, {})
    assert got_types == want_types
    assert got == want
    plays = spark.read.parquet(f"{base}/genre_kpis").where(F.col("date") == day)
    assert plays.agg(F.sum("listen_count")).first()[0] == 20


def test_one_day_rewrite_replaces_only_that_day(spark, tmp_path):
    """A one-day backfill into a directory that holds three days reads
    back and rewrites only that day's partitions of each table, and
    leaves no cached relation behind."""
    _one_day_rewrite(spark, tmp_path)


def test_one_day_rewrite_under_static_overwrite_conf(spark, tmp_path):
    """The same one-day rewrite in a session left at Spark's default
    ``partitionOverwriteMode`` (static), under which a plain overwrite
    of one day would truncate every other day: each music write sets
    the dynamic mode itself."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        _one_day_rewrite(spark, tmp_path)
    finally:
        spark.conf.set(key, old)
