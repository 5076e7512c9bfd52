"""Date-pruned KV lookups (operators/serving.py).

Every lookup adds ``CAST(date AS STRING) = pk_date(pk)`` to its key
condition. That predicate must be implied by ``pk = :pk``, so each
pruned lookup has to equal the plain pk/sk filter — on the
date-partitioned kv written to disk (``date`` reads back as DateType)
and on the in-memory ``build_kv_table`` relation (``date`` is a string).
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from music_streaming_data_pipeline_v2_spark.functions.scalar import (
    date_pk,
    genre_date_pk,
    pk_date,
)
from music_streaming_data_pipeline_v2_spark.operators.serving import (
    query_pk_prefix,
    query_pk_sk,
    query_pk_sk_between,
)
from music_streaming_data_pipeline_v2_spark.plans.music import (
    run_music_pipeline,
    write_music_outputs,
)

_GENRES = ["rock", "hip#hop", "jazz"]
_DAYS = ["2024-06-24", "2024-06-25", "2024-06-26"]


@pytest.fixture(scope="module")
def kvs(spark, tmp_path_factory):
    songs = spark.createDataFrame(
        [
            Row(track_id=f"t{i}", track_name=f"name{i}", album_name="al",
                artists=f"artist{i}", duration_ms=100000 + i * 1000,
                track_genre=_GENRES[i % 3])
            for i in range(9)
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
            Row(user_id=str(i % 5), track_id=f"t{i % 9}",
                listen_time=f"{_DAYS[(i // 7) % 3]} 10:{i % 60:02d}:00")
            for i in range(240)
        ]
    ).withColumn("listen_time", F.to_timestamp("listen_time"))
    music = run_music_pipeline(streams, songs, users)
    base = str(tmp_path_factory.mktemp("outs"))
    write_music_outputs(music, base)
    return {"memory": music.kv, "disk": spark.read.parquet(f"{base}/kv")}


# (pk, sk prefix, exact sk, sk range, rows expected)
_CASES = {
    "genre_day": (
        "GENRE#rock#DATE#2024-06-25", "SONG#", "METRIC#listen_count",
        ("METRIC#", "SONG#9"), True,
    ),
    "genre_with_hash": (
        "GENRE#hip#hop#DATE#2024-06-26", "METRIC#", "METRIC#unique_listeners",
        ("SONG#1#", "SONG#2#z"), True,
    ),
    "date_only": (
        "DATE#2024-06-24", "GENRE_RANK#", "GENRE_RANK#1",
        ("GENRE_RANK#1", "GENRE_RANK#3"), True,
    ),
    "absent_day": (
        "GENRE#rock#DATE#2030-01-01", "", "METRIC#listen_count",
        ("A", "z"), False,
    ),
    "no_date": ("GENRE#rock", "", "METRIC#listen_count", ("A", "z"), False),
    "malformed_day": ("DATE#not-a-date", "", "GENRE_RANK#1", ("A", "z"), False),
}


def _bag(df):
    return Counter(tuple(r) for r in df.collect())


@pytest.mark.parametrize("relation", ["disk", "memory"])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_pruned_lookup_equals_plain_filter(kvs, relation, case):
    kv = kvs[relation]
    pk, prefix, exact, (lo, hi), hits = _CASES[case]
    on_pk = kv.filter(F.col("pk") == pk)
    shapes = [
        (query_pk_prefix(kv, pk, prefix), on_pk.filter(F.col("sk").startswith(prefix))),
        (query_pk_sk(kv, pk, exact), on_pk.filter(F.col("sk") == exact)),
        (query_pk_sk_between(kv, pk, lo, hi), on_pk.filter(F.col("sk").between(lo, hi))),
    ]
    for pruned, plain in shapes:
        got = _bag(pruned)
        assert got == _bag(plain)
        assert bool(got) == hits
        if relation == "disk":
            plan = pruned._jdf.queryExecution().executedPlan().toString()
            date_filtered = "PartitionFilters: []" not in plan
            assert date_filtered == (pk_date(pk) is not None)


def test_pk_date_parses_fields():
    assert pk_date("GENRE#rock#DATE#2024-06-25") == "2024-06-25"
    assert pk_date("GENRE#a#DATE#b#DATE#2024-06-25") == "2024-06-25"
    assert pk_date("DATE#not-a-date") == "not-a-date"
    # concat_ws drops a null day, leaving a trailing DATE field
    assert pk_date("GENRE#x#DATE#y#DATE") is None
    assert pk_date("DATE") is None
    assert pk_date("DATE#") is None
    assert pk_date("GENRE#rock") is None
    assert pk_date("UPDATE#2024-06-25") is None


_genre = st.one_of(
    st.none(),
    st.text(st.sampled_from("ab#DATE-1"), max_size=12),
    st.text(st.characters(blacklist_categories=("Cs",)), max_size=8),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.tuples(_genre, st.one_of(st.none(), st.dates())), min_size=1, max_size=60
    )
)
def test_pk_date_inverts_key_builders(spark, keys):
    """The serving invariant: the day ``pk_date`` reads from a built pk
    is the string the producers write to ``date``, or None when the
    day is null (then no partition predicate is added)."""
    df = spark.createDataFrame(keys, "genre string, date date")
    rows = df.select(
        genre_date_pk("genre", "date").alias("gpk"),
        date_pk("date").alias("dpk"),
        F.col("date").cast("string").alias("day"),
    ).collect()
    for r in rows:
        assert pk_date(r.gpk) == r.day
        assert pk_date(r.dpk) == r.day
