"""KV lookups (operators/serving.py): the point path and the Catalyst
path.

The Catalyst path (``_key_condition``) adds ``CAST(date AS STRING) =
pk_date(pk)`` to its key condition. That predicate must be implied by
``pk = :pk``, so each pruned lookup has to equal the plain pk/sk filter —
on the date-partitioned kv written to disk (``date`` reads back as
DateType) and on the in-memory ``build_kv_table`` relation (``date`` is a
string). On the bare date-partitioned parquet scan, a pk that names a day
takes the point path instead: that day's files read with
``pyarrow.dataset`` into a LocalRelation, with no Spark job. Both paths
return what the plain filter returns, with the same schema.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from conftest import scan_filters
from pyspark.sql import functions as F

from music_streaming_data_pipeline_v2_spark.functions.scalar import (
    date_pk,
    genre_date_pk,
    pk_date,
)
from music_streaming_data_pipeline_v2_spark.operators.serving import (
    _key_condition,
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
    music.kv.write.parquet(f"{base}/kv_flat")
    return {
        "memory": music.kv,
        "disk": spark.read.parquet(f"{base}/kv"),
        "disk_path": f"{base}/kv",
        "flat": spark.read.parquet(f"{base}/kv_flat"),
    }


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


def _path(df) -> str:
    """Which path built a lookup: the point path returns a LocalRelation,
    the Catalyst path a Filter over ``kv``."""
    name = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
    return {"LocalRelation": "point", "Filter": "catalyst"}[name]


def _shapes(kv, pk, prefix, exact, lo, hi):
    """(public call, Catalyst path, plain pk/sk filter) per key shape."""
    on_pk = kv.filter(F.col("pk") == pk)
    sk = F.col("sk")
    return [
        (public, _key_condition(kv, pk, cond), on_pk.filter(cond))
        for public, cond in (
            (query_pk_prefix(kv, pk, prefix), sk.startswith(prefix)),
            (query_pk_sk(kv, pk, exact), sk == exact),
            (query_pk_sk_between(kv, pk, lo, hi), sk.between(lo, hi)),
        )
    ]


@pytest.mark.parametrize("relation", ["disk", "memory"])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_pruned_lookup_equals_plain_filter(kvs, relation, case):
    kv = kvs[relation]
    pk, prefix, exact, (lo, hi), hits = _CASES[case]
    point_path = relation == "disk" and pk_date(pk) is not None
    for public, pruned, plain in _shapes(kv, pk, prefix, exact, lo, hi):
        got = _bag(public)
        assert got == _bag(pruned) == _bag(plain)
        assert public.schema == pruned.schema == plain.schema == kv.schema
        assert bool(got) == hits
        assert _path(public) == ("point" if point_path else "catalyst")
        if relation == "disk":
            date_filtered = any("date" in f for f in scan_filters(pruned).partition)
            assert date_filtered == (pk_date(pk) is not None)
            plan = public._jdf.queryExecution().executedPlan()
            is_local = plan.getClass().getSimpleName() == "LocalTableScanExec"
            assert is_local == point_path


def test_point_lookup_reads_past_zero_row_batches(spark, tmp_path):
    """A day written as several files where the pk's rows sit only in
    the last row group of one file: the Arrow scan yields zero-row
    batches before them, and createDataFrame(pa.Table) stops at the first
    zero-row batch after the first batch. The row groups before the key's
    span it in their pk statistics, so none is skipped, and the file
    yields those empty batches whatever order the listing gives."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    day = tmp_path / "kv" / "date=2024-06-25"
    day.mkdir(parents=True)
    for i, genres in enumerate([["a", "e"], ["b", "d"], ["a", "e", "a", "e", "c"]]):
        pks = [f"GENRE#{g}#DATE#2024-06-25" for g in genres for _ in range(3)]
        pq.write_table(
            pa.table({"pk": pks, "sk": [f"SONG#{n % 3}" for n in range(len(pks))],
                      "value": [str(n) for n in range(len(pks))]}),
            day / f"part-{i}.parquet",
            row_group_size=6,
        )
    kv = spark.read.parquet(str(tmp_path / "kv"))
    pk = "GENRE#c#DATE#2024-06-25"
    for public, _, plain in _shapes(kv, pk, "SONG#", "SONG#2", "SONG#1", "SONG#2"):
        assert _path(public) == "point"
        assert _bag(public) == _bag(plain)
        assert public.count() > 0


def test_point_lookup_runs_no_spark_job(spark, kvs):
    # a fresh read, so the file listing of the first lookup is counted too
    kv = spark.read.parquet(kvs["disk_path"])
    sc = spark.sparkContext
    group = "serving-point-lookup"
    sc.setJobGroup(group, "point lookups")
    try:
        for case in ("genre_day", "genre_with_hash", "date_only", "absent_day"):
            pk, prefix, exact, (lo, hi), _ = _CASES[case]
            for public, _, _ in _shapes(kv, pk, prefix, exact, lo, hi):
                public.collect()
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize(
    "relation", ["memory", "select_star", "filtered", "flat", "no_day"]
)
def test_fallback_keeps_the_catalyst_path(kvs, relation):
    pk, prefix, exact, (lo, hi), _ = _CASES["genre_day"]
    kv = {
        "memory": kvs["memory"],
        "select_star": kvs["disk"].select("*"),
        "filtered": kvs["disk"].filter(F.col("sk").isNotNull()),
        "flat": kvs["flat"],
        "no_day": kvs["disk"],
    }[relation]
    if relation == "no_day":
        pk = "GENRE#rock"
    for public, pruned, plain in _shapes(kv, pk, prefix, exact, lo, hi):
        assert _path(public) == "catalyst"
        assert _bag(public) == _bag(pruned) == _bag(plain)


def test_noncanonical_day_directory_keeps_the_catalyst_path(spark, tmp_path):
    """Read as DateType, ``date=2024-6-25`` holds the day 2024-06-25, whose
    ``CAST(date AS STRING)`` is not the directory name: keying files by
    directory would miss its rows, so the relation stays on Catalyst."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for d in ("2024-6-25", "2024-06-26"):
        (tmp_path / f"date={d}").mkdir()
        pq.write_table(
            pa.table({"pk": ["DATE#2024-06-25", "DATE#2024-06-26"], "sk": ["A", "B"]}),
            tmp_path / f"date={d}" / "part-0.parquet",
        )
    kv = spark.read.schema("pk string, sk string, date date").parquet(str(tmp_path))
    got = query_pk_sk_between(kv, "DATE#2024-06-25", "A", "Z")
    assert _path(got) == "catalyst"
    assert [tuple(r) for r in got.collect()] == [
        ("DATE#2024-06-25", "A", dt.date(2024, 6, 25))
    ]


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
