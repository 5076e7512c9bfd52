"""Structured Streaming incremental pipeline (reference S6-S10, X1-X7).

Exercises the exactly-once file protocol end-to-end with real files in
temp dirs: first batch processes file 1; adding file 2 and re-running
processes ONLY file 2 (checkpoint = manifest); outputs recompute
affected days idempotently; bad rows land in quarantine.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from music_streaming_data_pipeline_v2_spark.streaming import (
    incremental_new_files_batch,
    run_incremental_pipeline,
    stream_file_source,
    streaming_daily_kpis,
)
from pyspark.sql import types as T


@pytest.fixture()
def dims(spark):
    songs = spark.createDataFrame(
        [
            Row(track_id=f"t{i}", track_genre="rock" if i % 2 == 0 else "jazz",
                duration_ms=100000 + i)
            for i in range(4)
        ]
    )
    users = spark.createDataFrame([Row(user_id=str(u)) for u in range(3)])
    return songs, users


def _write_stream_csv(path: str, rows: list[str]) -> None:
    with open(path, "w") as f:
        f.write("user_id,track_id,listen_time\n")
        f.write("\n".join(rows) + "\n")


def test_incremental_exactly_once_and_recompute(spark, dims, tmp_path):
    songs, users = dims
    inp = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    arch = tmp_path / "archive"
    quar = tmp_path / "quarantine"
    inp.mkdir()

    _write_stream_csv(
        str(inp / "stream1.csv"),
        [
            "0,t0,2024-06-25 10:00:00",
            "1,t0,2024-06-25 11:00:00",
            "2,t1,2024-06-25 12:00:00",
            "0,t1,garbage-timestamp",  # → quarantine
        ],
    )
    # a file that must be ignored by the glob (P8 filename predicate)
    _write_stream_csv(str(inp / "other.csv"), ["9,t9,2024-06-25 10:00:00"])

    run_incremental_pipeline(
        spark, str(inp), songs, users,
        output_dir=str(out), checkpoint_dir=str(ckpt),
        archive_dir=str(arch), quarantine_dir=str(quar),
    )

    kpis = spark.read.parquet(str(out / "genre_kpis"))
    rows = {r.track_genre: r for r in kpis.collect()}
    assert rows["rock"].listen_count == 2  # t0 plays, bad row dropped
    assert rows["jazz"].listen_count == 1
    assert spark.read.parquet(str(quar)).count() == 1

    # batch 2: add one more file → ONLY it is processed (exactly-once)
    _write_stream_csv(
        str(inp / "stream2.csv"),
        ["1,t2,2024-06-25 13:00:00", "2,t2,2024-06-26 09:00:00"],
    )
    run_incremental_pipeline(
        spark, str(inp), songs, users,
        output_dir=str(out), checkpoint_dir=str(ckpt),
        archive_dir=str(arch), quarantine_dir=str(quar),
    )

    kpis2 = spark.read.parquet(str(out / "genre_kpis"))
    by_key = {(r.track_genre, str(r.date)): r for r in kpis2.collect()}
    # day 25 recomputed WITH the old data (3 rock plays now), day 26 new
    assert by_key[("rock", "2024-06-25")].listen_count == 3
    assert by_key[("rock", "2024-06-26")].listen_count == 1
    # validated store has 3 + 2 good rows exactly once
    validated = spark.read.parquet(str(out / "validated"))
    assert validated.count() == 5
    # quarantine unchanged (no new bad rows)
    assert spark.read.parquet(str(quar)).count() == 1


def test_backfill_many_dates_recomputes_every_day(spark, dims, tmp_path):
    """A backfill batch touching many dates recomputes every one of
    them, with the plays of each day counted once."""
    songs, users = dims
    inp = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    inp.mkdir()

    # one batch spanning 8 distinct days
    rows = [
        f"{u % 3},t{u % 4},2024-06-{10 + d:02d} 1{u}:00:00"
        for d in range(8)
        for u in range(2)
    ]
    _write_stream_csv(str(inp / "stream_backfill.csv"), rows)
    run_incremental_pipeline(
        spark, str(inp), songs, users,
        output_dir=str(out), checkpoint_dir=str(ckpt),
    )
    kpis = spark.read.parquet(str(out / "genre_kpis"))
    dates = {str(r.date) for r in kpis.select("date").distinct().collect()}
    assert dates == {f"2024-06-{10 + d:02d}" for d in range(8)}
    # per-day counts correct: 2 plays/day split by genre parity of t
    total = kpis.agg(F.sum("listen_count")).first()[0]
    assert total == 16


def test_many_day_read_back_is_a_partition_filter(spark, dims, tmp_path):
    """The drain reads its touched days back from the validated store
    with an ``isin`` of dates. Spark plans more than 10 literals as
    ``INSET``, which is still a partition filter, so a batch spanning
    more than 100 days prunes the store to those days."""
    import datetime as dt

    from conftest import scan_filters

    from music_streaming_data_pipeline_v2_spark.plans.music import read_days

    songs, users = dims
    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    _write_stream_csv(
        str(inp / "stream1.csv"),
        ["0,t0,2024-01-05 10:00:00", "1,t1,2024-02-10 10:00:00",
         "2,t2,2024-09-01 10:00:00"],
    )
    run_incremental_pipeline(
        spark, str(inp), songs, users,
        output_dir=str(out), checkpoint_dir=str(tmp_path / "ckpt"),
    )
    validated = str(out / "validated")
    days = [dt.date(2024, 1, 1) + dt.timedelta(days=n) for n in range(120)]
    q = read_days(spark, validated, spark.read.parquet(validated).schema, days)
    filters = scan_filters(q)
    assert any("INSET" in f and "date" in f for f in filters.partition), filters
    assert not any("date" in f for f in filters.data), filters
    # 2024-09-01 lies outside the 120 days
    assert sorted(r.track_id for r in q.collect()) == ["t0", "t1"]


def test_streaming_daily_kpis_window(spark, dims, tmp_path):
    songs, users = dims
    inp = tmp_path / "in"
    inp.mkdir()
    _write_stream_csv(
        str(inp / "stream1.csv"),
        [
            "0,t0,2024-06-25 10:00:00",
            "1,t0,2024-06-25 23:59:59",
            "2,t1,2024-06-26 00:00:01",
        ],
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("track_id", T.StringType()),
            T.StructField("listen_time", T.TimestampType()),
        ]
    )
    stream = stream_file_source(spark, str(inp), schema)
    kpis = streaming_daily_kpis(stream, songs, users)
    query = (
        kpis.writeStream.format("memory")
        .queryName("kpi_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    got = {
        (r.track_genre, str(r.date)): r.listen_count
        for r in spark.sql("select * from kpi_mem").collect()
    }
    # tumbling 1-day windows split exactly at midnight
    assert got[("rock", "2024-06-25")] == 2
    assert got[("jazz", "2024-06-26")] == 1


def test_incremental_new_files_batch(spark):
    listed = spark.createDataFrame([Row(path=p) for p in ["a", "b", "c"]])
    manifest = spark.createDataFrame([Row(path="a")])
    out = sorted(
        r.path for r in incremental_new_files_batch(spark, listed, manifest).collect()
    )
    assert out == ["b", "c"]


def test_streaming_sessions(spark, tmp_path):
    from music_streaming_data_pipeline_v2_spark.operators.sessions import (
        streaming_sessions,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    _write_stream_csv(
        str(inp / "stream_s.csv"),
        [
            # user 1: two events 10 min apart (one session), then one
            # 2 h later (second session); user 2: single event
            "1,t0,2024-06-25 10:00:00",
            "1,t0,2024-06-25 10:10:00",
            "1,t0,2024-06-25 12:10:00",
            "2,t0,2024-06-25 10:05:00",
        ],
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("track_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = stream_file_source(spark, str(inp), schema)
    sessions = streaming_sessions(stream, gap_minutes=30)
    (
        sessions.writeStream.format("memory")
        .queryName("sess_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = spark.sql("select * from sess_mem").collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    assert len(per_user["1"]) == 2  # the 2-hour gap splits sessions
    assert sorted(r.n_events for r in per_user["1"]) == [1, 2]
    assert len(per_user["2"]) == 1
    # session_end is the LAST EVENT, not the window's expiry instant
    # (win.end = last + gap) — matching batch session_stats bounds
    import datetime as _dt

    first_u1 = min(per_user["1"], key=lambda r: r.session_start)
    assert first_u1.session_end == _dt.datetime(2024, 6, 25, 10, 10)
    lone_u2 = per_user["2"][0]
    assert lone_u2.session_end == lone_u2.session_start


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: state persists across micro-batches
    (maxFilesPerTrigger=1 forces one batch per file)."""
    from music_streaming_data_pipeline_v2_spark.streaming.stateful import (
        running_user_totals,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    with open(inp / "stream_1.csv", "w") as f:
        f.write("user_id,duration_ms\n1,100\n1,200\n2,50\n")
    with open(inp / "stream_2.csv", "w") as f:
        f.write("user_id,duration_ms\n1,300\n3,10\n")

    schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("duration_ms", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", "1")
        .csv(str(inp))
    )
    totals = running_user_totals(stream)
    (
        totals.writeStream.format("memory")
        .queryName("totals_mem")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = spark.sql("select * from totals_mem").collect()
    # update mode: keep the LAST emission per user
    last = {}
    for r in rows:
        last[r.user_id] = (r.n_events, r.total_ms)
    # user 1 appears in both batches → cumulative 3 events / 600 ms
    assert last["1"] == (3, 600)
    assert last["2"] == (1, 50)
    assert last["3"] == (1, 10)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a replayed event id in a later
    micro-batch (within the watermark horizon) is emitted exactly once."""
    from music_streaming_data_pipeline_v2_spark.streaming.stateful import (
        streaming_dedup,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    with open(inp / "stream_1.csv", "w") as f:
        f.write(
            "event_id,ts,value\n"
            "e1,2024-01-01 10:00:00,1\n"
            "e2,2024-01-01 10:01:00,2\n"
        )
    with open(inp / "stream_2.csv", "w") as f:
        # e1 replayed in the next batch + one new event
        f.write(
            "event_id,ts,value\n"
            "e1,2024-01-01 10:00:00,1\n"
            "e3,2024-01-01 10:02:00,3\n"
        )

    schema = T.StructType(
        [
            T.StructField("event_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", "1")
        .csv(str(inp))
    )
    deduped = streaming_dedup(stream, key_cols=("event_id",), watermark="1 hour")
    (
        deduped.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    rows = spark.sql("select event_id from dedup_mem").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == ["e1", "e2", "e3"]


def test_parse_kafka_value_shape(spark):
    """Kafka wire-format decode on a batch frame shaped like the kafka
    source output (no broker needed)."""
    import datetime as dt

    from music_streaming_data_pipeline_v2_spark.schemas import STREAMS
    from music_streaming_data_pipeline_v2_spark.streaming.kafka import (
        parse_kafka_value,
    )

    raw = spark.createDataFrame(
        [
            Row(
                key=b"u1",
                value=b'{"user_id": "1", "track_id": "t9", '
                b'"listen_time": "2024-06-25 10:00:00"}',
                topic="listens", partition=0, offset=42,
                timestamp=dt.datetime(2024, 6, 25, 10, 0, 1),
                timestampType=0,
            ),
            Row(
                key=b"u2", value=b"not json {", topic="listens", partition=1,
                offset=7, timestamp=dt.datetime(2024, 6, 25, 10, 0, 2),
                timestampType=0,
            ),
        ]
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("track_id", T.StringType()),
            T.StructField("listen_time", T.StringType()),
        ]
    )
    out = parse_kafka_value(raw, schema, ts_col="listen_time").collect()
    good = next(r for r in out if r._key == "u1")
    assert (good.user_id, good.track_id) == ("1", "t9")
    assert good.listen_time == dt.datetime(2024, 6, 25, 10, 0)
    assert (good._partition, good._offset) == (0, 42)
    bad = next(r for r in out if r._key == "u2")
    # unparseable value → nulls, left for coerce-and-drop validation
    assert bad.user_id is None and bad.listen_time is None


def test_incremental_kv_maintenance(spark, tmp_path):
    """maintain_kv: the KV serving table tracks each batch's touched
    dates — METRIC#/SONG#/GENRE_RANK# rows stay consistent with the
    recomputed KPIs."""
    songs = spark.createDataFrame(
        [
            Row(track_id=f"t{i}", track_name=f"name{i}", artists=f"a{i}",
                track_genre="rock" if i % 2 == 0 else "jazz",
                duration_ms=100000 + i)
            for i in range(4)
        ]
    )
    users = spark.createDataFrame([Row(user_id=str(u)) for u in range(3)])
    inp = tmp_path / "in"
    inp.mkdir()
    _write_stream_csv(
        str(inp / "stream1.csv"),
        ["0,t0,2024-06-25 10:00:00", "1,t0,2024-06-25 11:00:00",
         "2,t1,2024-06-25 12:00:00"],
    )
    kwargs = dict(
        output_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
        maintain_kv=True,
    )
    run_incremental_pipeline(spark, str(inp), songs, users, **kwargs)
    kv = spark.read.parquet(str(tmp_path / "out" / "kv"))
    metrics = {r.sk: r.value for r in kv.filter(
        F.col("pk") == "GENRE#rock#DATE#2024-06-25").collect() if r.sk.startswith("METRIC#")}
    assert metrics["METRIC#listen_count"] == "2"
    assert kv.filter(F.col("sk").startswith("SONG#")).count() >= 2

    # second batch adds plays on the same day → kv day partition replaced
    _write_stream_csv(str(inp / "stream2.csv"), ["1,t0,2024-06-25 13:00:00"])
    run_incremental_pipeline(spark, str(inp), songs, users, **kwargs)
    kv2 = spark.read.parquet(str(tmp_path / "out" / "kv"))
    metrics2 = {r.sk: r.value for r in kv2.filter(
        F.col("pk") == "GENRE#rock#DATE#2024-06-25").collect() if r.sk.startswith("METRIC#")}
    assert metrics2["METRIC#listen_count"] == "3"  # replaced, not duplicated
    assert kv2.filter(
        (F.col("pk") == "GENRE#rock#DATE#2024-06-25")
        & (F.col("sk") == "METRIC#listen_count")
    ).count() == 1


def test_kv_client_batched_sink(spark, tmp_path):
    """S9 completion: the KV rows are pushed through the
    foreachPartition client-batched writer (the reference's 25-items-
    per-request DynamoDB batch_writer loop) — every item arrives
    exactly once and no client call exceeds the batch size."""
    from music_streaming_data_pipeline_v2_spark.io.sinks import (
        JsonDirKvClient,
        write_kv_batched,
    )

    kv_dir = str(tmp_path / "kvstore")

    songs = spark.createDataFrame(
        [
            Row(track_id=f"t{i}", track_name=f"name{i}", artists=f"a{i}",
                track_genre="rock" if i % 2 == 0 else "jazz",
                duration_ms=100000 + i)
            for i in range(4)
        ]
    )
    users = spark.createDataFrame([Row(user_id=str(u)) for u in range(3)])
    inp = tmp_path / "in"
    inp.mkdir()
    _write_stream_csv(
        str(inp / "stream1.csv"),
        ["0,t0,2024-06-25 10:00:00", "1,t0,2024-06-25 11:00:00",
         "2,t1,2024-06-25 12:00:00", "0,t2,2024-06-26 09:00:00"],
    )
    run_incremental_pipeline(
        spark, str(inp), songs, users,
        output_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
        maintain_kv=True,
        kv_client_factory=lambda: JsonDirKvClient(kv_dir),
    )

    client = JsonDirKvClient(kv_dir)
    pushed = [d for d in client.read_all() if d.get("_op") != "delete_pk"]
    stored = spark.read.parquet(str(tmp_path / "out" / "kv"))
    # exactly-once per item: pushed set == stored kv table (the
    # replace-pk tombstones are bookkeeping, not items)
    assert len(pushed) == stored.count()
    assert {(d["pk"], d["sk"]) for d in pushed} == {
        (r.pk, r.sk) for r in stored.collect()
    }
    # materialized store state matches too (tombstones folded in)
    assert set(client.materialize()) == {(r.pk, r.sk) for r in stored.collect()}
    assert all(len(b) <= 25 for b in client.read_batches())

    # batching respected with a small batch size: 7 items per call max
    kv_dir2 = str(tmp_path / "kvstore2")
    write_kv_batched(stored, lambda: JsonDirKvClient(kv_dir2), batch_size=7)
    batches = JsonDirKvClient(kv_dir2).read_batches()
    assert sum(len(b) for b in batches) == stored.count()
    assert all(len(b) <= 7 for b in batches)
    assert any(len(b) == 7 for b in batches)


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join (beyond the reference's stream-static
    X6): impressions ⋈ clicks on ad_id with both sides watermarked and
    a time-range join condition, so Spark can bound the join state and
    drop it as the watermark advances — the required shape for an
    unbounded two-stream join at scale. availableNow drains both file
    sources in one run."""
    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    (imp_dir / "imp.csv").write_text(
        "ad_id,imp_time\n"
        "a,2024-06-25 10:00:00\n"
        "b,2024-06-25 10:01:00\n"
        "c,2024-06-25 10:02:00\n"
    )
    (clk_dir / "clk.csv").write_text(
        "ad_id,click_time\n"
        "a,2024-06-25 10:00:30\n"   # 30s after impression → joins
        "b,2024-06-25 11:30:00\n"   # 89min after → outside 1h window
        "z,2024-06-25 10:03:00\n"   # unknown ad → inner-dropped
    )
    imp_schema = T.StructType([
        T.StructField("ad_id", T.StringType()),
        T.StructField("imp_time", T.TimestampType()),
    ])
    clk_schema = T.StructType([
        T.StructField("ad_id", T.StringType()),
        T.StructField("click_time", T.TimestampType()),
    ])
    imps = (
        spark.readStream.schema(imp_schema)
        .option("header", True).csv(str(imp_dir))
        .withWatermark("imp_time", "2 hours")
    )
    clicks = (
        spark.readStream.schema(clk_schema)
        .option("header", True).csv(str(clk_dir))
        .withWatermark("click_time", "2 hours")
        .withColumnRenamed("ad_id", "c_ad_id")
    )
    joined = imps.join(
        clicks,
        F.expr(
            "ad_id = c_ad_id AND "
            "click_time BETWEEN imp_time AND imp_time + INTERVAL 1 HOUR"
        ),
    ).select("ad_id", "imp_time", "click_time")
    query = (
        joined.writeStream.format("memory")
        .queryName("ss_join_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    got = [
        (r.ad_id, str(r.click_time))
        for r in spark.sql("select * from ss_join_mem").collect()
    ]
    assert got == [("a", "2024-06-25 10:00:30")]


def test_incremental_dedup_index(spark, tmp_path):
    """Dedup-at-ingest: the LSH index accumulates across batches,
    each batch's near-dups are found against ALL history without
    re-mining old×old pairs, and replays are no-ops (exactly-once)."""
    from music_streaming_data_pipeline_v2_spark.streaming import (
        run_incremental_dedup,
    )

    inp = tmp_path / "in"
    work = tmp_path / "work"
    inp.mkdir()
    kwargs = dict(jaccard_threshold=0.5, num_hashes=16, bands=8, shingle_k=2)

    (inp / "docs1.csv").write_text(
        "doc_id,lang,text\n"
        "1,en,the quick brown fox jumps over the lazy dog\n"
        "2,en,the quick brown fox jumps over the lazy cat\n"
        "3,en,completely different content about spark engines\n"
    )
    run_incremental_dedup(spark, str(inp), str(work), **kwargs)
    pairs1 = {
        (r.id_a, r.id_b) for r in spark.read.parquet(str(work / "pairs")).collect()
    }
    assert pairs1 == {(1, 2)}  # within-batch near-dup found

    # batch 2: one doc near-dups a BATCH-1 doc, one is novel
    (inp / "docs2.csv").write_text(
        "doc_id,lang,text\n"
        "4,en,the quick brown fox jumps over the lazy dog today\n"
        "5,en,unrelated text about distributed query planning\n"
    )
    run_incremental_dedup(spark, str(inp), str(work), **kwargs)
    pairs2 = spark.read.parquet(str(work / "pairs"))
    got = {(r.id_a, r.id_b) for r in pairs2.collect()}
    assert (1, 4) in got and (2, 4) in got  # cross-batch vs history
    assert (1, 2) in got
    # old×old pairs not re-emitted: (1,2) appears exactly once
    assert pairs2.filter("id_a = 1 and id_b = 2").count() == 1

    # replay with no new files: nothing changes anywhere
    n_pairs = pairs2.count()
    n_index = spark.read.parquet(str(work / "index")).count()
    run_incremental_dedup(spark, str(inp), str(work), **kwargs)
    assert spark.read.parquet(str(work / "pairs")).count() == n_pairs
    assert spark.read.parquet(str(work / "index")).count() == n_index
    # index covers all 5 docs
    idx_docs = {
        r.doc_id for r in spark.read.parquet(str(work / "index")).select("doc_id").distinct().collect()
    }
    assert idx_docs == {1, 2, 3, 4, 5}


def test_strict_mode_aborts_batch_before_outputs(spark, dims, tmp_path):
    """X4 strict mode (reference FAIL_ON_VALIDATION_ERROR): one bad row
    aborts the whole batch before any output commit; fixing the data
    and rerunning processes everything exactly once."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    songs, users = dims
    inp = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    inp.mkdir()
    _write_stream_csv(
        str(inp / "stream1.csv"),
        ["0,t0,2024-06-25 10:00:00", "0,t1,garbage-timestamp"],
    )
    kwargs = dict(output_dir=str(out), checkpoint_dir=str(ckpt), strict=True)
    with pytest.raises(StreamingQueryException, match="strict validation"):
        run_incremental_pipeline(spark, str(inp), songs, users, **kwargs)
    assert not (out / "genre_kpis").exists()  # nothing committed

    # fix the file in place; the uncommitted batch is reprocessed
    _write_stream_csv(
        str(inp / "stream1.csv"),
        ["0,t0,2024-06-25 10:00:00", "0,t1,2024-06-25 11:00:00"],
    )
    run_incremental_pipeline(spark, str(inp), songs, users, **kwargs)
    kpis = {r.track_genre: r.listen_count
            for r in spark.read.parquet(str(out / "genre_kpis")).collect()}
    assert kpis == {"rock": 1, "jazz": 1}


def test_incremental_dedup_equals_batch_mining(spark, tmp_path):
    """Equivalence invariant: draining a corpus through the incremental
    index in ARBITRARY batch splits finds exactly the pair set the
    batch operator mines in one pass (same hash parameters, bucket cap
    disabled on both sides so capping policy differences can't mask a
    candidate-generation bug), with identical jaccard values."""
    from music_streaming_data_pipeline_v2_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from music_streaming_data_pipeline_v2_spark.streaming import (
        run_incremental_dedup,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "the quick brown fox jumps over the lazy dog today",
        "completely different content about spark engines",
        "unrelated text about distributed query planning",
        "the quick brown fox jumps over the lazy dog",   # exact dup of 0
        "spark engines completely different content about",
        "text about distributed unrelated query planning",
    ]
    rows = [(i, "en", t) for i, t in enumerate(texts)]
    kwargs = dict(
        jaccard_threshold=0.35, num_hashes=16, bands=8, shingle_k=2,
        max_bucket=10_000,
    )

    batch_df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    expected = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in minhash_lsh_pairs(batch_df, **kwargs).collect()
    }
    assert expected  # the corpus must actually contain near-dups

    for split_name, splits in {
        "thirds": [rows[:3], rows[3:6], rows[6:]],
        "one_big_then_one": [rows[:7], rows[7:]],
    }.items():
        inp = tmp_path / f"in_{split_name}"
        work = tmp_path / f"work_{split_name}"
        inp.mkdir()
        for i, chunk in enumerate(splits):
            with open(inp / f"docs{i}.csv", "w") as fh:
                fh.write("doc_id,lang,text\n")
                for doc_id, lang, text in chunk:
                    fh.write(f"{doc_id},{lang},{text}\n")
            run_incremental_dedup(spark, str(inp), str(work), **kwargs)
        got = {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in spark.read.parquet(str(work / "pairs")).collect()
        }
        assert got == expected, f"split {split_name} diverged from batch"


def test_incremental_kpis_equal_batch_over_waves(spark, tmp_path):
    """Equivalence invariant (twin of the dedup one below): draining
    the sf0.001 music-shaped stream through the incremental pipeline in
    3 hash waves must leave genre_kpis identical — row for row, value
    for value — to one batch aggregation over the same validated
    input, and its kv equal, as a multiset, to the backfill's kv over
    the validated rows, each kv file in (pk, sk) order. Proves the
    recompute-a-day path converges to batch truth regardless of how
    arrivals were partitioned."""
    import glob
    import shutil

    from music_streaming_data_pipeline_v2_spark.plans.driver_queries import (
        _music_tables,
    )

    streams, songs, users = _music_tables(spark, "/root/testdata/sf0.001")
    rows = streams.select(
        "user_id",
        "track_id",
        F.date_format("listen_time", "yyyy-MM-dd HH:mm:ss").alias("listen_time"),
    )
    songs, users = songs.localCheckpoint(), users.localCheckpoint()

    inp = tmp_path / "in"
    inp.mkdir()
    staged = tmp_path / "staged"
    wave_key = F.pmod(F.hash("user_id", "track_id", "listen_time"), F.lit(3))
    for w in range(3):
        wdir = str(staged / f"w{w}")
        rows.filter(wave_key == w).coalesce(1).write.mode("overwrite").option(
            "header", "true"
        ).csv(wdir)
        for i, part in enumerate(sorted(glob.glob(os.path.join(wdir, "*.csv")))):
            shutil.move(part, str(inp / f"stream_w{w}_{i}.csv"))
        run_incremental_pipeline(
            spark, str(inp), songs, users,
            output_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            maintain_kv=True,
        )

    got = {
        (str(r.date), r.track_genre): (
            r.listen_count,
            r.unique_listeners,
            r.total_listening_time_ms,
            round(r.avg_listening_time_ms, 6),
        )
        for r in spark.read.parquet(str(tmp_path / "out" / "genre_kpis")).collect()
    }
    expected_df = (
        rows.withColumn("date", F.to_date(F.to_timestamp("listen_time")))
        .join(F.broadcast(songs.select("track_id", "track_genre", "duration_ms")), "track_id")
        .join(F.broadcast(users.select("user_id")), "user_id")
        .groupBy("track_genre", "date")
        .agg(
            F.count("*").alias("listen_count"),
            F.countDistinct("user_id").alias("unique_listeners"),
            F.sum("duration_ms").alias("total_listening_time_ms"),
            F.avg("duration_ms").alias("avg_listening_time_ms"),
        )
    )
    expected = {
        (str(r.date), r.track_genre): (
            r.listen_count,
            r.unique_listeners,
            r.total_listening_time_ms,
            round(r.avg_listening_time_ms, 6),
        )
        for r in expected_df.collect()
    }
    assert got == expected

    # the drain's kv is the backfill's kv over the validated rows
    import pyarrow.parquet as pq
    from collections import Counter

    from music_streaming_data_pipeline_v2_spark.plans.music import run_music_pipeline

    validated = spark.read.parquet(str(tmp_path / "out" / "validated")).select(
        "user_id", "track_id", "listen_time"
    )
    want_kv = run_music_pipeline(validated, songs, users).kv
    drained_kv = spark.read.parquet(str(tmp_path / "out" / "kv"))

    def bag(df):
        df = df.select(*want_kv.columns).withColumn("date", F.col("date").cast("string"))
        return Counter(tuple(r) for r in df.collect())

    want = bag(want_kv)
    assert sum(want.values()) > 0
    assert bag(drained_kv) == want
    files = glob.glob(str(tmp_path / "out" / "kv" / "date=*" / "*.parquet"))
    assert files
    for f in files:
        keys = [(r["pk"], r["sk"]) for r in pq.read_table(f, columns=["pk", "sk"]).to_pylist()]
        assert keys == sorted(keys), f


def test_incremental_dedup_rejects_incompatible_state(spark, tmp_path):
    """Resuming a work_dir with different hash parameters (or a
    pre-sketch-format layout) must fail loudly — mixed-parameter
    postings would silently never match old docs against new ones."""
    from music_streaming_data_pipeline_v2_spark.streaming import (
        run_incremental_dedup,
    )

    inp = tmp_path / "in"
    work = tmp_path / "work"
    inp.mkdir()
    (inp / "d.csv").write_text("doc_id,lang,text\n1,en,alpha beta gamma delta\n")
    run_incremental_dedup(spark, str(inp), str(work), num_hashes=16, bands=8)

    with pytest.raises(ValueError, match="incompatible dedup-index state"):
        run_incremental_dedup(spark, str(inp), str(work), num_hashes=32, bands=8)

    # pre-format state (docs exist, no meta file) is refused too
    (work / "state_meta.json").unlink()
    with pytest.raises(ValueError, match="predates the sketch-bearing"):
        run_incremental_dedup(spark, str(inp), str(work), num_hashes=16, bands=8)


def test_replayed_batch_does_not_duplicate_state(spark, dims, tmp_path):
    """foreachBatch is at-least-once: deleting the checkpoint's commit
    marker for the last batch and re-running replays it. The replay
    must leave the validated store, quarantine, and KPIs byte-
    identical — the batch-owned partition overwrite, not append, is
    what makes that hold."""
    songs, users = dims
    inp = tmp_path / "in"
    inp.mkdir()
    _write_stream_csv(
        str(inp / "stream1.csv"),
        [
            "0,t0,2024-06-25 10:00:00",
            "1,t0,2024-06-25 11:00:00",
            "0,t1,garbage-timestamp",  # → quarantine
        ],
    )
    kwargs = dict(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        quarantine_dir=str(tmp_path / "quar"),
    )
    run_incremental_pipeline(spark, str(inp), songs, users, **kwargs)
    validated = spark.read.parquet(str(tmp_path / "out" / "validated"))
    kpis = {
        (r.track_genre, str(r.date)): r.listen_count
        for r in spark.read.parquet(str(tmp_path / "out" / "genre_kpis")).collect()
    }
    assert validated.count() == 2
    assert spark.read.parquet(str(tmp_path / "quar")).count() == 1

    # simulate the crash-after-write-before-commit replay: clone the
    # checkpoint WITHOUT the batch-0 commit marker (the last thing the
    # engine writes) to a fresh path — same planned offsets, same
    # output dirs, so the resumed query re-executes batch 0's writes.
    # (A fresh path because the session caches commit-log state per
    # checkpoint dir and flags in-place tampering as a concurrent
    # query.)
    import shutil

    shutil.copytree(str(tmp_path / "ckpt"), str(tmp_path / "ckpt_replay"))
    os.remove(str(tmp_path / "ckpt_replay" / "commits" / "0"))
    # new query id for the clone — the session's commit-log registry is
    # keyed by the id in `metadata` and would flag the rewound clone as
    # a concurrently-running copy of the original query
    os.remove(str(tmp_path / "ckpt_replay" / "metadata"))
    # Hadoop LocalFS keeps .<name>.crc shadows; stale ones make the
    # rewound clone's atomic re-writes look like a concurrent query
    for dirpath, _dirs, files in os.walk(str(tmp_path / "ckpt_replay")):
        for f in files:
            if f.endswith(".crc"):
                os.remove(os.path.join(dirpath, f))
    kwargs["checkpoint_dir"] = str(tmp_path / "ckpt_replay")
    run_incremental_pipeline(spark, str(inp), songs, users, **kwargs)

    assert spark.read.parquet(str(tmp_path / "out" / "validated")).count() == 2
    assert spark.read.parquet(str(tmp_path / "quar")).count() == 1
    kpis2 = {
        (r.track_genre, str(r.date)): r.listen_count
        for r in spark.read.parquet(str(tmp_path / "out" / "genre_kpis")).collect()
    }
    assert kpis2 == kpis


def test_kv_push_replaces_stale_rank_rows(spark, tmp_path):
    """A recompute that changes rank MEMBERSHIP (late data demotes a
    song, moving it to a different SONG#<rank># sk) must not leave the
    old sk serving in the external store — the push deletes each
    touched pk before rewriting it."""
    from music_streaming_data_pipeline_v2_spark.io.sinks import JsonDirKvClient

    kv_dir = str(tmp_path / "kvstore")
    songs = spark.createDataFrame(
        [
            Row(track_id=f"t{i}", track_name=f"name{i}", artists=f"a{i}",
                track_genre="rock", duration_ms=100000)
            for i in range(3)
        ]
    )
    users = spark.createDataFrame([Row(user_id=str(u)) for u in range(3)])
    inp = tmp_path / "in"
    inp.mkdir()
    kwargs = dict(
        output_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
        maintain_kv=True, kv_client_factory=lambda: JsonDirKvClient(kv_dir),
    )
    # batch 1: t0 leads with 2 plays
    _write_stream_csv(
        str(inp / "stream1.csv"),
        ["0,t0,2024-06-25 10:00:00", "1,t0,2024-06-25 11:00:00",
         "2,t1,2024-06-25 12:00:00"],
    )
    run_incremental_pipeline(spark, str(inp), songs, users, **kwargs)
    state1 = JsonDirKvClient(kv_dir).materialize()
    pk = "GENRE#rock#DATE#2024-06-25"
    ranks1 = sorted(sk for p, sk in state1 if p == pk and sk.startswith("SONG#"))
    assert ranks1[0].startswith("SONG#1#t0")

    # batch 2: late data makes t2 the leader (3 plays) — t0 demotes
    _write_stream_csv(
        str(inp / "stream2.csv"),
        ["0,t2,2024-06-25 13:00:00", "1,t2,2024-06-25 14:00:00",
         "2,t2,2024-06-25 15:00:00", "0,t2,2024-06-25 16:00:00"],
    )
    run_incremental_pipeline(spark, str(inp), songs, users, **kwargs)
    state2 = JsonDirKvClient(kv_dir).materialize()
    song_rows = sorted(sk for p, sk in state2 if p == pk and sk.startswith("SONG#"))
    # exactly one row per rank — no stale SONG#1#t0 surviving beside
    # the new SONG#1#t2
    assert [sk.split("#")[1] for sk in song_rows] == ["1", "2", "3"]
    assert song_rows[0].startswith("SONG#1#t2")
    stored = spark.read.parquet(str(tmp_path / "out" / "kv"))
    assert set(state2) == {(r.pk, r.sk) for r in stored.collect()}


def test_recompute_to_zero_rows_deletes_stale_partitions(spark, tmp_path):
    """A touched day whose recompute yields ZERO KPI rows must stop
    serving: dynamic overwrite writes nothing for an absent date, so
    the pipeline explicitly deletes the stale date partitions (KPI and
    KV) and issues pk-scoped deletes to the external KV client."""
    from music_streaming_data_pipeline_v2_spark.io.sinks import JsonDirKvClient

    kv_dir = str(tmp_path / "kvstore")
    users = spark.createDataFrame([Row(user_id=str(u)) for u in range(3)])
    songs1 = spark.createDataFrame(
        [Row(track_id=f"t{i}", track_name=f"name{i}", artists=f"a{i}",
             track_genre="rock", duration_ms=100000 + i) for i in range(2)]
    )
    inp = tmp_path / "in"
    inp.mkdir()
    _write_stream_csv(
        str(inp / "stream1.csv"),
        ["0,t0,2024-06-25 10:00:00", "1,t1,2024-06-25 11:00:00"],
    )
    kwargs = dict(
        output_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
        maintain_kv=True, kv_client_factory=lambda: JsonDirKvClient(kv_dir),
    )
    run_incremental_pipeline(spark, str(inp), songs1, users, **kwargs)
    assert spark.read.parquet(str(tmp_path / "out" / "genre_kpis")).filter(
        F.col("date") == "2024-06-25").count() == 1
    assert any("DATE#2024-06-25" in pk
               for pk, _ in JsonDirKvClient(kv_dir).materialize())

    # batch 2: the dim no longer contains t0/t1 — recomputing 06-25
    # (touched again by a late row) joins to ZERO rows; 06-26 (t9,
    # present in the new dim) stays alive so the outputs are non-empty
    songs2 = spark.createDataFrame(
        [Row(track_id="t9", track_name="name9", artists="a9",
             track_genre="jazz", duration_ms=100009)]
    )
    _write_stream_csv(
        str(inp / "stream2.csv"),
        ["0,t0,2024-06-25 13:00:00", "1,t9,2024-06-26 09:00:00"],
    )
    run_incremental_pipeline(spark, str(inp), songs2, users, **kwargs)

    kpis = spark.read.parquet(str(tmp_path / "out" / "genre_kpis"))
    dates = {str(r.date) for r in kpis.select("date").distinct().collect()}
    assert dates == {"2024-06-26"}  # stale 06-25 partition is GONE
    assert not (tmp_path / "out" / "genre_kpis" / "date=2024-06-25").exists()

    kv = spark.read.parquet(str(tmp_path / "out" / "kv"))
    assert kv.filter(F.col("date") == "2024-06-25").count() == 0
    assert not (tmp_path / "out" / "kv" / "date=2024-06-25").exists()

    # the external store saw pk-scoped deletes for every vanished pk
    state = JsonDirKvClient(kv_dir).materialize()
    assert not any("DATE#2024-06-25" in pk for pk, _ in state)
    assert any("DATE#2024-06-26" in pk for pk, _ in state)


def test_audit_manifest_matches_committed_partitions(spark, tmp_path):
    """Each batch commit publishes audit/batch_<id>.json with the
    manifests write_partitioned_audited collected DURING the KPI/KV
    writes (VERDICT r6 #6) — row counts, key-null counts and date
    bounds must match what actually landed in the committed
    partitions, across two batches and a KV-maintaining pipeline."""
    import glob
    import json

    songs = spark.createDataFrame(
        [
            Row(track_id=f"t{i}", track_name=f"name{i}", artists=f"a{i}",
                track_genre="rock" if i % 2 == 0 else "jazz",
                duration_ms=100000 + i)
            for i in range(4)
        ]
    )
    users = spark.createDataFrame([Row(user_id=str(u)) for u in range(3)])
    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    _write_stream_csv(
        str(inp / "stream1.csv"),
        [
            "0,t0,2024-06-25 10:00:00",
            "1,t0,2024-06-25 11:00:00",
            "2,t1,2024-06-26 12:00:00",
        ],
    )
    kwargs = dict(
        output_dir=str(out),
        checkpoint_dir=str(tmp_path / "ckpt"),
        maintain_kv=True,
    )
    run_incremental_pipeline(spark, str(inp), songs, users, **kwargs)
    # batch 2 touches a DISJOINT date: a manifest audits the write
    # that produced it, so comparing it against the final store is
    # only valid for dates no later batch recomputed
    _write_stream_csv(
        str(inp / "stream2.csv"), ["1,t2,2024-06-27 13:00:00"]
    )
    run_incremental_pipeline(spark, str(inp), songs, users, **kwargs)

    paths = sorted(glob.glob(str(out / "audit" / "batch_*.json")))
    assert len(paths) == 2, paths
    kpis = spark.read.parquet(str(out / "genre_kpis"))
    kv = spark.read.parquet(str(out / "kv"))
    for p in paths:
        with open(p) as fh:
            m = json.load(fh)
        assert set(m) == {"genre_kpis", "kv"}
        for name, df in (("genre_kpis", kpis), ("kv", kv)):
            man = m[name]
            # the batch recomputed exactly the dates in [min, max];
            # committed rows for those dates must equal the audited
            # row count (valid here because the batches touch
            # disjoint dates — in general the LAST manifest touching
            # a date is the authoritative audit for it)
            dates = (
                df.select("date")
                .distinct()
                .filter(
                    (F.col("date") >= man[f"min_date"])
                    & (F.col("date") <= man[f"max_date"])
                )
            )
            committed = df.join(dates, "date", "semi").count()
            assert committed == man["n_rows"], (p, name, man)
            null_cols = [k for k in man if k.startswith("null_")]
            assert null_cols and all(man[k] == 0 for k in null_cols)


def test_batch_with_invalid_rows_scans_its_source_once(spark, dims, tmp_path):
    """A micro-batch holding unparseable rows feeds two writes (the
    validated store and quarantine). Structured Streaming counts
    ``numInputRows`` on the source scan, so it reads the file's row
    count only when the batch is parsed once, not once per write."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    songs, users = dims
    inp = tmp_path / "in"
    inp.mkdir()
    good = [f"{i % 3},t{i % 4},2024-06-25 10:{i:02d}:00" for i in range(40)]
    bad = ["0,t1,not-a-time", "1,t2,2024-06-25 99:99:99", ",t0,2024-06-25 10:00:00"]
    _write_stream_csv(str(inp / "stream1.csv"), good + bad)

    runs: dict[str, list[int]] = {}
    done = threading.Event()

    class Rows(StreamingQueryListener):
        def onQueryStarted(self, event):
            runs[str(event.runId)] = []

        def onQueryProgress(self, event):
            runs.setdefault(str(event.progress.runId), []).append(
                event.progress.numInputRows
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.set()

    listener = Rows()
    spark.streams.addListener(listener)
    try:
        run_incremental_pipeline(
            spark, str(inp), songs, users,
            output_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            quarantine_dir=str(tmp_path / "quar"),
        )
        assert done.wait(30), "no termination event from the listener bus"
    finally:
        spark.streams.removeListener(listener)

    assert len(runs) == 1
    assert sum(next(iter(runs.values()))) == len(good) + len(bad)
    validated = spark.read.parquet(str(tmp_path / "out" / "validated"))
    assert sorted(
        (r.user_id, r.track_id, str(r.listen_time)) for r in validated.collect()
    ) == sorted(
        (u, t, ts) for u, t, ts in (line.split(",") for line in good)
    )
    quar = spark.read.parquet(str(tmp_path / "quar"))
    assert sorted(
        (r.user_id or "", r.track_id, r.listen_time) for r in quar.collect()
    ) == sorted(tuple(line.split(",")) for line in bad)
