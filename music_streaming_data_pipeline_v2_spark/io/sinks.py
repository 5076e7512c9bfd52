"""Batch sinks.

The reference writes each KPI table with ``coalesce(1)`` (reference
glue_jobs/music-streaming-transform.py:170-178) — a single-partition write
that serializes the whole job through one task. This engine never does
that: outputs keep natural partitioning, or are partitioned by a column
(date) so daily recompute is a dynamic partition overwrite — the Spark
equivalent of the reference's idempotent recompute-a-day model
(music-streaming-transform.py:82-85 + mode('overwrite')).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
) -> None:
    """Write a result table, optionally partitioned.

    With ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by the
    session factory) an overwrite touches only the partitions present in
    ``df`` — re-running one day replaces one day, not the table.
    ``options`` are per-write DataFrameWriter options — the music
    outputs and the streaming pipeline pass ``partitionOverwriteMode``
    HERE (plans/music.py ``DYNAMIC``) rather than relying on or mutating
    the session conf: under Spark's default (static) a one-day overwrite
    truncates every other day, and a conf mutation would silently change
    overwrite semantics for every later write in the caller's session.
    """
    writer = df.write.mode(mode).format(fmt)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_kv_batched(
    df: DataFrame,
    client_factory,
    batch_size: int = 25,
    replace_pks: bool = False,
) -> None:
    """Push a KV relation to an external store, client-batched per
    partition — the reference's DynamoDB load loop
    (glue_jobs/dynamodb-ingestion.py:133-167: ``batch_writer`` flushing
    25 items per request) re-expressed as a distributed sink.

    ``client_factory`` is a zero-argument picklable callable invoked
    ONCE PER PARTITION on the executor (never ship a live connection
    from the driver — sockets don't pickle); it returns an object with
    ``put_batch(items: list[dict]) -> None``. Rows stream through a
    fixed-size buffer, so executor memory per task is O(batch_size),
    not O(partition).

    Scale notes: parallelism = #partitions (repartition the KV frame to
    match the store's write-capacity sharding); per-batch retries/
    backoff belong in the client object, where boto3's batch_writer
    puts them; idempotency comes from pk/sk upserts, so replaying a
    micro-batch after a failure converges (same as the reference's
    overwrite-recompute model). ``toLocalIterator`` is deliberately NOT
    used — it would serialize the write through the driver.

    ``replace_pks=True`` makes the push a REPLACEMENT of each touched
    pk rather than an upsert union: upserts alone leave stale rows
    when a recompute changes a pk's key MEMBERSHIP (a rank demotion
    moves a song from ``SONG#2#t0`` to ``SONG#3#t0`` — the old sk
    never gets overwritten and the serving query returns both). The
    frame is repartitioned + sorted by ``pk`` so one task owns every
    row of a pk contiguously, and the client's ``delete_pk(pk)`` is
    called once per pk before its first put. Clients without
    ``delete_pk`` raise — silently skipping the delete would reproduce
    the stale-row bug this flag exists to prevent.
    """

    def write_partition(rows) -> None:
        client = client_factory()
        buf: list[dict] = []
        last_deleted_pk = None
        for row in rows:
            item = row.asDict()
            if replace_pks and item.get("pk") != last_deleted_pk:
                if buf:
                    client.put_batch(buf)
                    buf = []
                last_deleted_pk = item.get("pk")
                client.delete_pk(last_deleted_pk)
            buf.append(item)
            if len(buf) >= batch_size:
                client.put_batch(buf)
                buf = []
        if buf:
            client.put_batch(buf)

    if replace_pks:
        df = df.repartition("pk").sortWithinPartitions("pk", "sk")
    df.foreachPartition(write_partition)


class JsonDirKvClient:
    """File-backed KV-store fake with real client batching semantics.

    Stands in for a DynamoDB/Redis client in environments without one
    (this container): each ``put_batch`` appends one JSON line — the
    whole batch — to a process-unique file under ``root``, so a test
    can assert exactly how items were batched across executors.
    ``read_all``/``read_batches`` aggregate the directory back; last
    write wins per (pk, sk) is NOT modeled (append-only log), which is
    fine for the sink contract test.
    """

    def __init__(self, root: str) -> None:
        self.root = root

    def put_batch(self, items: list[dict]) -> None:
        import json
        import os
        import time
        import uuid

        os.makedirs(self.root, exist_ok=True)
        # monotonic-ns name prefix: read_batches/materialize sort by
        # file name, and WITHIN a task the write order (delete
        # tombstone, then its pk's puts) must be reconstructible — a
        # pid-uuid name sorts arbitrarily and could fold a pk's delete
        # AFTER its puts, vaporizing them
        path = os.path.join(
            self.root,
            f"{time.time_ns():020d}-{os.getpid()}-{uuid.uuid4().hex}.jsonl",
        )
        with open(path, "a") as f:
            f.write(json.dumps(items, default=str) + "\n")

    def read_batches(self) -> list[list[dict]]:
        import json
        import os

        out: list[list[dict]] = []
        if not os.path.isdir(self.root):
            return out
        for name in sorted(os.listdir(self.root)):
            with open(os.path.join(self.root, name)) as f:
                out.extend(json.loads(line) for line in f if line.strip())
        return out

    def delete_pk(self, pk: str) -> None:
        """Tombstone the pk: appended to the log like any write; state
        reconstruction (``materialize``) drops every earlier item of
        that pk — the file-fake analog of a query-then-batch-delete."""
        self.put_batch([{"_op": "delete_pk", "pk": pk}])

    def read_all(self) -> list[dict]:
        return [item for batch in self.read_batches() for item in batch]

    def materialize(self) -> dict[tuple, dict]:
        """Fold the append-only log into final store state: last write
        wins per (pk, sk); a delete_pk tombstone clears the pk's items
        written before it. Batch files sort by name (pid-uuid), which
        is stable enough for the single-writer-per-pk tests that use
        this (replace_pks routes each pk through one task)."""
        state: dict[tuple, dict] = {}
        for item in self.read_all():
            if item.get("_op") == "delete_pk":
                for key in [k for k in state if k[0] == item["pk"]]:
                    del state[key]
            else:
                state[(item.get("pk"), item.get("sk"))] = item
        return state


def compact_partitions(
    spark,
    path: str,
    partition_by: list[str],
    target_rows_per_file: int = 1_000_000,
    fmt: str = "parquet",
) -> None:
    """Small-file compaction for a partitioned table — the maintenance
    pass every streaming/incremental sink needs at scale: micro-batch
    writes leave one file per (trigger × partition × task), and scan
    throughput collapses when a 100 TB table is millions of KB-sized
    files (per-file open cost + tiny row groups defeat the columnar
    format).

    Rewrites the dataset with one shuffle keyed on the partition
    columns, letting ``maxRecordsPerFile`` split oversized partitions
    into multiple right-sized files. The rewrite goes through a temp
    sibling directory + atomic-ish rename so a failed compaction never
    destroys the live data (the same overwrite-safety the reference gets
    from archive-then-delete, dags/tasks/utils.py:137-211). Dynamic
    partition overwrite is NOT enough here because compaction must
    rewrite partitions in place while other readers may list the
    directory; for table formats (Delta/Iceberg) this whole function is
    their OPTIMIZE/rewrite_data_files action.

    Crash recovery: the function is re-runnable after dying at ANY
    point. On entry it repairs leftovers from a previous attempt —
    a crash between the two renames leaves the live data only at
    ``._pre_compact`` (restored to ``path``); leftover temp/backup
    directories from completed or pre-swap crashes are cleared so the
    rename swap cannot fail on a stale non-empty target. The
    rename-swap design is local/HDFS-style-filesystem bound (renames
    are atomic moves); on object stores use a table format's
    transactional rewrite instead.
    """
    import os
    import shutil

    tmp = path.rstrip("/") + "._compacting"
    old = path.rstrip("/") + "._pre_compact"
    if os.path.exists(old) and not os.path.exists(path):
        # previous run died between the two renames: the backup is the
        # only live copy — restore it before doing anything else
        os.rename(old, path)
    for leftover in (tmp, old):
        # stale temp (pre-swap crash) or stale backup (post-swap,
        # pre-cleanup crash): path is live, these are disposable —
        # and os.rename onto a non-empty target would raise
        if os.path.exists(leftover):
            shutil.rmtree(leftover)

    df = spark.read.format(fmt).load(path)
    (
        df.repartition(*partition_by)
        .write.mode("overwrite")
        .format(fmt)
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy(*partition_by)
        .save(tmp)
    )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    path: str | None = None,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (and bucket-sorted) table.

    The co-located-join layout for 100 TB fact⋈fact work: two tables
    bucketed on the same key with the same bucket count join with NO
    shuffle exchange on either side — each task reads bucket i of both
    sides (and with ``sort_by`` on the key, no sort either: the
    sort-merge join streams the pre-sorted buckets). The shuffle is
    paid ONCE at write time instead of on every downstream join/agg —
    the Spark-native equivalent of the co-partitioned layouts the
    storage-layout section of SCALE.md argues for.

    Bucketing requires the table-catalog writer (``saveAsTable`` —
    plain ``parquet(path)`` drops bucket metadata); pass ``path`` to
    keep the data in an external location. ``sort_by`` defaults to the
    bucket key.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_by)
        .sortBy(*(sort_by or bucket_by))
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_partitioned_audited(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
    null_check_cols: list[str] | None = None,
    options: dict[str, str] | None = None,
    extra_metrics: dict | None = None,
) -> dict:
    """``write_partitioned`` plus a write-audit manifest computed in
    the SAME job via ``df.observe`` — rows written, per-column null
    counts, and min/max of every partition column, collected as
    accumulator-style metrics while the write runs. The classic
    anti-pattern this replaces is ``df.count(); df.write...`` (or
    worse, write-then-read-back-and-count): at 100 TB each of those is
    a full extra scan; ``observe`` rides the write's own pass for
    free and, unlike ``df.cache(); count; write``, holds no memory.

    This is the AUDIT half of write-audit-publish: the returned dict
    is the manifest a publish step checks (row count matches the
    upstream contract, no nulls in key columns, partition bounds sane)
    before atomically exposing the output.

    Returns ``{"n_rows": ..., "null_<col>": ..., "min_<p>": ...,
    "max_<p>": ...}``.

    ``extra_metrics``: additional named aggregate Columns to ride the
    SAME observation (e.g. ``{"dates_written":
    F.collect_set("date")}`` lets a recompute-a-day caller learn which
    partitions actually received rows without re-executing the write's
    input subtree — the probe-on-the-write's-own-pass discipline this
    sink exists for). Names land in the returned manifest as-is.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_check_cols or []:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
        )
    for p in partition_by or []:
        metrics.append(F.min(p).alias(f"min_{p}"))
        metrics.append(F.max(p).alias(f"max_{p}"))
    for name, expr in (extra_metrics or {}).items():
        metrics.append(expr.alias(name))
    obs = Observation()
    observed = df.observe(obs, *metrics)
    write_partitioned(observed, path, partition_by, mode, fmt, options)
    return dict(obs.get)
