"""KV serving queries (reference §2.12 — queries/dynamo_query.txt:6-70).

The reference serves KPIs from DynamoDB with pk-equality + sk range
conditions. Over the engine's unified ``kv`` relation those become plain
DataFrame filters — and because they are deterministic predicates on two
string columns, Catalyst pushes them into the Parquet scan
(PushedFilters: EqualTo(pk), StringStartsWith(sk) / range), so a serving
lookup reads only matching row groups.

Layout: the kv table is written partitioned by ``date`` and sorted by
(pk, sk) within files (plans/music.py ``write_music_outputs``,
streaming/pipeline.py). A pk names its day (``GENRE#g#DATE#d``,
``DATE#d``), so every lookup also filters ``date`` on the day
``functions.scalar.pk_date`` parses from the pk: Catalyst turns that
into a PartitionFilter and the lookup opens one day's files instead of
every day's.

Invariant that makes the date filter result-neutral: every kv producer
writes ``date`` from the same value it puts in the pk
(operators/reshape.py's three projections, plans/driver_queries.py
``_kv_union``), so ``pk = :pk`` implies ``date = pk_date(:pk)``. The
comparison is on ``CAST(date AS STRING)``: the partition column reads
back as DateType from disk but is a string in the in-memory relation,
and a string compare lets a malformed day (``DATE#not-a-date``) match
nothing instead of failing an ANSI cast.

The three DynamoDB key-condition shapes:
- pk = :pk AND begins_with(sk, :prefix)   → ``sk.startswith(prefix)``
- pk = :pk AND sk = :sk                   → equality
- pk = :pk AND sk BETWEEN :lo AND :hi     → ``sk.between(lo, hi)``
  (DynamoDB BETWEEN is lexicographic and inclusive; so is Spark's.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import pk_date


def _key_condition(kv: DataFrame, pk: str, sk_cond: Column) -> DataFrame:
    """``pk = :pk AND sk_cond``, plus the date partition the pk names
    when it names one and ``kv`` has a ``date`` column."""
    cond = (F.col("pk") == pk) & sk_cond
    day = pk_date(pk)
    if day is not None and "date" in kv.columns:
        cond = cond & (F.col("date").cast("string") == F.lit(day))
    return kv.filter(cond)


def query_pk_prefix(kv: DataFrame, pk: str, sk_prefix: str) -> DataFrame:
    """pk equality + sk begins_with (dynamo_query.txt:6-9, 29-32, 51-55)."""
    return _key_condition(kv, pk, F.col("sk").startswith(sk_prefix))


def query_pk_sk(kv: DataFrame, pk: str, sk: str) -> DataFrame:
    """pk equality + sk exact (dynamo_query.txt:12-17, 58-63)."""
    return _key_condition(kv, pk, F.col("sk") == sk)


def query_pk_sk_between(kv: DataFrame, pk: str, lo: str, hi: str) -> DataFrame:
    """pk equality + sk between, inclusive lexicographic range
    (dynamo_query.txt:42-47, 65-70)."""
    return _key_condition(kv, pk, F.col("sk").between(lo, hi))
