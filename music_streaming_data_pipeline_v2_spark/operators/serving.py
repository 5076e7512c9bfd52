"""KV serving queries (reference §2.12 — queries/dynamo_query.txt:6-70).

The reference serves KPIs from DynamoDB with pk-equality + sk range
conditions, where ``pk = :pk`` is a point read. Here each of the three
key conditions is answered by one of two paths, and the shape of the
``kv`` relation picks the path (no option or setting does):

- **Point path.** ``kv`` is a bare date-partitioned parquet scan
  (``spark.read.parquet(dir)``: the analyzed plan is a
  ``LogicalRelation`` over a ``HadoopFsRelation`` in parquet, partitioned
  by exactly ``[date]``, unbucketed, on local files), and the pk names a
  day (``functions.scalar.pk_date``). The lookup reads that day's files
  with ``pyarrow.dataset`` under the pk/sk filter and returns the rows as
  a ``LocalRelation`` DataFrame with ``kv``'s schema: ``collect()`` runs
  no Spark job. Arrow compares strings by their UTF-8 bytes, as Spark's
  ``UTF8_BINARY`` does.
- **Catalyst path** (``_key_condition``), for every other relation: an
  in-memory ``kv`` such as ``build_kv_table`` or ``_kv_union`` (and so
  the registry's ``serving_*`` queries), a ``Project``/``Filter`` over a
  scan, an unpartitioned table, or a pk with no day. The key condition is
  a plain DataFrame filter; Catalyst pushes ``pk``/``sk`` into the
  Parquet scan (PushedFilters: EqualTo(pk), StringStartsWith(sk) /
  range) and the date the pk names becomes a PartitionFilter, so a
  lookup opens one day's files instead of every day's.

Layout: the kv table is written partitioned by ``date`` and sorted by
(pk, sk) within files. One function builds and sorts its rows,
plans/music.py ``kv_rows``, and both writers write its output: the
backfill (``write_music_outputs``) and the KPI drain
(streaming/pipeline.py). A pk names its day (``GENRE#g#DATE#d``,
``DATE#d``).

Invariant that makes both paths equal to the plain pk/sk filter: every
kv producer writes ``date`` from the same value it puts in the pk
(operators/reshape.py's three projections, plans/driver_queries.py
``_kv_union``), so ``pk = :pk`` implies ``date = pk_date(:pk)``. The
comparison is on ``CAST(date AS STRING)``: the partition column reads
back as DateType from disk but is a string in the in-memory relation,
and a string compare lets a malformed day (``DATE#not-a-date``) match
nothing instead of failing an ANSI cast. The point path keys its files
by the same string; a relation with a partition directory whose name
is not exactly ``CAST(date AS STRING)`` of its value stays on the
Catalyst path.

Read consistency: the point path reads the files of the DataFrame's own
listing (``kv.inputFiles()``, memoized per DataFrame), the same snapshot
a Catalyst scan of ``kv`` would read. A lookup that races a dynamic
partition overwrite of its day fails the same way on both paths (a
listed file is gone); lookups are consistent between drains.

The three DynamoDB key-condition shapes:
- pk = :pk AND begins_with(sk, :prefix)   → ``sk.startswith(prefix)``
- pk = :pk AND sk = :sk                   → equality
- pk = :pk AND sk BETWEEN :lo AND :hi     → ``sk.between(lo, hi)``
  (DynamoDB BETWEEN is lexicographic and inclusive; so is Spark's.)
"""

from __future__ import annotations

import datetime as dt
import os
import weakref
from dataclasses import dataclass
from typing import Any, Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StringType

from ..functions.scalar import pk_date

_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _key_condition(kv: DataFrame, pk: str, sk_cond: Column) -> DataFrame:
    """``pk = :pk AND sk_cond``, plus the date partition the pk names
    when it names one and ``kv`` has a ``date`` column."""
    cond = (F.col("pk") == pk) & sk_cond
    day = pk_date(pk)
    if day is not None and "date" in kv.columns:
        cond = cond & (F.col("date").cast("string") == F.lit(day))
    return kv.filter(cond)


@dataclass(frozen=True)
class _DayFiles:
    """A point-readable kv: its Arrow schema and its files by day."""

    arrow_schema: Any               # pa.Schema of kv.schema
    days: dict[str, list[str]]      # CAST(date AS STRING) -> local paths


# per DataFrame: its _DayFiles, or None when it takes the Catalyst path
_DAY_FILES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _day_files(kv: DataFrame) -> _DayFiles | None:
    if kv not in _DAY_FILES:
        _DAY_FILES[kv] = _list_day_files(kv)
    return _DAY_FILES[kv]


def _list_day_files(kv: DataFrame) -> _DayFiles | None:
    plan = kv._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or list(rel.partitionSchema().fieldNames()) != ["date"]
        or not rel.bucketSpec().isEmpty()
    ):
        return None
    date_type = kv.schema["date"].dataType
    if not isinstance(date_type, (DateType, StringType)):
        return None
    days: dict[str, list[str]] = {}
    for uri in kv.inputFiles():
        url = urlparse(uri)
        path = unquote(url.path)
        part = os.path.basename(os.path.dirname(path))
        if url.scheme != "file" or not part.startswith("date="):
            return None
        value = part[len("date="):]
        if value == _NULL_PARTITION:
            continue  # a null date never equals a pk's day
        if not _is_cast_string(value, date_type):
            return None
        days.setdefault(value, []).append(path)
    from pyspark.sql.pandas.types import to_arrow_schema

    return _DayFiles(to_arrow_schema(kv.schema), days)


def _is_cast_string(value: str, date_type) -> bool:
    """Whether a partition directory value is exactly the string
    ``CAST(date AS STRING)`` gives for the value Spark reads from it."""
    if isinstance(date_type, StringType):
        return "%" not in value  # Spark unescapes %XX in directory names
    try:
        return dt.date.fromisoformat(value).isoformat() == value
    except ValueError:
        return False


def _point_read(
    kv: DataFrame, files: _DayFiles, pk: str, day: str, sk_test: Callable
) -> DataFrame:
    """The rows of ``day``'s files with ``pk = :pk AND sk_test(sk)``, as
    a LocalRelation DataFrame with ``kv``'s schema."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    schema = files.arrow_schema
    spark = kv.sparkSession
    if day not in files.days:  # no such partition, so nothing matches
        return spark.createDataFrame(schema.empty_table(), schema=kv.schema)
    data = ds.dataset(
        files.days[day], schema=pa.schema(f for f in schema if f.name != "date"),
        format="parquet",
    )
    rows = data.to_table(
        filter=(ds.field("pk") == pk) & sk_test(ds.field("sk"), pc.starts_with),
        use_threads=False,
    )
    # createDataFrame(pa.Table) stops at the first zero-row record batch
    # after the first batch, and a scan yields one where the filter
    # empties a row group: hand it one chunk
    rows = rows.combine_chunks()
    date_type = schema.field("date").type
    value = dt.date.fromisoformat(day) if pa.types.is_date32(date_type) else day
    cols = [
        pa.array([value] * rows.num_rows, date_type) if f.name == "date" else rows[f.name]
        for f in schema
    ]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=schema), schema=kv.schema)


def _lookup(kv: DataFrame, pk: str, sk_test: Callable) -> DataFrame:
    """``sk_test(sk, starts_with)`` is the sk condition, written once for
    a Spark Column and an Arrow expression alike."""
    day = pk_date(pk)
    files = _day_files(kv) if day is not None else None
    if files is None:
        return _key_condition(kv, pk, sk_test(F.col("sk"), Column.startswith))
    return _point_read(kv, files, pk, day, sk_test)


def query_pk_prefix(kv: DataFrame, pk: str, sk_prefix: str) -> DataFrame:
    """pk equality + sk begins_with (dynamo_query.txt:6-9, 29-32, 51-55)."""
    return _lookup(kv, pk, lambda sk, starts_with: starts_with(sk, sk_prefix))


def query_pk_sk(kv: DataFrame, pk: str, sk: str) -> DataFrame:
    """pk equality + sk exact (dynamo_query.txt:12-17, 58-63)."""
    return _lookup(kv, pk, lambda col, _: col == sk)


def query_pk_sk_between(kv: DataFrame, pk: str, lo: str, hi: str) -> DataFrame:
    """pk equality + sk between, inclusive lexicographic range
    (dynamo_query.txt:42-47, 65-70)."""
    return _lookup(kv, pk, lambda sk, _: (sk >= lo) & (sk <= hi))
