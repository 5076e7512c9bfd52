"""Scalar function library (reference F1-F12 as named, reusable Columns).

The reference scatters these through pandas expressions and f-strings;
here each is a named Column builder so plans stay declarative and the
key grammar lives in ONE place:

- coercions (F1/F6): ``errors='coerce'`` semantics via try_cast
- composite serving keys (F9): the DynamoDB key grammar
  (dynamodb-ingestion.py:54, 67, 90-91, 117-118), built here and
  parsed back here (``pk_date``)
- normalization (F4 + fingerprint preprocessing)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# -- coercions (F1, F6) ------------------------------------------------------

def coerce_numeric(c: str | Column, dtype: str = "int") -> Column:
    """``pd.to_numeric(errors='coerce')`` + cast: null on failure."""
    return _col(c).cast("string").try_cast("double").cast(dtype)


def coerce_numeric_fill0(c: str | Column, dtype: str = "int") -> Column:
    """Coerce-then-default-0 (validate.py:84, 86, 93 quirk)."""
    return F.coalesce(coerce_numeric(c, dtype), F.lit(0).cast(dtype))


def coerce_timestamp(c: str | Column) -> Column:
    """``pd.to_datetime(errors='coerce')``: null on unparseable."""
    return _col(c).cast("string").try_cast("timestamp")


# -- composite serving keys (F9) --------------------------------------------

def genre_date_pk(genre: str | Column, date: str | Column) -> Column:
    """``GENRE#{genre}#DATE#{date}`` (dynamodb-ingestion.py:54, 90)."""
    return F.concat_ws(
        "#", F.lit("GENRE"), _col(genre), F.lit("DATE"), _col(date).cast("string")
    )


def date_pk(date: str | Column) -> Column:
    """``DATE#{date}`` (dynamodb-ingestion.py:117)."""
    return F.concat_ws("#", F.lit("DATE"), _col(date).cast("string"))


def pk_date(pk: str) -> str | None:
    """The day a pk names: the field after its last ``DATE#`` — the
    inverse of ``genre_date_pk`` / ``date_pk`` on the day, whatever the
    genre holds (``#`` included, since the day is always the last
    field). ``None`` when the pk has no non-empty final ``DATE#`` field,
    e.g. ``concat_ws`` dropped a null date and left ``...#DATE``."""
    head, sep, day = pk.rpartition("DATE#")
    if not sep or not day or "#" in day or (head and not head.endswith("#")):
        return None
    return day


def metric_sk(metric: str | Column) -> Column:
    """``METRIC#{metric_type}`` (dynamodb-ingestion.py:67)."""
    return F.concat_ws("#", F.lit("METRIC"), _col(metric))


def song_sk(rank: str | Column, track_id: str | Column) -> Column:
    """``SONG#{rank}#{track_id}`` (dynamodb-ingestion.py:91)."""
    return F.concat_ws(
        "#", F.lit("SONG"), _col(rank).cast("string"), _col(track_id)
    )


def genre_rank_sk(rank: str | Column) -> Column:
    """``GENRE_RANK#{rank}`` (dynamodb-ingestion.py:118)."""
    return F.concat_ws("#", F.lit("GENRE_RANK"), _col(rank).cast("string"))


# -- normalization (F4) ------------------------------------------------------

def normalize_text(c: str | Column) -> Column:
    """Lowercase + whitespace-collapse — the canonical form used by
    fingerprinting and exact dedup."""
    return F.lower(
        F.concat_ws(
            " ",
            F.filter(F.split(F.trim(_col(c)), r"\s+"), lambda t: t != F.lit("")),
        )
    )
