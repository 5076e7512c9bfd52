"""Reference checks, computed apart from the engine.

References come from DuckDB over the generated input files, or from plain
Python. The engine's committed outputs are read back with DuckDB, never
through the engine. Each ``check_*`` function
takes plain rows and returns a list of error strings (empty means the
output is right), so ``test_checks.py`` can feed it perturbed rows.
"""

from __future__ import annotations

import math
import os
import tempfile
from collections import Counter

import duckdb

# The KV projection of the reference's DynamoDB ingestion, restated in SQL
# over a relation ``enriched(user_id, track_id, track_name, artists,
# track_genre, duration_ms, date)``.
_KV_SQL = """
WITH kpis AS (
    SELECT track_genre, date,
           COUNT(*) AS listen_count,
           COUNT(DISTINCT user_id) AS unique_listeners,
           SUM(duration_ms) AS total_listening_time_ms,
           AVG(duration_ms) AS avg_listening_time_ms
    FROM enriched GROUP BY track_genre, date
),
plays AS (
    SELECT track_genre, date, track_id, track_name, artists,
           COUNT(*) AS play_count
    FROM enriched GROUP BY ALL
),
top_songs AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY track_genre, date
                                     ORDER BY play_count DESC, track_id) AS rank
        FROM plays) WHERE rank <= 3
),
top_genres AS (
    SELECT * FROM (
        SELECT date, track_genre, listen_count AS total_plays,
               ROW_NUMBER() OVER (PARTITION BY date
                                  ORDER BY listen_count DESC, track_genre) AS rank
        FROM kpis) WHERE rank <= 5
)
SELECT 'GENRE#' || track_genre || '#DATE#' || CAST(date AS VARCHAR) AS pk,
       'METRIC#' || metric AS sk, NULL AS name, NULL AS artists, value AS num
FROM (UNPIVOT (SELECT track_genre, date,
                      CAST(listen_count AS DOUBLE) AS listen_count,
                      CAST(unique_listeners AS DOUBLE) AS unique_listeners,
                      CAST(total_listening_time_ms AS DOUBLE) AS total_listening_time_ms,
                      avg_listening_time_ms
               FROM kpis)
      ON listen_count, unique_listeners, total_listening_time_ms, avg_listening_time_ms
      INTO NAME metric VALUE value)
UNION ALL
SELECT 'GENRE#' || track_genre || '#DATE#' || CAST(date AS VARCHAR),
       'SONG#' || rank || '#' || track_id, track_name, artists,
       CAST(play_count AS DOUBLE)
FROM top_songs
UNION ALL
SELECT 'DATE#' || CAST(date AS VARCHAR), 'GENRE_RANK#' || rank, track_genre,
       NULL, CAST(total_plays AS DOUBLE)
FROM top_genres
"""

_ENRICH_SQL = """
CREATE OR REPLACE TEMP VIEW enriched AS
SELECT s.user_id, s.track_id, g.track_name, g.artists, g.track_genre,
       g.duration_ms, CAST(s.listen_time AS DATE) AS date
FROM ({streams}) s
JOIN songs g USING (track_id)
JOIN users u USING (user_id)
"""


def connect(songs_path: str | None = None, users_path: str | None = None):
    """A single-threaded in-memory DuckDB session in UTC, with the music
    dims as views when given. Spills, if any, go to ``$TMPDIR``."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 1")
    con.execute(f"SET temp_directory = '{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
    if songs_path:
        con.execute(f"CREATE VIEW songs AS SELECT * FROM '{songs_path}'")
        con.execute(f"CREATE VIEW users AS SELECT * FROM '{users_path}'")
    return con


def rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[dict]:
    return con.execute(sql).arrow().to_pylist()


def read_dataset(con, path: str) -> list[dict]:
    """A directory of parquet files the engine wrote, hive partitions
    decoded as strings."""
    return rows(
        con,
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
        "hive_partitioning = true, hive_types_autocast = false)",
    )


# -- music ----------------------------------------------------------------

def music_reference(con, streams_sql: str) -> dict:
    """Reference outputs of the KPI transform over ``streams_sql``
    (columns user_id, track_id, listen_time as a timestamp)."""
    con.execute(_ENRICH_SQL.format(streams=streams_sql))
    kpis = {
        (r["track_genre"], str(r["date"])): (
            r["listen_count"], r["unique_listeners"], r["total_listening_time_ms"],
            r["avg_listening_time_ms"],
        )
        for r in rows(con, "SELECT track_genre, date, COUNT(*) AS listen_count, "
                           "COUNT(DISTINCT user_id) AS unique_listeners, "
                           "SUM(duration_ms) AS total_listening_time_ms, "
                           "AVG(duration_ms) AS avg_listening_time_ms "
                           "FROM enriched GROUP BY ALL")
    }
    kv = {(r["pk"], r["sk"]): (r["name"], r["artists"], r["num"]) for r in rows(con, _KV_SQL)}
    return {"kpis": kpis, "kv": kv}


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    return a == b


def check_keyed(got: dict, want: dict, what: str) -> list[str]:
    errs = []
    if len(got) != len(want):
        errs.append(f"{what}: {len(got)} keys, want {len(want)}")
    for k, w in want.items():
        g = got.get(k)
        if g is None:
            errs.append(f"{what}: missing {k}")
        elif len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            errs.append(f"{what}: {k} = {g}, want {w}")
        if len(errs) >= 5:
            break
    return errs


def kv_rows_keyed(kv_rows: list[dict]) -> tuple[dict, list[str]]:
    """Engine KV rows → ``{(pk, sk): (name, artists, number)}``; a key
    seen twice is an error."""
    out, errs = {}, []
    for r in kv_rows:
        sk = r["sk"]
        if sk.startswith("METRIC#"):
            val = (None, None, float(r["value"]))
        elif sk.startswith("SONG#"):
            val = (r["song_name"], r["artists"], float(r["play_count"]))
        else:
            val = (r["genre"], None, float(r["total_plays"]))
        key = (r["pk"], sk)
        if key in out:
            errs.append(f"kv: duplicate key {key}")
        out[key] = val
    return out, errs


def check_backfill(kpi_rows: list[dict], kv_rows: list[dict], ref: dict) -> list[str]:
    kpis = {
        (r["track_genre"], str(r["date"])): (
            r["listen_count"], r["unique_listeners"], r["total_listening_time_ms"],
            r["avg_listening_time_ms"],
        )
        for r in kpi_rows
    }
    errs = [] if len(kpis) == len(kpi_rows) else ["genre_kpis: duplicate keys"]
    errs += check_keyed(kpis, ref["kpis"], "genre_kpis")
    kv, dup = kv_rows_keyed(kv_rows)
    return errs + dup + check_keyed(kv, ref["kv"], "kv")


def lookup_reference(kv_ref: dict, pattern: str, pk: str, a: str, b: str | None) -> dict:
    if pattern == "prefix":
        keep = lambda sk: sk.startswith(a)  # noqa: E731
    elif pattern == "exact":
        keep = lambda sk: sk == a  # noqa: E731
    else:
        keep = lambda sk: a <= sk <= b  # noqa: E731
    return {k: v for k, v in kv_ref.items() if k[0] == pk and keep(k[1])}


def check_lookup(got_rows: list[dict], want: dict) -> list[str]:
    got, dup = kv_rows_keyed(got_rows)
    return dup + check_keyed(got, want, "lookup")


# -- arrivals -------------------------------------------------------------

def check_multiset(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    g, w = Counter(got), Counter(want)
    if g == w:
        return []
    extra, missing = g - w, w - g
    return [
        f"{what}: {sum(extra.values())} unexpected rows (e.g. {next(iter(extra), None)}), "
        f"{sum(missing.values())} missing (e.g. {next(iter(missing), None)})"
    ]
