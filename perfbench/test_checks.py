"""The benchmark's checkers must fail on wrong outputs.

Each test builds a right output from a small seeded input, shows that
the checker passes it, then perturbs it (a row dropped, duplicated or
changed) and shows that the checker fails. Run with:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import copy
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def music(tmp_path_factory):
    d = tmp_path_factory.mktemp("music")
    gen.write_dims(5, str(d))
    hist = gen.history_table(gen.rng_for(5, "history"), days=2, rows_per_day=3_000)
    pq.write_table(hist, str(d / "history.parquet"))
    con = checks.connect(str(d / "songs.parquet"), str(d / "users.parquet"))
    return checks.music_reference(con, f"SELECT * FROM '{d / 'history.parquet'}'")


def engine_kv_rows(ref: dict) -> list[dict]:
    """Reference KV entries laid out as the engine's KV rows."""
    out = []
    for (pk, sk), (name, artists, num) in ref["kv"].items():
        row = {"pk": pk, "sk": sk, "value": None, "song_name": None, "artists": None,
               "play_count": None, "genre": None, "total_plays": None}
        if sk.startswith("METRIC#"):
            row["value"] = repr(num)
        elif sk.startswith("SONG#"):
            row.update(song_name=name, artists=artists, play_count=str(int(num)))
        else:
            row.update(genre=name, total_plays=str(int(num)))
        out.append(row)
    return out


def engine_kpi_rows(ref: dict) -> list[dict]:
    return [
        {"track_genre": g, "date": d, "listen_count": v[0], "unique_listeners": v[1],
         "total_listening_time_ms": v[2], "avg_listening_time_ms": v[3]}
        for (g, d), v in ref["kpis"].items()
    ]


def test_backfill_checker(music):
    ref = music
    kpis, kv = engine_kpi_rows(ref), engine_kv_rows(ref)
    assert checks.check_backfill(kpis, kv, ref) == []

    changed = copy.deepcopy(kpis)
    changed[0]["listen_count"] += 1
    assert checks.check_backfill(changed, kv, ref)

    assert checks.check_backfill(kpis[1:], kv, ref)
    assert checks.check_backfill(kpis, kv + kv[:1], ref)

    songs = [i for i, r in enumerate(kv) if r["sk"].startswith("SONG#1#")]
    swapped = copy.deepcopy(kv)
    swapped[songs[0]]["play_count"] = str(int(swapped[songs[0]]["play_count"]) - 1)
    assert checks.check_backfill(kpis, swapped, ref)

    avg = [i for i, r in enumerate(kv) if r["sk"] == "METRIC#avg_listening_time_ms"]
    off = copy.deepcopy(kv)
    off[avg[0]]["value"] = repr(float(off[avg[0]]["value"]) * (1 + 1e-6))
    assert checks.check_backfill(kpis, off, ref)


def test_lookup_checker(music):
    ref = music
    pk = next(pk for pk, sk in ref["kv"] if sk.startswith("SONG#"))
    want = checks.lookup_reference(ref["kv"], "prefix", pk, "SONG#", None)
    assert len(want) == 3
    got = [r for r in engine_kv_rows(ref) if r["pk"] == pk and r["sk"].startswith("SONG#")]
    assert checks.check_lookup(got, want) == []
    assert checks.check_lookup(got[:2], want)
    assert checks.check_lookup(got + got[:1], want)
    extra = [r for r in engine_kv_rows(ref) if r["pk"] == pk][:4]
    assert checks.check_lookup(extra, want)

    date_pk = next(pk for pk, _ in ref["kv"] if pk.startswith("DATE#"))
    want = checks.lookup_reference(ref["kv"], "between", date_pk, "GENRE_RANK#1", "GENRE_RANK#3")
    assert sorted(sk for _, sk in want) == ["GENRE_RANK#1", "GENRE_RANK#2", "GENRE_RANK#3"]


def test_multiset_checker():
    rows = [("U1", "T1", "2024-01-01 00:00:01"), ("U1", "T1", "2024-01-01 00:00:01"),
            ("U2", "T2", "2024-01-01 00:00:02")]
    assert checks.check_multiset(list(reversed(rows)), rows, "validated") == []
    assert checks.check_multiset(rows[1:], rows, "validated")
    assert checks.check_multiset(rows + rows[:1], rows, "validated")


def test_arrival_wave_shape():
    wave = gen.arrival_wave(gen.rng_for(3, "arrivals"), 1)
    kinds = wave["kind"]
    assert len(kinds) == gen.ARRIVAL_ROWS
    assert kinds.count("invalid") == int(gen.ARRIVAL_ROWS * gen.INVALID_SHARE)
    assert kinds.count("orphan") == int(gen.ARRIVAL_ROWS * gen.ORPHAN_SHARE)
    late = [t for t, k in zip(wave["listen_time"], kinds) if k == "clean" and t[:10] != wave["day"]]
    assert len(late) == int(gen.ARRIVAL_ROWS * gen.LATE_SHARE)
    again = gen.arrival_wave(gen.rng_for(3, "arrivals"), 1)
    assert again["listen_time"] == wave["listen_time"]
