"""Seeded input generator for the benchmark.

Every input the engine sees in a benchmark run is written here from one
seed: the same seed gives the same files. Nothing is read from outside the
output directory.

Music (reference-shaped):
- ``songs.parquet``: Spotify-tracks shape, ``N_GENRES`` genres with
  ``TRACKS_PER_GENRE`` tracks each.
- ``users.parquet``: ``N_USERS`` users.
- ``history.parquet``: ``HISTORY_DAYS`` days of listens,
  ``HISTORY_ROWS_PER_DAY`` a day. Genre choice is Zipf-skewed and track
  choice inside a genre is Zipf-skewed again, so the genre-day top-K
  windows meet hot keys at the head and play-count ties in the tail.

Arrivals: one CSV file per day (``stream_<day>.csv``) of ``ARRIVAL_ROWS``
rows. ``LATE_SHARE`` of a wave belongs to the previous day,
``ORPHAN_SHARE`` names a ``track_id`` that no song has, and
``INVALID_SHARE`` has a timestamp that does not parse.

Look at the files of one seed with:

    python3 perfbench/gen.py --seed 1 --out /tmp/gen
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_GENRES = 100
TRACKS_PER_GENRE = 200
N_USERS = 50_000
HISTORY_START = dt.date(2024, 1, 1)
HISTORY_DAYS = 14
HISTORY_ROWS_PER_DAY = 11_000
ARRIVAL_START = HISTORY_START + dt.timedelta(days=HISTORY_DAYS)
ARRIVAL_ROWS = 11_000
LATE_SHARE = 0.04
ORPHAN_SHARE = 0.02
INVALID_SHARE = 0.01


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input stream, so that adding a
    stream never shifts the values of another."""
    return np.random.default_rng([seed, *map(ord, stream)])


def _ids(prefix: str, idx: np.ndarray) -> list[str]:
    return [f"{prefix}{i:06d}" for i in idx.tolist()]


def _zipf(rng: np.random.Generator, n_items: int, size: int, a: float) -> np.ndarray:
    """``size`` indices in [0, n_items) under a bounded Zipf(a) law."""
    w = 1.0 / np.arange(1, n_items + 1) ** a
    return rng.choice(n_items, size=size, p=w / w.sum())


def songs_table(rng: np.random.Generator) -> pa.Table:
    n = N_GENRES * TRACKS_PER_GENRE
    idx = np.arange(n)
    return pa.table(
        {
            "id": pa.array(idx.astype(np.int32)),
            "track_id": _ids("T", idx),
            "track_name": [f"track {i}" for i in range(n)],
            "album_name": [f"album {i // 10}" for i in range(n)],
            "artists": [f"artist {a}" for a in rng.integers(0, n // 4, n).tolist()],
            "popularity": pa.array(rng.integers(0, 101, n, dtype=np.int32)),
            "duration_ms": pa.array(rng.integers(60_000, 420_000, n, dtype=np.int32)),
            "track_genre": [f"genre{g:03d}" for g in (idx // TRACKS_PER_GENRE).tolist()],
        }
    )


def users_table(rng: np.random.Generator) -> pa.Table:
    countries = np.array(["US", "GB", "DE", "FR", "BR", "IN", "JP", "NG"])
    created = np.datetime64("2020-01-01", "us") + rng.integers(
        0, 1400 * 86_400, N_USERS
    ).astype("timedelta64[s]")
    return pa.table(
        {
            "user_id": _ids("U", np.arange(N_USERS)),
            "user_name": [f"user {i}" for i in range(N_USERS)],
            "user_age": pa.array(rng.integers(13, 80, N_USERS, dtype=np.int32)),
            "user_country": countries[rng.integers(0, 8, N_USERS)].tolist(),
            "created_at": pa.array(created, type=pa.timestamp("us", tz="UTC")),
        }
    )


def plays(rng: np.random.Generator, day: dt.date, n: int) -> dict[str, np.ndarray]:
    """``n`` clean listens on ``day`` as index arrays and timestamps."""
    genre = _zipf(rng, N_GENRES, n, 0.8)
    track = genre * TRACKS_PER_GENRE + _zipf(rng, TRACKS_PER_GENRE, n, 1.1)
    secs = rng.integers(0, 86_400, n).astype("timedelta64[s]")
    return {
        "user": _zipf(rng, N_USERS, n, 0.6),
        "track": track,
        "ts": np.datetime64(day.isoformat(), "s") + secs,
    }


def history_table(rng: np.random.Generator, days: int = HISTORY_DAYS,
                  rows_per_day: int = HISTORY_ROWS_PER_DAY) -> pa.Table:
    parts = [
        plays(rng, HISTORY_START + dt.timedelta(days=d), rows_per_day)
        for d in range(days)
    ]
    return pa.table(
        {
            "user_id": _ids("U", np.concatenate([p["user"] for p in parts])),
            "track_id": _ids("T", np.concatenate([p["track"] for p in parts])),
            "listen_time": pa.array(
                np.concatenate([p["ts"] for p in parts]).astype("datetime64[us]"),
                type=pa.timestamp("us", tz="UTC"),
            ),
        }
    )


def _ts_text(ts: np.ndarray) -> list[str]:
    return [s.replace("T", " ") for s in np.datetime_as_string(ts, unit="s").tolist()]


def arrival_wave(rng: np.random.Generator, wave: int, rows: int = ARRIVAL_ROWS) -> dict:
    """One day's file as columns of strings, plus ``kind`` per row
    (``clean``, ``orphan`` or ``invalid``) for the reference checks;
    ``kind`` is not written to the file."""
    day = ARRIVAL_START + dt.timedelta(days=wave)
    n_late = int(rows * LATE_SHARE) if wave > 0 else 0
    n_orphan = int(rows * ORPHAN_SHARE)
    n_bad = max(1, int(rows * INVALID_SHARE))
    n_main = rows - n_late - n_orphan - n_bad
    main = plays(rng, day, n_main + n_orphan + n_bad)
    late = plays(rng, day - dt.timedelta(days=1), n_late)
    user = _ids("U", np.concatenate([main["user"], late["user"]]))
    track = _ids("T", np.concatenate([main["track"], late["track"]]))
    ts = _ts_text(np.concatenate([main["ts"], late["ts"]]))
    kind = ["clean"] * len(user)
    for i in range(n_main, n_main + n_orphan):
        track[i] = f"X{int(rng.integers(0, 10**6)):06d}"
        kind[i] = "orphan"
    for j, i in enumerate(range(n_main + n_orphan, n_main + n_orphan + n_bad)):
        ts[i] = f"{day.isoformat()} 2{j % 4}:99:99" if j % 2 else "not-a-time"
        kind[i] = "invalid"
    order = rng.permutation(len(user)).tolist()
    return {
        "day": day.isoformat(),
        "user_id": [user[i] for i in order],
        "track_id": [track[i] for i in order],
        "listen_time": [ts[i] for i in order],
        "kind": [kind[i] for i in order],
    }


def write_wave_csv(wave: dict, path: str) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["user_id", "track_id", "listen_time"])
        w.writerows(zip(wave["user_id"], wave["track_id"], wave["listen_time"]))


def write_dims(seed: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    pq.write_table(songs_table(rng_for(seed, "songs")), os.path.join(out, "songs.parquet"))
    pq.write_table(users_table(rng_for(seed, "users")), os.path.join(out, "users.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--waves", type=int, default=3)
    a = ap.parse_args()
    write_dims(a.seed, a.out)
    pq.write_table(history_table(rng_for(a.seed, "history")), os.path.join(a.out, "history.parquet"))
    rng = rng_for(a.seed, "arrivals")
    for w in range(a.waves):
        wave = arrival_wave(rng, w)
        write_wave_csv(wave, os.path.join(a.out, f"stream_{wave['day']}.csv"))
    print("wrote", sorted(os.listdir(a.out)))


if __name__ == "__main__":
    main()
