"""The two workloads. Each round is a fixed sequence of operations; a run
repeats whole rounds until its measuring time is used up.

- ``music_backfill``: one cache-cold backfill (``run_music_pipeline`` then
  ``write_music_outputs`` into a fresh directory), then key lookups
  against the KV table it wrote.
- ``arrivals_serve``: one day's stream file lands and is drained by
  ``run_incremental_pipeline(maintain_kv=True)`` with quarantine and
  archive, then key lookups against the committed ``kv``.

Checks run between rounds, outside every timed span.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import gen
import checks
from host import tree_cpu_seconds, tree_size

# enough lookups a run (>= 40) for a tail with ten samples beyond it
LOOKUPS_PER_ROUND = 14
PATTERNS = ("prefix", "exact", "between")


def cpu() -> float:
    """CPU seconds used so far by this process and its descendants."""
    return tree_cpu_seconds(os.getpid())


@dataclass
class RoundResult:
    write_s: float = 0.0          # the round's write op (backfill or drain), wall
    write_cpu_s: float = 0.0      # the same op, CPU seconds of the process tree
    reads_ms: list[float] = field(default_factory=list)       # wall per read
    reads_cpu_ms: list[float] = field(default_factory=list)   # CPU per read
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


class Workload:
    name = ""
    round_s = 5.0   # nominal seconds of one round; sets the round count

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.work = ctx.work
        self.inputs = os.path.join(ctx.work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)
        self.keys = random.Random(ctx.seed * 7_919 + 17)

    def path(self, *parts: str) -> str:
        return os.path.join(self.inputs, *parts)

    def output_dirs(self) -> list[str]:
        """Directories whose bytes make up ``store_mb``."""
        raise NotImplementedError

    def drop_old(self) -> None:
        """Remove what the next rounds no longer need (after the checks)."""

    def state_dirs(self) -> list[str]:
        """Directories of streaming ingest state (none for a batch job)."""
        return self.output_dirs()

    def store_bytes(self) -> int:
        return sum(tree_size(d)[1] for d in self.output_dirs())

    # -- KV lookups (music_backfill, arrivals_serve) ----------------------
    def pick_keys(self, days: list[str]) -> list[tuple]:
        """Seeded lookup keys: recent days favoured, genres skewed like
        the plays so most keys hit."""
        out = []
        for i in range(LOOKUPS_PER_ROUND):
            back = min(int(self.keys.expovariate(0.7)), len(days) - 1)
            day = days[-1 - back]
            g = min(int(self.keys.paretovariate(0.9)) - 1, gen.N_GENRES - 1)
            genre = f"genre{g:03d}"
            pattern = PATTERNS[i % 3]
            if pattern == "prefix":
                out.append((pattern, f"GENRE#{genre}#DATE#{day}", "SONG#", None))
            elif pattern == "exact":
                out.append((pattern, f"GENRE#{genre}#DATE#{day}", "METRIC#listen_count", None))
            else:
                out.append((pattern, f"DATE#{day}", "GENRE_RANK#1", "GENRE_RANK#3"))
        return out

    def lookups(self, kv_dir: str, keys: list[tuple], res: RoundResult) -> list[list[dict]]:
        from music_streaming_data_pipeline_v2_spark.operators import serving

        tr = self.ctx.tracer
        kv = self.ctx.spark.read.parquet(kv_dir)
        got = []
        for pattern, pk, a, b in keys:
            c0 = cpu()
            t0 = time.perf_counter()
            with tr.group("lookup"):
                if pattern == "prefix":
                    df = serving.query_pk_prefix(kv, pk, a)
                elif pattern == "exact":
                    df = serving.query_pk_sk(kv, pk, a)
                else:
                    df = serving.query_pk_sk_between(kv, pk, a, b)
                planned = tr.plan(df)
                t1 = time.perf_counter()
                out = [r.asDict() for r in df.collect()]
            t2 = time.perf_counter()
            res.reads_cpu_ms.append((cpu() - c0) * 1000.0)
            res.reads_ms.append((t2 - t0) * 1000.0)
            if planned is not None:
                tr.sample("catalyst.plan_ms_per_lookup", planned[1])
                tr.sample("serving.exec_ms", (t2 - t1) * 1000.0)
                tr.sample("serving.files_read", tr.scan_files(planned[0]))
                tr.sample("serving.rows_returned", len(out))
            got.append(out)
        res.attempted += len(keys)
        return got

    def check_lookups(self, keys, got, kv_ref, res: RoundResult) -> None:
        for (pattern, pk, a, b), rows in zip(keys, got):
            errs = checks.check_lookup(rows, checks.lookup_reference(kv_ref, pattern, pk, a, b))
            if errs:
                res.failed += 1
                res.errors += errs


class MusicBackfill(Workload):
    name = "music_backfill"
    round_s = 5.0
    WARMUP_SLICE_DAYS = 3

    def generate(self) -> None:
        seed = self.ctx.seed
        gen.write_dims(seed, self.inputs)
        import pyarrow.parquet as pq

        pq.write_table(gen.history_table(gen.rng_for(seed, "history")), self.path("history.parquet"))
        self.days = [
            (gen.HISTORY_START + gen.dt.timedelta(days=d)).isoformat()
            for d in range(gen.HISTORY_DAYS)
        ]
        self.rounds = 0

    def load(self) -> None:
        spark = self.ctx.spark
        self.songs = spark.read.parquet(self.path("songs.parquet"))
        self.users = spark.read.parquet(self.path("users.parquet"))
        self.history = spark.read.parquet(self.path("history.parquet"))

    def warmup(self) -> None:
        """Unmeasured backfills: first over the history's first
        ``WARMUP_SLICE_DAYS`` days (a cold JVM loads and compiles the
        same code paths for less wall time), then over the whole history,
        followed by a round of lookups. CPU per backfill falls over the
        first full-size backfills of a fresh JVM while the JIT compiles."""
        from pyspark.sql import functions as F

        last = (gen.HISTORY_START + gen.dt.timedelta(days=self.WARMUP_SLICE_DAYS)).isoformat()
        inputs = [self.history.where(F.col("listen_time") < F.lit(last).cast("timestamp")),
                  self.history]
        for k, history in enumerate(inputs):
            out = os.path.join(self.work, "warmup", str(k))
            self._backfill(history, out)
            self.ctx.spark.catalog.clearCache()
        self.lookups(os.path.join(out, "kv"), self.pick_keys(self.days), RoundResult())
        self.ctx.spark.catalog.clearCache()

    def _backfill(self, history, out: str) -> float:
        from music_streaming_data_pipeline_v2_spark.plans.music import (
            run_music_pipeline,
            write_music_outputs,
        )

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.group("build"):
            outputs = run_music_pipeline(history, self.songs, self.users)
        t1 = time.perf_counter()
        tr.add("plans.build_s", t1 - t0)
        for df in (outputs.genre_kpis, outputs.top_songs, outputs.top_genres, outputs.kv):
            tr.plan(df)
        t2 = time.perf_counter()
        with tr.group("exec"):
            write_music_outputs(outputs, out)
        t3 = time.perf_counter()
        tr.add("exec.exec_s", t3 - t2)
        return (t1 - t0) + (t3 - t2)

    def round(self) -> RoundResult:
        res = RoundResult()
        spark = self.ctx.spark
        spark.catalog.clearCache()
        out = os.path.join(self.work, "out", f"backfill{self.rounds}")
        c0 = cpu()
        res.write_s = self._backfill(self.history, out)
        res.write_cpu_s = cpu() - c0
        res.attempted += 1
        keys = self.pick_keys(self.days)
        got = self.lookups(os.path.join(out, "kv"), keys, res)
        spark.catalog.clearCache()
        self.rounds += 1
        self._pending = (out, keys, got)
        return res

    def check(self, res: RoundResult) -> None:
        out, keys, got = self._pending
        if not hasattr(self, "ref"):
            con = checks.connect(self.path("songs.parquet"), self.path("users.parquet"))
            self.ref = checks.music_reference(
                con, f"SELECT * FROM '{self.path('history.parquet')}'"
            )
            self.con = con
        errs = checks.check_backfill(
            checks.read_dataset(self.con, os.path.join(out, "genre_kpis")),
            checks.read_dataset(self.con, os.path.join(out, "kv")),
            self.ref,
        )
        if errs:
            res.failed += 1
            res.errors += errs
        self.check_lookups(keys, got, self.ref["kv"], res)
        self.last_out = out

    def drop_old(self) -> None:
        """Keep only the newest backfill on disk."""
        root = os.path.join(self.work, "out")
        for d in os.listdir(root):
            if os.path.join(root, d) != self.last_out:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    def output_dirs(self) -> list[str]:
        return [os.path.join(self.work, "out")]

    def state_dirs(self) -> list[str]:
        return []


class ArrivalsServe(Workload):
    name = "arrivals_serve"
    round_s = 4.0
    WARMUP_DRAINS = 2

    def generate(self) -> None:
        gen.write_dims(self.ctx.seed, self.inputs)
        self.wave_rng = gen.rng_for(self.ctx.seed, "arrivals")
        self.staged = self.path("staged")
        os.makedirs(self.staged, exist_ok=True)
        self.waves: list[dict] = []
        for _ in range(6):
            self._stage_next()
        warm_rng = gen.rng_for(self.ctx.seed, "warmup")
        self.warm_waves = []
        for k in range(self.WARMUP_DRAINS):
            wave = gen.arrival_wave(warm_rng, k)
            path = os.path.join(self.work, "warmup", "staged", f"stream_{wave['day']}.csv")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            gen.write_wave_csv(wave, path)
            self.warm_waves.append(path)
        self.watch = os.path.join(self.work, "in")
        os.makedirs(self.watch, exist_ok=True)
        self.delivered: list[tuple] = []   # parseable rows landed so far
        self.days: list[str] = []

    def _stage_next(self) -> None:
        wave = gen.arrival_wave(self.wave_rng, len(self.waves))
        wave["file"] = os.path.join(self.staged, f"stream_{wave['day']}.csv")
        gen.write_wave_csv(wave, wave["file"])
        self.waves.append(wave)

    def load(self) -> None:
        spark = self.ctx.spark
        self.songs = spark.read.parquet(self.path("songs.parquet"))
        self.users = spark.read.parquet(self.path("users.parquet"))
        self.con = checks.connect(self.path("songs.parquet"), self.path("users.parquet"))

    def _drain(self, base: str, watch: str) -> None:
        from music_streaming_data_pipeline_v2_spark.streaming.pipeline import (
            run_incremental_pipeline,
        )

        run_incremental_pipeline(
            self.ctx.spark, watch, self.songs, self.users,
            os.path.join(base, "out"), os.path.join(base, "ckpt"),
            archive_dir=os.path.join(base, "archive"),
            quarantine_dir=os.path.join(base, "quarantine"),
            maintain_kv=True,
        )

    def warmup(self) -> None:
        """Unmeasured drains of full-size waves into a stream of their own,
        then a round of lookups; CPU per drain still falls for several
        drains in a fresh JVM."""
        base = os.path.join(self.work, "warmup")
        watch = os.path.join(base, "in")
        os.makedirs(watch, exist_ok=True)
        days = []
        for path in self.warm_waves:
            os.rename(path, os.path.join(watch, os.path.basename(path)))
            self._drain(base, watch)
            days.append(os.path.basename(path)[len("stream_"):-len(".csv")])
        self.lookups(os.path.join(base, "out", "kv"), self.pick_keys(days), RoundResult())

    def round(self) -> RoundResult:
        res = RoundResult()
        k = len(self.days)
        if k >= len(self.waves):
            self._stage_next()
        wave = self.waves[k]
        landed = os.path.join(self.watch, os.path.basename(wave["file"]))
        os.rename(wave["file"], landed)
        tr = self.ctx.tracer
        mark = tr.drain_begin()
        c0, t0 = cpu(), time.perf_counter()
        self._drain(self.work, self.watch)
        res.write_s = time.perf_counter() - t0
        res.write_cpu_s = cpu() - c0
        tr.drain_end(mark, res.write_s)
        tr.add("exec.exec_s", res.write_s)
        rows = list(zip(wave["user_id"], wave["track_id"], wave["listen_time"], wave["kind"]))
        self.delivered += [r[:3] for r in rows if r[3] != "invalid"]
        self.days.append(wave["day"])
        res.attempted += 1
        keys = self.pick_keys(self.days)
        got = self.lookups(os.path.join(self.work, "out", "kv"), keys, res)
        self._pending = (k, wave, keys, got)
        return res

    def check(self, res: RoundResult) -> None:
        import pyarrow as pa

        batch, wave, keys, got = self._pending
        out = os.path.join(self.work, "out")
        part = f"_batch_id={batch}"
        validated = checks.rows(
            self.con,
            "SELECT user_id, track_id, strftime(CAST(listen_time AS TIMESTAMP), "
            "'%Y-%m-%d %H:%M:%S') AS t FROM read_parquet("
            f"'{out}/validated/*/{part}/*.parquet')",
        )
        quarantined = checks.rows(
            self.con,
            "SELECT user_id, track_id, listen_time AS t FROM read_parquet("
            f"'{self.work}/quarantine/{part}/*.parquet')",
        )
        kinds = list(zip(wave["user_id"], wave["track_id"], wave["listen_time"], wave["kind"]))
        errs = checks.check_multiset(
            [(r["user_id"], r["track_id"], r["t"]) for r in validated],
            [r[:3] for r in kinds if r[3] != "invalid"], "validated",
        ) + checks.check_multiset(
            [(r["user_id"], r["track_id"], r["t"]) for r in quarantined],
            [r[:3] for r in kinds if r[3] == "invalid"], "quarantine",
        )
        if errs:
            res.failed += 1
            res.errors += errs
        self.con.register(
            "delivered",
            pa.table({
                "user_id": [r[0] for r in self.delivered],
                "track_id": [r[1] for r in self.delivered],
                "listen_time": [r[2] for r in self.delivered],
            }),
        )
        ref = checks.music_reference(
            self.con,
            "SELECT user_id, track_id, CAST(listen_time AS TIMESTAMP) AS listen_time FROM delivered",
        )
        self.check_lookups(keys, got, ref["kv"], res)

    def output_dirs(self) -> list[str]:
        return [os.path.join(self.work, d) for d in ("out", "ckpt", "quarantine")]


WORKLOADS = {w.name: w for w in (MusicBackfill, ArrivalsServe)}
