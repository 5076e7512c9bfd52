"""Layer split for the traced run (``--trace 1``).

Nothing here touches the engine's code. The split comes from what the
benchmark can see from outside:

- wall time of the calls the benchmark makes into each module's public
  functions, plus the ``io.sinks`` functions the streaming drains call
  (wrapped on the module objects for the traced run only);
- Spark job groups the benchmark sets around each call (``bench.<phase>``)
  and the run id that Structured Streaming sets as the group of every
  micro-batch job;
- Catalyst phase times from ``QueryPlanningTracker`` after forcing
  ``executedPlan``;
- a ``StreamingQueryListener`` for per-trigger ``durationMs``;
- an uncompressed local event log for jobs, stages, tasks, shuffle bytes
  and spill;
- the JVM's GC MXBeans.

With tracing off every hook below is a no-op, so the end-to-end run pays
nothing for them.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

MB = 1024 * 1024


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    def __init__(self, enabled: bool, work: str) -> None:
        self.enabled = enabled
        self.event_dir = os.path.join(work, "eventlog")
        self.sums: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.groups: dict[str, list[str]] = defaultdict(list)
        self.drain_runs: list[list[str]] = []
        self.drain_walls: list[float] = []
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.run_ids: list[str] = []
        self.spans: list[dict] = []   # written to the trace artifact
        self.round = 0
        self.spark = None
        self.measuring = False
        self._gc0 = 0.0
        self._seq = 0
        self._depth: dict[str, int] = defaultdict(int)

    @property
    def active(self) -> bool:
        """Tracing is on and the measured window is open."""
        return self.enabled and self.measuring

    # -- session -------------------------------------------------------
    def spark_conf(self) -> dict[str, str]:
        if not self.enabled:
            return {}
        os.makedirs(self.event_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.event_dir,
            "spark.eventLog.compress": "false",
        }

    def attach(self, spark) -> None:
        if not self.enabled:
            return
        self.spark = spark
        self._gc0 = self._gc_seconds()
        self._add_listener(spark)
        self._wrap_io()

    def _gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def _add_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress[str(p.runId)].append(
                    {"durationMs": dict(p.durationMs), "rows": p.numInputRows}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer.progress[str(event.runId)].append({"terminated": True})

        spark.streams.addListener(Listener())

    def _wrap_io(self) -> None:
        """Time every public function of ``io.sinks`` wherever a loaded
        engine module holds a reference to it."""
        from music_streaming_data_pipeline_v2_spark.io import sinks
        from music_streaming_data_pipeline_v2_spark.plans import music

        pkg = "music_streaming_data_pipeline_v2_spark"
        targets = [(sinks, n) for n in dir(sinks) if n.startswith("write_")]
        targets.append((music, "write_music_outputs"))
        for owner, name in targets:
            orig = getattr(owner, name)
            if not callable(orig):
                continue
            wrapped = self._timed_fn(orig, "io.write_s")
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(pkg):
                    if getattr(mod, name, None) is orig:
                        setattr(mod, name, wrapped)

    def _timed_fn(self, fn, metric: str):
        """``fn`` timed into ``metric``; nested calls of functions booked
        to the same metric count once."""

        @functools.wraps(fn)
        def wrapper(*a, **k):
            self._depth[metric] += 1
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                self._depth[metric] -= 1
                if self._depth[metric] == 0 and self.measuring:
                    self.sums[metric] += time.perf_counter() - t0

        return wrapper

    # -- phases ----------------------------------------------------------
    @contextlib.contextmanager
    def group(self, phase: str):
        """Run the block under a fresh Spark job group ``bench.<phase>.<n>``
        and remember it under ``phase``."""
        if not self.active:
            yield
            return
        self._seq += 1
        gid = f"bench.{phase}.{self._seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(gid, phase)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            sc._jsc.clearJobGroup()
            self.groups[phase].append(gid)
            self.spans.append({"round": self.round, "name": phase, "group": gid,
                               "start": t0, "end": time.perf_counter()})

    def add(self, metric: str, value: float) -> None:
        if self.active:
            self.sums[metric] += value

    def sample(self, metric: str, value: float) -> None:
        if self.active:
            self.samples[metric].append(value)

    def plan(self, df):
        """Force Catalyst on ``df``; returns (physical plan, analysis +
        optimization + planning ms) and books the time."""
        if not self.active:
            return None
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan()
        ms = 0
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            ms += it.next()._2().durationMs()
        self.sums["catalyst.plan_s"] += ms / 1000.0
        return plan, ms

    @staticmethod
    def scan_files(plan) -> int:
        """Files read by the scans of an executed plan."""
        node = plan
        if "AdaptiveSparkPlanExec" in node.getClass().getName():
            node = node.executedPlan()
        files, it = 0, node.collectLeaves().iterator()
        while it.hasNext():
            m = it.next().metrics()
            if m.contains("numFiles"):
                files += m.apply("numFiles").value()
        return files

    def drain_begin(self) -> int:
        return len(self.run_ids)

    def drain_end(self, mark: int, wall: float) -> None:
        """Book one drain: the streaming runs started since ``mark``."""
        if not self.active:
            return
        runs = self.run_ids[mark:]
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline and not all(
            any(e.get("terminated") for e in self.progress[r]) for r in runs
        ):
            time.sleep(0.02)
        self.drain_runs.append(runs)
        self.drain_walls.append(wall)
        self.spans.append({"round": self.round, "name": "drain", "runs": runs, "wall": wall})

    # -- result ----------------------------------------------------------
    def gc_mark(self, start: bool) -> None:
        """GC time of the measured rounds, from a start and an end mark
        around each round."""
        if not self.enabled:
            return
        now = self._gc_seconds()
        if start:
            self._gc0 = now
        else:
            self.sums["jvm.gc_s"] += now - self._gc0

    def finish(self, rounds: int) -> dict[str, float]:
        """Per-layer metrics; call after ``spark.stop()`` so that the event
        log is complete. Times and job counts are per round unless the
        name says per drain or per lookup."""
        if not self.enabled:
            return {}
        per = max(rounds, 1)
        log = EventLog.read(self.event_dir)
        out = {k: self.sums.get(k, 0.0) / per
               for k in ("io.write_s", "io.files_written", "io.bytes_written",
                         "exec.exec_s", "plans.build_s", "catalyst.plan_s", "jvm.gc_s")}
        out["plans.build_jobs"] = log.count(self.groups["build"]) / per
        measured = [g for gs in self.groups.values() for g in gs]
        measured += [r for runs in self.drain_runs for r in runs]
        for k, v in log.totals(measured).items():
            out[f"exec.{k}"] = v / per
        phases = {
            "trigger_ms": "triggerExecution",
            "add_batch_ms": "addBatch",
            "latest_offset_ms": "latestOffset",
            "get_batch_ms": "getBatch",
            "query_planning_ms": "queryPlanning",
            "wal_commit_ms": "walCommit",
            "commit_offsets_ms": "commitOffsets",
        }
        per_drain: dict[str, list[float]] = defaultdict(list)
        for runs, wall in zip(self.drain_runs, self.drain_walls):
            prog = [e for r in runs for e in self.progress[r] if "durationMs" in e]
            for name, src in phases.items():
                per_drain[name].append(sum(e["durationMs"].get(src, 0) for e in prog))
            per_drain["input_rows"].append(sum(e["rows"] for e in prog))
            per_drain["overhead_ms"].append(wall * 1000.0 - per_drain["trigger_ms"][-1])
            per_drain["jobs_per_drain"].append(log.count(runs))
        for name in [*phases, "input_rows", "overhead_ms", "jobs_per_drain"]:
            out[f"streaming.{name}"] = median(per_drain[name])
        n_lookups = len(self.samples["serving.exec_ms"])
        out["serving.jobs_per_lookup"] = log.count(self.groups["lookup"]) / max(n_lookups, 1)
        for k, v in self.samples.items():
            out[k] = median(v)
        for k, v in self.sums.items():
            out.setdefault(k, v)
        return out


class EventLog:
    """Jobs, stages, tasks, shuffle and spill bytes by job group."""

    def __init__(self) -> None:
        self.job_group: dict[int, str | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_tasks: dict[int, int] = defaultdict(int)
        self.stage_shuffle: dict[int, list[float]] = defaultdict(lambda: [0.0, 0.0, 0.0])
        self.completed_stages: set[int] = set()

    def feed(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            self.job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.job_stages[jid] = list(e.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            self.completed_stages.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            self.stage_tasks[sid] += 1
            m = e.get("Task Metrics") or {}
            r = m.get("Shuffle Read Metrics") or {}
            w = m.get("Shuffle Write Metrics") or {}
            acc = self.stage_shuffle[sid]
            acc[0] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            acc[1] += w.get("Shuffle Bytes Written", 0)
            acc[2] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    @classmethod
    def read(cls, event_dir: str) -> "EventLog":
        """Every event file under ``event_dir`` (single or rolling log)."""
        log = cls()
        paths = glob.glob(os.path.join(event_dir, "*", "events_*"))
        paths += [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
        for path in sorted(paths):
            with open(path) as f:
                for line in f:
                    log.feed(json.loads(line))
        return log

    def count(self, groups) -> int:
        """Jobs launched under any of ``groups``."""
        gs = set(groups)
        return sum(1 for g in self.job_group.values() if g in gs)

    def totals(self, groups) -> dict[str, float]:
        gs = set(groups)
        jobs = [j for j, g in self.job_group.items() if g in gs]
        stages = {s for j in jobs for s in self.job_stages[j] if s in self.completed_stages}
        sh = [self.stage_shuffle[s] for s in stages]
        return {
            "jobs": float(len(jobs)),
            "stages": float(len(stages)),
            "tasks": float(sum(self.stage_tasks[s] for s in stages)),
            "shuffle_read_mb": sum(x[0] for x in sh) / MB,
            "shuffle_write_mb": sum(x[1] for x in sh) / MB,
            "spill_mb": sum(x[2] for x in sh) / MB,
        }
