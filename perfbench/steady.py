"""Steadiness of the benchmark: run it on several seeds and print, per
workload and end-to-end metric, the median, the quartiles and the spread
``(q3 - q1) / median`` against the metric's bound in ``BENCHMARK.json``,
plus the steal time of every run.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--save set1.json]
    python3 perfbench/steady.py --load set2.json --against set1.json
    python3 perfbench/steady.py --overhead --seeds 1-2

``--against`` also checks that no median of the second set is worse than
the first by more than the bound. ``--overhead`` runs each seed untraced
and traced and prints how much tracing moves each end-to-end metric.
Saved sets go to ``perfbench/.work/`` unless the path is absolute.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["host"] = json.loads(lines[-2])["host"]
    out["seed"] = seed
    return out


def summarize(runs: dict[str, list[dict]], against: dict | None = None) -> bool:
    bench = spec()
    ok = True
    for wl, rs in runs.items():
        print(f"\n== {wl}: {len(rs)} runs; steal s per run: "
              + " ".join(f"{r['host']['steal_s']:.1f}" for r in rs)
              + "; run s: " + " ".join(f"{r['host']['run_s']:.0f}" for r in rs))
        fails = {r["failed"] / r["attempted"] for r in rs}
        print(f"   failed share per run: {sorted(fails)}; all correct: {all(r['correct'] for r in rs)}")
        print(f"   {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>8}{'bound':>7}  verdict")
        for m in bench["end_to_end"]:
            name = m["name"]
            vals = [r["metrics"][name]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            verdict = "ok" if spread <= m["bound"] else "TOO WIDE"
            if verdict != "ok":
                ok = False
            if against and wl in against:
                old = statistics.median(r["metrics"][name]["value"] for r in against[wl])
                worse = (med - old) / old if m["better"] == "lower" else (old - med) / old
                verdict += f"; vs first set {worse:+.1%}"
                if worse > m["bound"]:
                    verdict += " WORSE"
                    ok = False
            print(f"   {name:<14}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>8.1%}{m['bound']:>7}  {verdict}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seconds", type=int, default=0, help="default: run_seconds")
    ap.add_argument("--save", default="")
    ap.add_argument("--load", default="")
    ap.add_argument("--against", default="")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    bench = spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    path = lambda p: p if os.path.isabs(p) else os.path.join(WORK, p)  # noqa: E731
    os.makedirs(WORK, exist_ok=True)

    if a.overhead:
        for wl in workloads:
            for seed in seeds_of(a.seeds):
                plain = run_once(wl, seed, seconds, 0)
                run_once(wl, seed, seconds, 1)
                with open(os.path.join(WORK, f"trace-{wl}-{seed}.json")) as f:
                    traced = json.load(f)["end_to_end_traced"]
                diffs = ", ".join(
                    f"{k} {traced[k] / v['value'] - 1:+.1%}" for k, v in plain["metrics"].items()
                )
                print(f"{wl} seed {seed}: traced vs untraced: {diffs}")
        return 0

    if a.load:
        with open(path(a.load)) as f:
            runs = json.load(f)
    else:
        runs = {}
        for wl in workloads:
            runs[wl] = []
            for seed in seeds_of(a.seeds):
                r = run_once(wl, seed, seconds, 0)
                runs[wl].append(r)
                print(f"{wl} seed {seed}: run {r['host']['run_s']:.0f}s "
                      f"steal {r['host']['steal_s']:.1f}s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
        if a.save:
            with open(path(a.save), "w") as f:
                json.dump(runs, f)
    against = None
    if a.against:
        with open(path(a.against)) as f:
            against = json.load(f)
    return 0 if summarize(runs, against) else 1


if __name__ == "__main__":
    sys.exit(main())
