#!/usr/bin/env python3
"""Steadiness check: run the benchmark in two sets of runs of the same
commit and report, per workload and end-to-end metric, each set's median
and quartiles, the spread (interquartile distance over the median) and
whether the two sets agree within the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/baseline/steadiness
    python3 perfbench/steadiness.py --workloads match_serve --runs 5 --sets 1

A set runs every chosen workload once per seed (seeds 1..runs); the second
set repeats the same seeds. The verdict per metric:
  - spread_ok: each set's spread is within the bound (setup_s exempt);
  - agree: the second set's median is not worse than the first's by more
    than the bound;
  - steady: every spread is below a third of the bound.
Writes <out>.json (every run's result) and <out>.md (the table).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return {"workload": workload, "seed": seed, "rc": proc.returncode, "wall_s": wall,
            "result": result, "report": proc.stdout}


def stats(values: list) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "n": len(values)}


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse `second` is than `first`, as a share of `first`."""
    if first == 0:
        return 0.0
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=names, choices=names)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--out", default="")
    a = ap.parse_args()

    runs = []
    for s in range(a.sets):
        for w in a.workloads:
            for seed in range(1, a.runs + 1):
                r = run_once(w, seed, spec["run_seconds"])
                r["set"] = s
                runs.append(r)
                ok = r["result"] is not None and r["rc"] == 0 and r["result"]["correct"]
                print(f"set {s + 1} {w} seed {seed}: {'ok' if ok else 'FAILED'} "
                      f"({r['wall_s']:.1f} s)", flush=True)
                if not ok:
                    print(r["report"][-3000:], file=sys.stderr)

    rows, all_ok = [], True
    for w in a.workloads:
        for m in spec["end_to_end"]:
            sets = []
            for s in range(a.sets):
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                        if r["set"] == s and r["workload"] == w and r["result"]
                        and m["name"] in r["result"]["metrics"]]
                sets.append(stats(vals) if len(vals) >= 2 else None)
            if None in sets:
                all_ok = False
                continue
            bound = m["bound"]
            spread_ok = m["name"] == "setup_s" or all(st["spread"] <= bound for st in sets)
            steady = all(st["spread"] < bound / 3 for st in sets)
            worse = worse_by(sets[0]["median"], sets[-1]["median"], m["better"]) if a.sets == 2 else 0.0
            agree = worse <= bound
            all_ok = all_ok and spread_ok and agree
            rows.append({"workload": w, "metric": m["name"], "unit": m["unit"], "bound": bound,
                         "sets": sets, "second_worse_by": worse, "spread_ok": spread_ok,
                         "agree": agree, "steady": steady})
    failed = [r for r in runs if r["rc"] != 0 or not r["result"] or not r["result"]["correct"]]
    walls = [r["wall_s"] for r in runs]

    lines = [f"# Steadiness: {a.sets} set(s) x {a.runs} seeds, run_seconds {spec['run_seconds']}",
             "",
             f"Runs: {len(runs)}, failed: {len(failed)}; wall per run: median "
             f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s, total {sum(walls):.0f} s.",
             "",
             "| workload | metric | unit | bound | " +
             " | ".join(f"set {i + 1} median [q1, q3] spread" for i in range(a.sets)) +
             " | 2nd worse by | spread ok | agree | steady (< bound/3) |",
             "|---|---|---|---|" + "---|" * a.sets + "---|---|---|---|"]
    for r in rows:
        cells = [f"{st['median']:.5g} [{st['q1']:.5g}, {st['q3']:.5g}] {st['spread']:.3f}"
                 for st in r["sets"]]
        lines.append(f"| {r['workload']} | {r['metric']} | {r['unit']} | {r['bound']} | "
                     + " | ".join(cells) + f" | {r['second_worse_by']:+.3f} | {r['spread_ok']} | "
                     f"{r['agree']} | {r['steady']} |")
    lines += ["", f"Verdict: {'ACCEPT' if all_ok and not failed else 'REJECT'}"]
    text = "\n".join(lines) + "\n"
    print(text)
    if a.out:
        out = Path(a.out)
        out.parent.mkdir(parents=True, exist_ok=True)
        out.with_suffix(".md").write_text(text)
        out.with_suffix(".json").write_text(json.dumps(
            {"rows": rows, "runs": runs},
            indent=1) + "\n")
    return 0 if all_ok and not failed else 1


if __name__ == "__main__":
    sys.exit(main())
