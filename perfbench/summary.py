"""Run workloads over several seeds and summarise run-to-run spread.

    python3 perfbench/summary.py --seeds 1-10
    python3 perfbench/summary.py --seeds 1-5 --workloads clips_window clips_window_1c

Each (workload, seed) is one ``run.py`` process, exactly as the benchmark is
invoked. For every end-to-end metric the summary prints the median, the
quartiles (``statistics.quantiles(values, n=4)``) and their distance as a
share of the median, next to the metric's bound in BENCHMARK.json. When both
``clips_window`` and ``clips_window_1c`` ran it also prints the north-rule
figure ``scaling_eff_1to4`` = median clips_per_s of clips_window / (4 ×
median clips_per_s of clips_window_1c). Raw results go to
``.perfbench_work/summary-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartiles, relative_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if out.returncode in (0, 1) and lines else None
    return {"workload": workload, "seed": seed, "rc": out.returncode, "elapsed_s": time.time() - t0, "result": result}


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)

    runs = []
    for w in args.workloads:
        for s in seeds(args.seeds):
            r = run_one(w, s, args.seconds, args.trace)
            runs.append(r)
            res = r["result"] or {}
            print(f"{w} seed={s} rc={r['rc']} {r['elapsed_s']:.1f}s correct={res.get('correct')} "
                  f"failed={res.get('failed')}/{res.get('attempted')}", flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_work", f"summary-{int(time.time())}.json"), "w") as fh:
        json.dump(runs, fh)

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    medians: dict[str, dict[str, float]] = {}
    ok = True
    for w in args.workloads:
        good = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        elapsed = [r["elapsed_s"] for r in runs if r["workload"] == w]
        print(f"\n{w}: {len(good)} runs, elapsed median {median(elapsed):.1f}s max {max(elapsed):.1f}s, "
              f"failed ops {sum(g['failed'] for g in good)}/{sum(g['attempted'] for g in good)}")
        if not good:
            ok = False
            continue
        medians[w] = {}
        for name in good[0]["metrics"]:
            vals = [g["metrics"][name]["value"] for g in good]
            q1, q3 = quartiles(vals)
            spread = relative_spread(vals)
            bound = bounds.get(name)
            flag = ""
            if bound is not None and name != "setup_s":
                flag = "ok" if spread < bound / 3 else ("within bound" if spread < bound else "TOO WIDE")
                ok &= spread < bound
            medians[w][name] = median(vals)
            print(f"  {name:<24} median {median(vals):12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:7.4f}  bound {bound}  {flag}")
    if "clips_window" in medians and "clips_window_1c" in medians:
        eff = medians["clips_window"]["clips_per_s"] / (4 * medians["clips_window_1c"]["clips_per_s"])
        print(f"\nscaling_eff_1to4 = {eff:.3f} (north rule: >= 0.8)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
