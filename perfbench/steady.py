"""Steadiness helper: run the benchmark over several seeds, then report
each metric's median, quartiles and spread against the bounds in
``BENCHMARK.json``.

    python3 perfbench/steady.py run --workload dashboard --seeds 1-10 --out a.jsonl
    python3 perfbench/steady.py run --workload dashboard --seeds 11-20 --out b.jsonl
    python3 perfbench/steady.py report a.jsonl b.jsonl
    python3 perfbench/steady.py overhead untraced.jsonl traced.jsonl

``report`` takes one or two sets of runs.  For each set and metric it
prints the median, the first and third quartile (``statistics.quantiles``
with n=4) and the spread, (q3 - q1) / median, flagged when it exceeds the
metric's bound.  With two sets it also prints how much worse the second
median is than the first, flagged when that exceeds the bound.
``overhead`` prints traced minus untraced end-to-end medians, read from
the ``#`` lines each run prints.  ``--out`` files are JSON lines, one run
each.
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


def seeds(text: str) -> list[int]:
    """``"1-10"`` or ``"3,5,8"`` → seeds."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(args) -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    with open(args.out, "a") as f:
        for seed in seeds(args.seeds):
            cmd = [*spec["command"], "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=900)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                return 1
            printed = {}
            for ln in lines[:-1]:
                parts = ln.split()
                if len(parts) >= 4 and parts[0] == "#":
                    try:
                        printed[parts[2]] = float(parts[3])
                    except ValueError:
                        pass
            rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
                   "result": json.loads(lines[-1]), "printed": printed}
            f.write(json.dumps(rec) + "\n")
            f.flush()
            m = rec["result"]["metrics"]
            print(f"seed {seed}: correct={rec['result']['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()))
    return 0


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def stats(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def report(args) -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    sets = [load(p) for p in args.sets]
    bad = 0
    workloads = sorted({r["workload"] for s in sets for r in s})
    for wl in workloads:
        medians = []
        for i, runs in enumerate(sets):
            runs = [r for r in runs if r["workload"] == wl]
            failed = sum(r["result"]["failed"] for r in runs)
            print(f"{wl} set {i + 1}: {len(runs)} runs, {failed} failed ops")
            meds = {}
            for name in runs[0]["result"]["metrics"]:
                vals = [r["result"]["metrics"][name]["value"] for r in runs]
                med, q1, q3, spread = stats(vals)
                meds[name] = med
                bound = metrics.get(name, {}).get("bound")
                flag = ""
                if bound is not None and name != "setup_s" and spread > bound:
                    flag, bad = "  SPREAD OVER BOUND", bad + 1
                elif bound is not None and spread > bound / 3:
                    flag = "  (over a third of the bound)"
                print(f"  {name:40s} median {med:12.5g}  q1 {q1:12.5g}  "
                      f"q3 {q3:12.5g}  spread {spread:6.3f}"
                      + (f" / bound {bound}" if bound is not None else "") + flag)
            medians.append(meds)
        if len(medians) == 2:
            print(f"{wl} set 2 vs set 1 (positive = worse):")
            for name, m1 in medians[0].items():
                m2 = medians[1][name]
                spec_m = metrics.get(name, {})
                sign = 1 if spec_m.get("better", "lower") == "lower" else -1
                worse = sign * (m2 - m1) / m1
                bound = spec_m.get("bound")
                flag = ""
                if bound is not None and worse > bound:
                    flag, bad = "  WORSE THAN BOUND", bad + 1
                print(f"  {name:40s} {worse:+.3f}" + (f" / bound {bound}" if bound else "")
                      + flag)
    return 1 if bad else 0


def overhead(args) -> int:
    plain, traced = load(args.untraced), load(args.traced)
    for wl in sorted({r["workload"] for r in plain}):
        p = [r["printed"] for r in plain if r["workload"] == wl]
        t = [r["printed"] for r in traced if r["workload"] == wl]
        print(f"{wl}: traced minus untraced medians")
        for name in ("op_p50_ms", "op_tail_ms", "query_p50_ms", "meta_p50_ms",
                     "commit_p50_ms"):
            if name in p[0] and t and name in t[0]:
                a = statistics.median(r[name] for r in p)
                b = statistics.median(r[name] for r in t)
                print(f"  {name:20s} {b - a:+10.2f} ms  ({(b - a) / a:+.1%})")
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    rep = sub.add_parser("report")
    rep.add_argument("sets", nargs="+")
    ov = sub.add_parser("overhead")
    ov.add_argument("untraced")
    ov.add_argument("traced")
    args = ap.parse_args(argv)
    return {"run": run, "report": report, "overhead": overhead}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
