#!/usr/bin/env python3
"""Alternating A/B of the repo benchmark between a revision and HEAD.

    python3 scripts/perf_ab.py --base HEAD~1 --pairs 10 --seed 41 \
        [--workload trend --workload corpus_store] [--workdir DIR]

Exports the committed files of the base revision and of HEAD each into its
own directory under `--workdir` (`git archive`, so each side builds from a
fresh checkout's files into its own `.bench_build/`), then runs
`perfbench/run.py --workload W --seed S --seconds N --trace 0` once per
side per pair, alternating which side runs first; N is `run_seconds` of
HEAD's `BENCHMARK.json`, so both sides run the benchmark's own length. It
only reads perfbench. For each workload and end-to-end metric of
`BENCHMARK.json` it prints each side's median and quartiles and the number
of pairs the head side won (ties count for neither), plus failed
operations; the last line of standard output is the same summary as JSON. Every run's metrics are
appended to `<workdir>/runs.jsonl` as they finish, each with its result
file's `details` (per-kind latencies) and `cpu_steal_share`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def export(rev, dest):
    """The committed files of `rev` in `dest` (reused if it holds `rev`)."""
    sha = subprocess.check_output(["git", "rev-parse", rev], text=True).strip()
    marker = os.path.join(dest, ".rev")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() != sha:
                sys.exit(f"perf_ab: {dest} holds another revision; use a fresh --workdir")
    else:
        os.makedirs(dest, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", dest], stdin=archive.stdout)
        if archive.wait() != 0:
            sys.exit(f"perf_ab: git archive {rev} failed")
        with open(marker, "w") as f:
            f.write(sha)
    return sha


def run(checkout, workload, seed, seconds):
    """One untraced benchmark run; its last stdout line parsed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        sys.exit(f"perf_ab: run in {checkout} exited with {p.returncode}")
    out = json.loads(lines[-1])
    # the run's result file: per-kind latencies and the host's CPU steal
    result = os.path.join(checkout, ".bench_build", "results",
                          f"{workload}-s{seed}-t0.json")
    with open(result) as f:
        rec = json.load(f)
    out["details"] = rec.get("details", {})
    out["cpu_steal_share"] = rec.get("cpu_steal_share")
    return out


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="revision to compare against")
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workdir", default=os.path.join(tempfile.gettempdir(), "perf_ab"))
    a = ap.parse_args()

    sides = {}
    for side, rev in (("base", a.base), ("head", "HEAD")):
        dest = os.path.join(a.workdir, side)
        sides[side] = (dest, export(rev, dest))
    with open(os.path.join(sides["head"][0], "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    print(f"base {a.base} = {sides['base'][1][:12]}, head HEAD = {sides['head'][1][:12]}")

    runs = {w: {"base": [], "head": []} for w in workloads}
    log = open(os.path.join(a.workdir, "runs.jsonl"), "a")
    for i in range(a.pairs):
        for w in workloads:
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for side in order:
                out = run(sides[side][0], w, a.seed, seconds)
                runs[w][side].append(out)
                log.write(json.dumps({"pair": i, "workload": w, "side": side, **out}) + "\n")
                log.flush()
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items())
                print(f"pair {i} {w} {side}: failed={out['failed']} {vals}", flush=True)

    summary = {}
    for w in workloads:
        print(f"\n{w} ({a.pairs} pairs, seed {a.seed})")
        print(f"  {'metric':<16} {'base median [q1-q3]':>28} {'head median [q1-q3]':>28} wins")
        summary[w] = {}
        for name, sense in better.items():
            b = [r["metrics"][name]["value"] for r in runs[w]["base"]]
            h = [r["metrics"][name]["value"] for r in runs[w]["head"]]
            wins = sum((y < x) if sense == "lower" else (y > x) for x, y in zip(b, h))
            (bq1, bm, bq3), (hq1, hm, hq3) = quartiles(b), quartiles(h)
            print(f"  {name:<16} {bm:>12.4g} [{bq1:.4g}-{bq3:.4g}] "
                  f"{hm:>12.4g} [{hq1:.4g}-{hq3:.4g}] {wins}/{len(b)}")
            summary[w][name] = {"base": {"median": bm, "q1": bq1, "q3": bq3},
                                "head": {"median": hm, "q1": hq1, "q3": hq3},
                                "head_wins": wins, "pairs": len(b)}
        failed = {s: sum(r["failed"] for r in runs[w][s]) for s in ("base", "head")}
        print(f"  failed operations: base {failed['base']}, head {failed['head']}")
        summary[w]["failed"] = failed
    print(json.dumps(summary, sort_keys=True))


if __name__ == "__main__":
    main()
