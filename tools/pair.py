#!/usr/bin/env python3
"""Paired benchmark runs of two git revisions.

    python3 tools/pair.py REV_A REV_B --workload W --pairs N
                          [--seed0 S] [--work DIR]

Exports the committed files of both revisions (`git archive`) into
DIR/<sha>/, builds each once, then runs `perfbench/run.py --trace 0`
in the two checkouts alternately, each for BENCHMARK.json's
run_seconds: pair i runs seed S+i on both sides, and the side that goes
first alternates (A first in even pairs). An existing DIR/<sha>/ is
reused with its build.

For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the share of the pairs run that B won (a pair
with a failed run counts as lost), and a verdict:
  gain    B won at least 9 in 10 of the pairs run, and the medians
          differ, in B's favour, by more than A's interquartile range;
  WORSE   otherwise, B's median is worse than A's by more than the
          metric's bound (a relative change);
  unresolved  otherwise, A's runs spread (interquartile range over the
          median) wider than the bound, and not every run of B reads
          better than every run of A;
  within  otherwise.
Below them, with no verdict, the same figures for the parts of setup_s
that each run's record line reports (session start, data generation,
warm-up). Each run's result line and setup parts are also printed, one
JSON line per run. Exits 1 when a run fails, is incorrect or fails ops,
or a metric is WORSE.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GAIN_SHARE = 0.9


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


def checkout(rev, work):
    """The directory holding `rev`'s committed files, exported once."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    d = os.path.join(work, sha)
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"pair: git archive {sha} failed")
        os.rename(tmp, d)
    return sha, d


def build(d):
    """Compile the benchmark in checkout `d`, so no timed run pays for it."""
    subprocess.run([sys.executable, "-c",
                    "import sys; sys.path.insert(0, 'perfbench'); "
                    "import run; run.build()"], cwd=d, check=True)


def run(d, workload, seed, seconds):
    """One benchmark run in checkout `d`: its result line and its setup
    parts, or (None, None)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "0"],
                       cwd=d, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.startswith('{"correct"')]
    records = [l for l in p.stdout.splitlines() if l.startswith('{"record"')]
    if p.returncode != 0 or not lines or not records:
        sys.stderr.write(p.stderr[-2000:])
        return None, None
    setup = json.loads(records[-1])["record"]["setup"]
    return json.loads(lines[-1]), {"session_s": setup["session_s"],
                                   "generate_s": sum(setup["generate_s"]),
                                   "warmup_s": setup["warmup_s"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(metric, a, b, pairs):
    """(wins, verdict) for one metric, over the complete pairs `a`, `b` of
    the `pairs` run."""
    lower = metric["better"] == "lower"
    better = (lambda x, y: y < x) if lower else (lambda x, y: y > x)
    wins = sum(better(x, y) for x, y in zip(a, b))
    q1, ma, q3 = quartiles(a)
    mb = quartiles(b)[1]
    gap = ma - mb if lower else mb - ma  # B's lead in the medians
    if wins >= GAIN_SHARE * pairs and gap > q3 - q1:
        v = "gain"
    elif -gap > metric["bound"] * abs(ma):
        v = "WORSE"
    elif q3 - q1 > metric["bound"] * abs(ma) and \
            not all(better(x, y) for x in a for y in b):
        v = "unresolved"
    else:
        v = "within"
    return wins, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--work", default=os.path.join(ROOT, ".bench_build", "pair"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]

    os.makedirs(a.work, exist_ok=True)
    sides = [checkout(a.rev_a, a.work), checkout(a.rev_b, a.work)]
    for _, d in sides:
        build(d)
    results, setups = ([], []), ([], [])
    bad = 0
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = (0, 1) if i % 2 == 0 else (1, 0)
        got = {}
        for s in order:
            sha, d = sides[s]
            r, setup = run(d, a.workload, seed, bench["run_seconds"])
            print(json.dumps({"pair": i, "side": "AB"[s], "rev": sha[:10],
                              "seed": seed, "result": r, "setup": setup}),
                  flush=True)
            if r is None or not r["correct"] or r["failed"]:
                bad += 1
            got[s] = r, setup
        if got[0][0] and got[1][0]:
            for s in (0, 1):
                results[s].append({m: v["value"] for m, v in got[s][0]["metrics"].items()})
                setups[s].append(got[s][1])

    n = len(results[0])
    print(f"\n{a.workload}: A={sides[0][0][:10]} B={sides[1][0][:10]}, "
          f"{n} complete pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}, "
          f"{bad} failed or incorrect runs")
    if n == 0:
        sys.exit(1)

    def row(name, xa, xb, wins, tail):
        fa, fb = quartiles(xa), quartiles(xb)
        rel = (fb[1] - fa[1]) / fa[1] if fa[1] else 0.0
        print(f"{name:<18} "
              f"{f'{fa[1]:.4g} [{fa[0]:.4g}, {fa[2]:.4g}]':>30} "
              f"{f'{fb[1]:.4g} [{fb[0]:.4g}, {fb[2]:.4g}]':>30} "
              f"{rel:>+8.3f} {f'{wins}/{a.pairs}':>7}  {tail}")

    print(f"{'metric':<18} {'A median [q1, q3]':>30} {'B median [q1, q3]':>30} "
          f"{'B/A-1':>8} {'B won':>7}  verdict")
    worse = False
    for m in metrics:
        xa = [r[m["name"]] for r in results[0]]
        xb = [r[m["name"]] for r in results[1]]
        wins, v = verdict(m, xa, xb, a.pairs)
        worse |= v == "WORSE"
        row(m["name"], xa, xb, wins, f"{v} (bound {m['bound']})")
    print("setup_s parts, no verdict:")
    for part in ("session_s", "generate_s", "warmup_s"):
        xa = [r[part] for r in setups[0]]
        xb = [r[part] for r in setups[1]]
        row(part, xa, xb, sum(y < x for x, y in zip(xa, xb)), "")
    sys.exit(1 if bad or worse else 0)


if __name__ == "__main__":
    main()
