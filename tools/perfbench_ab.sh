#!/bin/sh
# Interleaved perfbench A/B of the working tree against a parent ref.
#
#   tools/perfbench_ab.sh <parent-ref> <workload> [pairs] [first-seed]
#
# Exports <parent-ref> into a throwaway directory (git archive, under
# $TMPDIR or /tmp, removed on exit), then runs
# `python3 perfbench/run.py --workload <workload> --seed N --seconds S
# --trace 0` once in each tree per pair, on fresh seeds first-seed,
# first-seed+1, ... (default 10 pairs from seed 4; S is the working
# tree's BENCHMARK.json `run_seconds`). Even pairs run the parent first, odd
# pairs the working tree first, so drift on the host does not favour one
# side. Each tree builds its own engine once, before its first run.
#
# Prints one line per run on stderr and one JSON object on stdout: for
# every end-to-end metric of BENCHMARK.json, the per-side median and
# interquartile range, the per-pair values, the number of pairs the
# working tree wins, and whether the gain rule holds (wins >= 9 of 10,
# scaled to the pair count, and a median gap above the parent's IQR).
# A pair where either run reports failed operations counts as a loss.
set -eu

REF="${1:?usage: tools/perfbench_ab.sh <parent-ref> <workload> [pairs] [first-seed]}"
WORKLOAD="${2:?usage: tools/perfbench_ab.sh <parent-ref> <workload> [pairs] [first-seed]}"
PAIRS="${3:-10}"
SEED0="${4:-4}"
REPO="$(git rev-parse --show-toplevel)"
PARENT="$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")"
trap 'rm -rf "$PARENT"' EXIT INT TERM
git -C "$REPO" archive "$REF" | tar -x -C "$PARENT"

REPO="$REPO" PARENT="$PARENT" REF="$REF" WORKLOAD="$WORKLOAD" PAIRS="$PAIRS" \
  SEED0="$SEED0" python3 - <<'EOF'
import json, os, statistics, subprocess, sys

env = os.environ
pairs, seed0 = int(env["PAIRS"]), int(env["SEED0"])
trees = {"parent": env["PARENT"], "change": env["REPO"]}
with open(os.path.join(env["REPO"], "BENCHMARK.json")) as f:
    bench = json.load(f)
gated, secs = bench["end_to_end"], str(bench["run_seconds"])


def run(side, seed):
    cmd = ["python3", "perfbench/run.py", "--workload", env["WORKLOAD"],
           "--seed", str(seed), "--seconds", secs, "--trace", "0"]
    p = subprocess.run(cmd, cwd=trees[side], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"perfbench_ab: {side} run on seed {seed} failed (exit {p.returncode})")
    res = json.loads(lines[-1])
    vals = {m: v["value"] for m, v in res["metrics"].items()}
    print(f"perfbench_ab: seed {seed} {side:6s} failed={res['failed']} " +
          " ".join(f"{m}={v:.4g}" for m, v in vals.items()), file=sys.stderr, flush=True)
    return res["failed"], vals


runs = []
for i in range(pairs):
    seed = seed0 + i
    order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
    got = {side: run(side, seed) for side in order}
    runs.append((seed, got["parent"], got["change"]))


def quartiles(xs):
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3


out = {"metric": "perfbench_ab", "parent_ref": env["REF"], "workload": env["WORKLOAD"],
       "seconds": float(secs), "seeds": [r[0] for r in runs],
       "failed": {"parent": sum(r[1][0] for r in runs), "change": sum(r[2][0] for r in runs)},
       "metrics": {}}
need = -(-9 * pairs // 10)
for m in gated:
    name, lower = m["name"], m["better"] == "lower"
    a = [r[1][1][name] for r in runs]
    b = [r[2][1][name] for r in runs]
    wins = sum(1 for r, x, y in zip(runs, a, b)
               if r[1][0] == 0 and r[2][0] == 0 and (y < x if lower else y > x))
    qa, qb = quartiles(a), quartiles(b)
    gap = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
    out["metrics"][name] = {
        "unit": m["unit"], "better": m["better"],
        "parent": {"median": qa[1], "iqr": qa[2] - qa[0], "runs": a},
        "change": {"median": qb[1], "iqr": qb[2] - qb[0], "runs": b},
        "change_over_parent": qb[1] / qa[1] if qa[1] else None,
        "wins": wins, "pairs": pairs,
        "gain": wins >= need and gap > qa[2] - qa[0]}
print(json.dumps(out))
EOF
