#!/usr/bin/env python3
"""Repository benchmark: the `pipe`, `curate` and `store` closed-loop
workloads, each run in one benchmark JVM on local[nproc] with one client
thread.

    python3 perfbench/run.py --workload pipe|curate|store --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S
    python3 perfbench/run.py --report perfbench/results/trace_seed1.json \
        --seed 1 --seconds 15
    python3 perfbench/run.py --self-test

Run it from the repository root. The first run builds the engine and the
benchmark with sbt (perfbench/build.sbt); later runs reuse the build until
a source file changes. Every input is generated from --seed. The last line
of standard output is one JSON object: with --trace 0 it carries the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced run.
The lines before it print every metric the workload measured, by name and
unit, and every failed output check.

--report runs each workload untraced and traced on one seed and writes the
per-layer numbers, the spans and the tracing overhead (traced minus
untraced) for every end-to-end metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LAUNCHER = os.path.join(BENCH, "target", "launcher.txt")
CONTRACT = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ["pipe", "curate", "store"]
RUN_LIMIT_S = 170  # one run must end within 180 s, build excluded
HEAP = ["-Xms3g", "-Xmx3g"]

SPANS = ["pipe.job", "curate.prep", "curate.neardup", "curate.components",
         "curate.finish", "store.init", "store.admit", "store.probe",
         "store.compact"]
SPAN_COUNTERS = [("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                 ("cpu_s", "s"), ("shuffle_write_mb", "MB"),
                 ("spill_mb", "MB"), ("gc_s", "s"), ("driver_gap_s", "s")]
SPAN_MOVES = {"pipe": ("pipe_job_s.p50", "pipe"),
              "curate": ("curate_run_s.p50", "curate"),
              "store.init": ("store_init_s", "store"),
              "store.admit": ("admit_s.p50", "store"),
              "store.probe": ("probe_s.p50", "store"),
              "store.compact": ("compact_s.p50", "store")}

# Per-layer metrics: (name, unit, better, end-to-end metric it should
# move, workload that shows it).
LAYER = [(f"{s}.{c}", u, "lower") + SPAN_MOVES.get(s, SPAN_MOVES.get(s.split(".")[0]))
         for s in SPANS for c, u in SPAN_COUNTERS] + [
    ("pipe.forks", "count", "lower", "pipe_job_s.p50", "pipe"),
    ("pipe.fork_s", "s", "lower", "pipe_job_s.p50", "pipe"),
    ("pipe.stage_s", "s", "lower", "pipe_mb_per_s", "pipe"),
    ("pipe.collect_s", "s", "lower", "pipe_mb_per_s", "pipe"),
    ("pipe.task_skew", "ratio", "lower", "pipe_job_s.tail", "pipe"),
    ("pipe.open_fds_delta", "count", "lower", "failed_frac", "pipe"),
    ("pipe.scratch_files_left", "count", "lower", "failed_frac", "pipe"),
    ("curate.candidate_pairs", "count", "lower", "curate_run_s.p50", "curate"),
    ("curate.verified_pairs", "count", "higher", "curate_run_s.p50", "curate"),
    ("curate.verify_yield", "ratio", "higher", "curate_run_s.p50", "curate"),
    ("store.admit.bytes_written", "bytes", "lower", "store_bytes_per_user_byte", "store"),
    ("store.admit.files_written", "count", "lower", "store_bytes_per_user_byte", "store"),
    ("store.admit.admitted_frac", "ratio", "higher", "store_docs_per_s", "store"),
    ("store.files_per_bucket", "count", "lower", "probe_s.p50", "store"),
    ("store.compact.bytes_rewritten", "bytes", "lower", "compact_s.p50", "store"),
    ("store.bytes_per_user_byte", "ratio", "lower", "store_bytes_per_user_byte", "store"),
    ("catalog.publish_s", "s", "lower", "admit_s.p50", "store"),
    ("catalog.cas_attempts", "count", "lower", "admit_s.p50", "store"),
    ("catalog.resolve_s", "s", "lower", "probe_s.p50", "store"),
    ("engine.session_s", "s", "lower", "setup_s", "all"),
    ("input.gen_s", "s", "lower", "setup_s", "all"),
    ("warmup_s", "s", "lower", "setup_s", "all"),
    ("leak.open_fds_delta", "count", "lower", "failed_frac", "all"),
    ("leak.child_procs", "count", "lower", "failed_frac", "all"),
    ("leak.tmp_files", "count", "lower", "failed_frac", "all"),
]

# The workload-specific end-to-end figures each workload prints.
REPORTED = {
    "pipe": ["pipe_job_s.p50", "pipe_job_s.tail", "pipe_mb_per_s",
             "pipe_job_cpu_s.p50", "pipe_mb_per_cpu_s"],
    "curate": ["curate_run_s.p50", "curate_docs_per_s", "curate_run_cpu_s.p50",
               "curate_docs_per_cpu_s"],
    "store": ["store_init_s", "admit_s.p50", "admit_s.tail", "probe_s.p50",
              "probe_s.tail", "compact_s.p50", "store_docs_per_s",
              "store_bytes_per_user_byte", "admit_cpu_s.p50", "probe_cpu_s.p50",
              "compact_cpu_s.p50", "store_docs_per_cpu_s"],
}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    trees = [(ROOT, ["build.sbt", "project/build.properties"], ["src/main"]),
             (BENCH, ["build.sbt", "project/build.properties"], ["src/main"])]
    for base, files, dirs in trees:
        paths = [os.path.join(base, f) for f in files]
        for d in dirs:
            for dp, dns, fns in os.walk(os.path.join(base, d)):
                dns.sort()
                paths += [os.path.join(dp, f) for f in sorted(fns)]
        for p in paths:
            h.update(p[len(base):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt(task, **kw):
    """sbt in the benchmark's build, its temp files kept in the checkout."""
    tmp = os.path.join(ROOT, ".bench_work", "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp} "
                        f"-Dswoval.tmpdir={tmp}")
    return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", task], cwd=BENCH,
                          env=env, stderr=sys.stderr, stdin=subprocess.DEVNULL, **kw)


def build():
    """Compiles engine and benchmark once per source state; returns the
    runtime classpath and the JVM flags."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Engine.scala")):
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from a full checkout of the repository")
    want = source_hash()
    stamp = LAUNCHER + ".sha256"
    if not (os.path.isfile(LAUNCHER) and os.path.isfile(stamp)
            and open(stamp).read() == want):
        log("perfbench: building engine and benchmark with sbt ...")
        r = sbt("writeLauncher", stdout=sys.stderr, timeout=600)
        if r.returncode != 0 or not os.path.isfile(LAUNCHER):
            raise SystemExit(f"perfbench: build failed (sbt exit {r.returncode})")
        with open(stamp, "w") as f:
            f.write(want)
    lines = open(LAUNCHER).read().splitlines()
    return lines[0], lines[1:]


def run_jvm(workload, seed, seconds, trace, cp, jopts):
    """One benchmark JVM. Its scratch lives in a fresh directory under
    .bench_work that is removed afterwards; every process it started is
    stopped before this returns."""
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java", *HEAP, "-XX:-UsePerfData", *jopts,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", work, "--out", out]
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = p.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    try:
        if rc is None:
            raise SystemExit(f"perfbench: {workload} run exceeded {RUN_LIMIT_S} s")
        if rc != 0 or not os.path.isfile(out):
            raise SystemExit(f"perfbench: {workload} JVM failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        if workload == "curate":
            oracle_check(res)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def oracle_check(res):
    """The curation census must equal the p01 oracle SQL run by DuckDB over
    the same generated corpus; a mismatch fails every curation run."""
    import duckdb
    o = res["outputs"]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{o['documents_dir']}/documents.parquet/*.parquet')")
    want = [tuple(r) for r in con.sql(o["oracle_sql"]).fetchall()]
    con.close()
    got = [tuple(r) for r in o.get("census", [])]
    o["oracle_rows"] = len(want)
    if got != want:
        runs = res["attempted"] - res["failed"]
        res["failed"] += runs
        res["failures"].append(f"curation census != DuckDB p01 oracle: {got} vs {want}")


def cpu_name(sample):
    """The CPU-time metric of a latency sample: admit_s -> admit_cpu_s."""
    return sample.removesuffix("_s") + "_cpu_s"


def metrics_of(res, trace):
    """The metrics BENCHMARK.json names: end-to-end ones common to every
    workload (the CPU seconds of its primary operation, median; the closed
    loop's work per CPU second; set-up time; peak memory), or the per-layer
    ones, which are 0 for a layer the workload does not run.

    These figures are CPU seconds, not wall seconds. On a 4-vCPU virtual
    machine of a busy shared host, where other guests take time from the
    vCPUs, the middle half of the runs of the same code spread its
    wall-clock medians by up to 37 % of their median and its CPU seconds,
    which leave stolen time out, by up to 22 %; on a quiet host the two
    spread by 4-5 % and 6-9 %. The wall-clock figures are printed beside
    them."""
    with open(CONTRACT) as f:
        contract = json.load(f)
    e2e, layer = res["e2e"], res["layer"]
    if trace:
        return {m["name"]: {"value": float(layer.get(m["name"], {"value": 0.0})["value"]),
                            "unit": m["unit"]} for m in contract["per_layer"]}
    op = res["outputs"]["op_sample"]
    vals = {"setup_s": e2e["setup_s"]["value"],
            "op_cpu_s.p50": e2e[f"{cpu_name(op)}.p50"]["value"],
            "work_per_cpu_s": res["outputs"]["work_per_cpu_s"],
            "peak_rss_mb": e2e["peak_rss_mb"]["value"]}
    return {m["name"]: {"value": float(vals[m["name"]]), "unit": m["unit"]}
            for m in contract["end_to_end"]}


def print_report(res):
    w = res["workload"]
    e2e = res["e2e"]
    out = res["outputs"]
    print(f"== {w} seed={res['seed']} trace={int(res['trace'])} "
          f"loop={res['loop_s']:.1f}s cpu={res['loop_cpu_s']:.1f}s attempted={res['attempted']} failed={res['failed']}")
    print(f"   inputs: {json.dumps(res['inputs'])}")
    for name in ["setup_s", "peak_rss_mb", "failed_frac"] + REPORTED[w]:
        if name.endswith(".tail") and name not in e2e:
            n = out.get(name.replace(".tail", ".samples"), 0)
            print(f"   {name:28s} n/a  (needs >= 20 samples, have {n})")
        elif name in e2e:
            m = e2e[name]
            extra = ""
            if name.endswith(".tail"):
                t = out[name]
                extra = f"  (p{t['percentile']:.1f} of {t['samples']} samples)"
            elif name.endswith(".p50"):
                extra = f"  ({out.get(name.replace('.p50', '.samples'), 0)} samples)"
            print(f"   {name:28s} {m['value']:.4f} {m['unit']}{extra}")
    for f in res["failures"]:
        print(f"   FAILED CHECK: {f}")


def run_one(args, cp, jopts):
    res = run_jvm(args.workload, args.seed, args.seconds, args.trace, cp, jopts)
    print_report(res)
    if args.trace:
        for n, u, *_ in LAYER:
            v = res["layer"].get(n)
            print(f"   {n:34s} {v['value'] if v else 0.0:.4f} {u}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics_of(res, args.trace)}))


def run_all(args, cp, jopts):
    results = [run_jvm(w, args.seed, args.seconds, 0, cp, jopts) for w in WORKLOADS]
    for r in results:
        print_report(r)
    print("== end-to-end metrics")
    names = ["setup_s", "peak_rss_mb", "failed_frac"]
    for w, r in zip(WORKLOADS, results):
        for n in names + REPORTED[w]:
            m = r["e2e"].get(n)
            print(f"   {w:7s} {n:28s} " + (f"{m['value']:.4f} {m['unit']}" if m else "n/a"))
    print(json.dumps({"correct": all(r["failed"] == 0 for r in results),
                      "attempted": sum(r["attempted"] for r in results),
                      "failed": sum(r["failed"] for r in results),
                      "workloads": {w: metrics_of(r, 0) for w, r in zip(WORKLOADS, results)}}))


def report(args, cp, jopts):
    """Traced and untraced run of every workload on one seed."""
    doc = {"seed": args.seed, "seconds": args.seconds,
           "layer_metrics": [dict(zip(["name", "unit", "better", "moves", "workload"], x))
                             for x in LAYER],
           "workloads": {}}
    for w in WORKLOADS:
        plain = run_jvm(w, args.seed, args.seconds, 0, cp, jopts)
        traced = run_jvm(w, args.seed, args.seconds, 1, cp, jopts)
        for r in (plain, traced):
            print_report(r)
        overhead = {n: {"untraced": m["value"],
                        "traced": traced["e2e"][n]["value"],
                        "overhead": traced["e2e"][n]["value"] - m["value"],
                        "unit": m["unit"]}
                    for n, m in plain["e2e"].items() if n in traced["e2e"]}
        doc["workloads"][w] = {
            "inputs": plain["inputs"],
            "attempted": [plain["attempted"], traced["attempted"]],
            "failed": [plain["failed"], traced["failed"]],
            "tracing_overhead": overhead,
            "layer": {n: traced["layer"].get(n, {"value": 0.0, "unit": u})["value"]
                      for n, u, *_ in LAYER},
            "trace": traced.get("trace_detail", {}),
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.report)), exist_ok=True)
    with open(args.report, "w") as f:
        json.dump(doc, f, indent=1)
    log(f"perfbench: wrote {args.report}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"], default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--report", help="write the traced report for every workload here")
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    args = ap.parse_args()
    if args.self_test:
        build()
        sys.exit(sbt("test").returncode)
    cp, jopts = build()
    if args.report:
        report(args, cp, jopts)
    elif args.workload == "all":
        run_all(args, cp, jopts)
    else:
        run_one(args, cp, jopts)


if __name__ == "__main__":
    main()
