#!/usr/bin/env python3
"""The repo benchmark: four workloads, measured end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

The first run builds the program and the harness from source with sbt
(`perfbench/harness`, which compiles against the root build) and caches the
classpath under `.bench_build/`. Each run then generates its seeded inputs,
starts one harness JVM (`local[N]`, N = usable cores), lets it set up, warm
up and measure for `--seconds`, checks the outputs, and prints one JSON
object as the last line of standard output. `--trace 1` adds a traced
window and prints the per-layer metrics instead of the end-to-end ones.
`--selftest` corrupts each workload's expectation; the run must then report
failures. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("analytics", "tables", "pipeline")
WRITE_KINDS = {"append", "erase", "merge", "update", "maintenance"}
READ_KINDS = {"lookup", "range", "time_travel"}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
HARNESS_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else [
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs]
        for f in sorted(files):
            h.update(f[len(root):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    stamp_path = os.path.join(out, "stamp")
    cp_path = os.path.join(out, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_path) and os.path.exists(stamp_path):
        with open(stamp_path) as fh:
            if fh.read() == stamp:
                with open(cp_path) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 1)
    cp = lines[-1].strip()
    with open(cp_path, "w") as fh:
        fh.write(cp)
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ----------------------------------------------------------- statistics

def tail(samples):
    """The highest nearest-rank percentile, at p75 or above, that leaves at
    least ten samples above it: (value, percentile, samples beyond). Below
    40 samples no such percentile exists; p90 is reported then, with the
    few samples beyond it, rather than a single extreme sample."""
    s = sorted(samples)
    n = len(s)
    k = n - 11 if n >= 40 else math.ceil(0.9 * n) - 1
    return s[k], int(100 * (k + 1) // n), n - 1 - k


def geomean(xs):
    return math.exp(statistics.mean(math.log(x) for x in xs))


def balanced(ops):
    """Latency over several op kinds, each kind weighted the same whatever
    its share of the samples: the geometric mean of the kinds' medians and
    of their tails. A median pooled over kinds whose latencies do not
    overlap lands on the step between two of them, and moves as far as
    that step when the mix shifts by one op."""
    by_kind = {}
    for kind, s in ops:
        by_kind.setdefault(kind, []).append(s)
    kinds = {k: latency_stats(v) for k, v in sorted(by_kind.items())}
    if not kinds or min(min(v) for v in by_kind.values()) <= 0:
        return None
    return {"p50": geomean([k["p50"] for k in kinds.values()]),
            "tail": geomean([k["tail"] for k in kinds.values()]),
            "samples": len(ops), "kinds": kinds}


def latency_stats(samples):
    if not samples:
        return None
    v, pct, beyond = tail(samples)
    return {"p50": statistics.median(samples), "tail": v, "tail_pct": pct,
            "tail_beyond": beyond, "samples": len(samples)}


# ------------------------------------------------------------------ run

def inputs_for(args, work):
    """Generate the seeded inputs; returns (harness args, fingerprint info)."""
    data = os.path.join(work, "data")
    if args.workload == "analytics":
        gen.star_schema(data, args.seed)
        fp, size = gen.fingerprint([data])
        return ["--data", data, "--queries", ",".join(args.queries)], \
            {"star_schema": fp, "bytes": size}
    if args.workload == "tables":
        gen.star_schema(data, args.seed, only=["orders"])
        fp, size = gen.fingerprint([data])
        return ["--data", data], {"orders": fp, "bytes": size, "rows": gen.SF01_ROWS["orders"]}
    if args.trace:
        # traced pipeline runs also run the catalog refresh (etl and io layers)
        os.makedirs(data, exist_ok=True)
        base, more = os.path.join(data, "Movies.txt"), os.path.join(data, "more.txt")
        with open(base, "w") as fh:
            fh.write("\n".join(gen.movies_lines(args.seed, 1, gen.MOVIE_ITEMS)) + "\n")
        with open(more, "w") as fh:
            fh.write("\n".join(gen.movies_lines(args.seed, gen.MOVIE_ITEMS + 1, 200)) + "\n")
        fp, size = gen.fingerprint([base, more])
        return ["--live-rate", str(args.live_rate), "--movies", base, "--movies-more", more], \
            {"movies": fp, "movies_bytes": size}
    return ["--live-rate", str(args.live_rate)], {}


def java_cmd(cp, work, harness_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java, *opens, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness", *harness_args]


def metric_specs(root):
    """(name, unit) of the end-to-end and per-layer metrics, as BENCHMARK.json
    declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--live-rate", type=int, default=1700,
                    help="pipeline live-phase records per second")
    ap.add_argument("--queries", action="append", default=[],
                    help="comma-separated analytics query names (repeatable)")
    ap.add_argument("--selftest", action="store_true",
                    help="corrupt each gate's expectation; failures must follow")
    ap.add_argument("--count-mode", action="store_true",
                    help="analytics: also time one pass under .count()")
    args = ap.parse_args()
    args.queries = [q for chunk in args.queries for q in chunk.split(",") if q]
    started = time.time()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft",
                 "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the repo")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set (the build takes Spark's jars from it)")
    if args.workload == "analytics" and not args.queries:
        fail("analytics needs --queries")

    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    run_started = time.time()

    work = os.path.join(out, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        harness_args, fingerprints = inputs_for(args, work)
        gen_s = time.time() - t0
        cores = len(os.sched_getaffinity(0))
        harness_args += ["--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace),
                         "--work", work, "--cores", str(cores)]
        if args.selftest:
            harness_args.append("--selftest")
        if args.count_mode:
            harness_args.append("--count-mode")
        env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
        with open(os.path.join(work, "harness.log"), "w") as errlog:
            proc = subprocess.Popen(java_cmd(cp, work, harness_args), cwd=work, env=env,
                                    stdout=errlog, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=max(30, HARNESS_TIMEOUT_S - (time.time() - run_started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("the harness did not finish in time", 1)
        result_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "harness.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"the harness exited with code {proc.returncode}", 1)
        with open(result_path) as fh:
            res = json.load(fh)
        report(args, res, gen_s, fingerprints, out, metric_specs(root))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"done in {time.time() - started:.1f} s")


def report(args, res, gen_s, fingerprints, out, specs):
    end_to_end, per_layer = specs
    failures = list(res["failures"])
    ops = res["ops"]
    failed_ops = len(failures)
    detail = {}
    if args.workload == "analytics":
        spec = res["analytics_check"]
        with open(spec["oracle_sql"]) as fh:
            sql = json.load(fh)
        bad, prints = check.analytics(spec["results"], spec["data"], sql,
                                      perturb=args.selftest)
        # a wrong result makes every timed run of that query a failed op
        bad_names = {b.split(":")[0] for b in bad}
        failed_ops += sum(1 for kind, _ in ops if kind in bad_names)
        detail["result_fingerprints"] = prints
    elif args.workload == "tables":
        bad = check.tables(res["tables_check"], perturb=args.selftest)
        failed_ops += len(bad)
    else:
        bad, detail["sessions"] = check.sessions(res["pipeline_check"])
        failed_ops += len(bad)
    failures += bad

    # tables mixes eight op kinds, from lookups to upserts, and analytics
    # eight queries, from 0.15 s to 0.5 s, each three or four times a window:
    # a percentile pooled over them picks one sample off the slowest
    # queries and moves a rank whenever a pass more or less fits. pipeline
    # times one kind of operation (a live segment).
    lat = balanced(ops) if args.workload in ("tables", "analytics") \
        else latency_stats([s for _, s in ops])
    thr = res["throughput"]
    ops_per_s = thr["count"] / thr["seconds"] if thr["seconds"] > 0 else 0.0
    setup_s = res["setup_s"] + gen_s
    attempted = int(res.get("attempted", len(ops)))
    detail.update({
        "workload": args.workload, "seed": args.seed, "inputs": {**fingerprints, **res["inputs"]},
        "sizes": res.get("sizes", {}), "setup_parts": {**res["setup_parts"], "inputs_s": gen_s},
        "window_s": res["window_s"], "verify_s": res["verify_s"], "latency": lat,
        "samples": ops,
        "failures": failures})
    if args.workload == "tables":
        detail["write"] = balanced([o for o in ops if o[0] in WRITE_KINDS])
        detail["read"] = balanced([o for o in ops if o[0] in READ_KINDS])
    if "bytes_per_row" in res:
        detail["bytes_per_row"] = res["bytes_per_row"]
    if "catch_up" in res:
        detail["catch_up"] = res["catch_up"]
    if "count_vs_noop" in res:
        detail["count_vs_noop"] = res["count_vs_noop"]

    if args.trace:
        layers = dict(res.get("layers", {}))
        # the untraced windows run before and after the traced one
        plain = [u["count"] / u["seconds"] for u in res.get("untraced_throughput", [])
                 if u.get("seconds")]
        if plain:
            layers["trace.overhead_ops_per_s"] = ops_per_s - statistics.mean(plain)
            detail["untraced_ops_per_s"] = plain
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": unit}
                   for n, unit in per_layer}
        detail["self_s"] = res.get("self_s", {})
        traces = os.path.join(out, "traces")
        os.makedirs(traces, exist_ok=True)
        kept = os.path.join(traces, f"{args.workload}-s{args.seed}.spans.jsonl")
        shutil.copyfile(res["spans"], kept)
        detail["spans"] = os.path.relpath(kept)
    else:
        values = {"setup_s": setup_s, "ops_per_s": ops_per_s,
                  "latency_p50_s": lat["p50"] if lat else 0.0,
                  "latency_tail_s": lat["tail"] if lat else 0.0}
        metrics = {n: {"value": values[n], "unit": unit} for n, unit in end_to_end}
        if args.workload == "tables":
            for side in ("write", "read"):
                if detail[side]:
                    detail[f"{side}_p50_s"] = detail[side]["p50"]
                    detail[f"{side}_tail_s"] = detail[side]["tail"]
    for f in failures:
        log(f"FAILED {f}")
    print("[perfbench] detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": not failures, "attempted": max(1, attempted),
                      "failed": failed_ops, "metrics": metrics}))


if __name__ == "__main__":
    main()
