#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness together
with the engine's sources (sbt, offline) and generates the sf0.1 tables;
both are cached under .bench_build/. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["analytics", "ingest_cycle"]
DEADLINE_S = 160  # the JVM run; the whole invocation must end within 180 s
JVM_OPTS = [
    # A fixed heap keeps peak RSS from depending on when the collector
    # chose to grow it. C1 only: a run is too short for C2 to settle, and
    # passes measured while C2 still compiles drift from pass to pass.
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose content the harness build depends on."""
    pats = ["src/main/scala/**/*.scala", "src/main/java/**/*.java",
            "perfbench/src/**/*.scala", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True))


def build():
    """Compile the harness with the engine; return its classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("engine sources (src/main/scala) not found; run from the repository root")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("harness build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def tables():
    d = os.path.join(BUILD, f"data-v{gen_data.VERSION}")
    if not os.path.isdir(d):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        gen_data.main(d)
    return d


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times():
    """Aggregate /proc/stat CPU jiffies (user, nice, system, idle, iowait,
    irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def p50(samples):
    """Median latency of (kind, seconds) samples, taken as the count-weighted
    median of each kind's median. A pass runs every kind, so in the pooled
    samples the plain median sits on a boundary between two kinds and is
    set by the two most extreme samples there."""
    by_kind = {}
    for kind, sec in samples:
        by_kind.setdefault(kind, []).append(sec)
    meds = sorted((median(v), len(v)) for v in by_kind.values())
    half, cum = len(samples) / 2, 0
    for i, (m, n) in enumerate(meds):
        cum += n
        if cum > half:
            return m
        if cum == half:
            return (m + meds[i + 1][0]) / 2
    return float("nan")


def quantile_tail(samples):
    """Highest of p75/p90/p95/p99 with at least ten samples beyond it, else
    p50 as p50() takes it."""
    s = sorted(sec for _, sec in samples)
    best = None
    for p in (75, 90, 95, 99):
        if len(s) * (100 - p) / 100 >= 10:
            best = p
    return (best, pct(s, best)) if best else (50, p50(samples))


def pct(s, p):
    """Linear-interpolated percentile of a sorted list."""
    k = (len(s) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return pct(sorted(xs), 50) if xs else float("nan")


def run_jvm(args, cp, data, work, deadline):
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--cpus", str(os.cpu_count())])
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local"),
                             start_new_session=True)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("JVM run exceeded its deadline")
    if p.returncode != 0 or not os.path.exists(f"{work}/result.json"):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM run failed (exit {p.returncode})")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    t_start = time.time()
    data = tables()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/inputs")
    os.makedirs(f"{work}/tmp")
    inputs.make(args.workload, args.seed, data, f"{work}/inputs")

    load0, cpu0 = loadavg(), cpu_times()
    res = run_jvm(args, cp, data, work, t_start + DEADLINE_S)
    load1, cpu1 = loadavg(), cpu_times()
    d = [b - a for a, b in zip(cpu0, cpu1)]
    steal = d[7] / max(1, sum(d))

    checks = list(res["checks"])
    if args.workload == "analytics":
        checks += oracle.compare(data, f"{work}/check")
    else:
        checks.append(oracle.wordcount_outputs(f"{work}/tuner"))
    bad_kinds = {k for c in checks if not c["ok"] for k in c["kinds"]}

    ops = res["ops"]
    untraced = [o for o in ops if not o["traced"]]
    samples = [o for o in untraced if o["op"]]
    lat = [(o["kind"], o["s"]) for o in samples]
    attempted = sum(1 for o in ops if o["op"])
    failed = sum(1 for o in ops if o["op"] and (not o["ok"] or o["kind"] in bad_kinds))
    failed_steps = sum(1 for o in ops if not o["op"] and not o["ok"])
    walls = [w for w, t in zip(res["pass_wall_s"], res["pass_traced"]) if not t]
    twalls = [w for w, t in zip(res["pass_wall_s"], res["pass_traced"]) if t]
    # Bytes a pass reads as input: the workload's files, plus the slice a
    # pass ingests.
    mb_of = [(res["input_bytes"] + x.get("ingest_bytes", 0)) / 1e6 for x in res["pass_extra"]]
    mb = median(mb_of)
    tail_p, tail = quantile_tail(lat)

    e2e = {
        "setup_s": (median(res["setup_s"]), "s"),
        "input_mb_per_s": (median([m / w for m, w, t in zip(
            mb_of, res["pass_wall_s"], res["pass_traced"]) if not t]), "MB/s"),
        "op_p50_s": (p50(lat), "s"),
        "op_tail_s": (tail, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    extra = {"fail_ratio": (failed / max(1, attempted), "ratio")}
    passes = [x for x, o in zip(res["pass_extra"], res["pass_traced"]) if not o]
    if args.workload == "ingest_cycle":
        appends = [sum(o["s"] for o in untraced if o["pass"] == p and o["kind"] in
                       ("dedup.append", "similarity.append"))
                   for p in sorted({o["pass"] for o in untraced})]
        extra["ingest_mb_per_s"] = (
            median([x["ingest_bytes"] / 1e6 / s for x, s in zip(passes, appends)]), "MB/s")
        extra["index_bytes_per_input_byte"] = (
            median([x["index_per_corpus_byte"] for x in passes]), "ratio")
        extra["recall_at_10"] = (res["summary"]["recall_at_10"], "ratio")
        its = [o for o in samples if o["kind"] == "apps.wordcount"]
        extra["tuner_overhead_s"] = (
            median([o["s"] - x["body_s"] for o, x in zip(its, passes)]), "s")

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={os.cpu_count()} master=local[{os.cpu_count()}] clients=1 (closed loop)")
    print(f"input per pass: {mb:.4f} MB; passes: {len(walls)} untraced, "
          f"{len(twalls)} traced; ops: {attempted} attempted, {failed} failed "
          f"(+{failed_steps} failed steps); op samples n={len(lat)}, tail=p{tail_p}")
    print(f"loadavg_1m: before={load0:.2f} after={load1:.2f}; cpu steal {steal:.1%}; "
          f"setups_s={[round(x, 3) for x in res['setup_s']]}; "
          f"pass_wall_s={[round(x, 3) for x in res['pass_wall_s']]}")
    for name, (v, unit) in {**e2e, **extra}.items():
        print(f"  {name:28s} {v:12.6g} {unit}")
    for c in checks:
        print(f"  check {'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")

    correct = not bad_kinds and failed == 0 and failed_steps == 0
    if args.trace:
        layers = res["layers"]
        print("per-layer (median per traced pass):")
        for k in sorted(layers):
            print(f"  {k:28s} {layers[k]:12.6g}")
        print("self time per span name, all traced passes (s):")
        for k, v in sorted(res["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"  {k:28s} {v:12.6g}")
        overhead = median(twalls) / median(walls) - 1 if walls and twalls else float("nan")
        print(f"tracing overhead: traced pass median {median(twalls):.4f} s vs untraced "
              f"{median(walls):.4f} s ({overhead:+.2%})")
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        span_file = f"{traces}/{args.workload}-seed{args.seed}.spans.jsonl"
        shutil.copy(f"{work}/spans.jsonl", span_file)
        print(f"spans: {span_file}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
