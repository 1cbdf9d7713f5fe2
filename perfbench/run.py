#!/usr/bin/env python3
"""Benchmark front end: build the engine, generate seeded inputs, run one
workload in a fresh JVM, check its outputs and print its metrics.

    python3 perfbench/run.py --workload serve --seed 7 --seconds 16 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. The line before it is a report with the
workload's own named metrics, the seed, the sizes and the offered rate.
See perfbench/README.md for what each workload measures and why.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
WORK_ROOT = os.path.join(ROOT, ".bench_work")

# Open-loop offered load of serve: Poisson arrivals at RATE_PER_S. Each
# run reports the closed-loop throughput of its warm-up
# (warmup_req_per_s); see README.md for how the rate compares with it.
RATE_PER_S = 3.75
SERVE_MIX = {"e2": 0.40, "e3": 0.30, "ann_mem": 0.15, "ann_store": 0.15}
WORKLOADS = ("build", "serve")

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# The serve JVM runs C1 alone. Its requests run mostly one-shot generated
# code and Catalyst on the driver, and with C2 which methods got compiled,
# and when, varied from run to run: on a steady host, serve's op_ms fell
# into two groups, about 140 and 190 ms (interquartile range 0.28 of the
# median over seeds). C1 alone gave 230-240 ms (0.04). The build
# workload's iterations are steady under C2 (0.06) and keep the default.
# C1 alone shrinks the default code cache from 240 MB to 48 MB, which the
# generated code of a long run filled: from then on every request failed
# with "Out of space in CodeCache", so the cache is set back to 256 MB.
SERVE_JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]

RUN_LIMIT_S = 170.0


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_fingerprint():
    h = hashlib.sha256(ROOT.encode())
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Compile engine + benchmark with sbt once per source state; return
    the path of a java @argfile holding the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die("engine sources not found under src/main/scala; "
            "run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    stamp = os.path.join(BUILD_DIR, "perfbench.stamp")
    argfile = os.path.join(BUILD_DIR, "perfbench.classpath")
    fp = source_fingerprint()
    if os.path.isfile(argfile) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                return argfile
    # offline, and sbt's own global state kept inside the checkout
    sbt_global = os.path.join(ROOT, ".bench_build", "sbt-global")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        os.environ.get("SBT_OPTS", ""), "-Dsbt.offline=true",
        f"-Dsbt.global.base={sbt_global}"]).strip())
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(argfile, "w") as f:
        f.write("-cp\n" + lines[-1].strip() + "\n")
    with open(stamp, "w") as f:
        f.write(fp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return argfile


# ----------------------------------------------------------------- inputs

def write_schedule(path, seed, seconds):
    """Poisson arrivals over the window, conditioned on their count: the
    window holds exactly RATE_PER_S × seconds requests at uniformly random
    times (the arrival times of a Poisson process given its count), in
    the serving mix's exact shares. A free count varied the offered load by
    ±13% between seeds and moved the latencies with it. Each request
    also gets a random argument the JVM maps to a node, document or
    probe vector."""
    rng = np.random.default_rng([seed, 1])
    n = round(RATE_PER_S * seconds)
    # each kind's count: its share of n, rounded by largest remainder
    exact = {k: n * w for k, w in SERVE_MIX.items()}
    counts = {k: int(x) for k, x in exact.items()}
    for k in sorted(exact, key=lambda k: counts[k] - exact[k])[:n - sum(counts.values())]:
        counts[k] += 1
    kinds = [k for k, c in counts.items() for _ in range(c)]
    rng.shuffle(kinds)
    dues = np.sort(rng.uniform(0.0, seconds * 1000.0, size=n))
    args = rng.integers(0, 2**31, size=n)
    with open(path, "w") as f:
        f.writelines(f"{t:.3f}\t{k}\t{a}\n" for t, k, a in zip(dues, kinds, args))
    return n


# ---------------------------------------------------------------- metrics

def window_ops(raw, win, kind=None):
    return [o for o in raw["ops"] if o.get("window") == win
            and (kind is None or o["kind"] == kind)]


def kind_median(raw, win, kind, field=None):
    """Median over a window's operations of one kind: of their latency,
    or of one of their recorded fields."""
    ops = window_ops(raw, win, kind)
    return stats.median([stats.latency_ms(o) if field is None else o.get(field, stats.MISSED_MS)
                         for o in ops])


def op_ms(workload, raw, win):
    """The workload's operation time. For build, one batch iteration:
    the median E1 build plus the median analytics pass. For serve, the
    mix-weighted median read latency from the due time (weighting by the
    declared mix keeps the seed's realized mix from moving the number)."""
    if workload == "build":
        return kind_median(raw, win, "build") + kind_median(raw, win, "analytics")
    kinds = {o["kind"] for o in window_ops(raw, win)}
    mix = {k: w for k, w in SERVE_MIX.items() if k in kinds}
    return sum(w * kind_median(raw, win, k) for k, w in mix.items()) / sum(mix.values())


def named_metrics(workload, raw, win):
    """The workload's own named metrics, printed on the report line."""
    ops = window_ops(raw, win)
    s = stats.summarize(ops, raw["window_s"][win])
    m = {"failed_frac": (s["failed_frac"], "1")}
    if workload == "build":
        m["build_s"] = (kind_median(raw, win, "build") / 1e3, "s")
        m["analytics_pass_s"] = (kind_median(raw, win, "analytics") / 1e3, "s")
        return m
    m["serve_p50_ms"] = (s["p50_ms"], "ms")
    if "tail_ms" in s:
        m[f"serve_p{s['tail_q']:g}_ms"] = (s["tail_ms"], "ms")
    m["serve_ok_per_s"] = (s["ok_per_s"], "1/s")
    for k in SERVE_MIX:
        m[f"{k}_p50_ms"] = (kind_median(raw, win, k), "ms")
    late = [stats.lateness_ms(o) for o in ops if "sent_ms" in o]
    m["gen_late_p50_ms"] = (stats.median(late), "ms")
    m["gen_late_max_ms"] = (max(late), "ms")
    return m


def end_to_end(workload, raw):
    return {"setup_s": raw["setup_s"], "op_ms": op_ms(workload, raw, "plain")}


def per_layer(workload, raw, sizes):
    """Layer counters, per-stage medians, the workload's named metrics
    from the untraced measurement, and the tracing overhead."""
    out = dict(raw["layers"])
    for k, (v, _) in named_metrics(workload, raw, "plain").items():
        out[k] = v
    if workload == "build":
        for kind in ("build", "analytics"):
            for f in window_ops(raw, "plain", kind)[0]:
                if f.startswith(kind + "."):
                    out[f] = kind_median(raw, "plain", kind, f)
        q = [k for k in out if k.startswith("analytics.q_")]
        out["analytics.graph_pack_s"] = sum(out[k] for k in q if k.startswith("analytics.q_graph_"))
        out["analytics.dedup_pack_s"] = sum(out[k] for k in q if k.startswith("analytics.q_dedup_"))
    else:
        late = [stats.lateness_ms(o) for o in window_ops(raw, "traced") if "sent_ms" in o]
        out["serve.gen_late_ms"] = stats.median(late)
        cycles = window_ops(raw, "writes", "write_cycle")
        for f in cycles[0]:
            if f.startswith("upsert."):
                out[f] = kind_median(raw, "writes", "write_cycle", f)
        out["upsert.write_cycle_s"] = stats.median(
            [sum(v for f, v in c.items() if f.startswith("upsert.") and f.endswith("_s"))
             for c in cycles])
        inputs = sizes["documents"]["bytes"] + sizes["embeddings"]["bytes"]
        # the canonical delta: every vector once more, every 7th document
        delta = sizes["embeddings"]["bytes"] + sizes["documents"]["bytes"] / 7.0
        out["upsert.store_bytes_per_input_byte"] = (
            kind_median(raw, "writes", "write_cycle", "store_bytes") / inputs)
        out["upsert.bytes_written_per_delta_byte"] = (
            kind_median(raw, "writes", "write_cycle", "appended_bytes") / delta)
        out["upsert.serve_p50_ms"] = op_ms(workload, {"ops": [
            o for o in raw["ops"] if o["kind"] != "write_cycle"]}, "writes")
    out[f"{workload}.cpu_ms_per_op"] = (raw["cpu_ms"]["plain"]
                                        / max(1, len(window_ops(raw, "plain"))))
    out["rss_peak_mb"] = raw["rss_peak_mb"]
    if workload == "build":
        # the traced iteration against the last untraced one, the most
        # warmed-up
        last = {o["kind"]: o for o in window_ops(raw, "plain")}
        base = sum(stats.latency_ms(o) for o in last.values())
    else:
        base = op_ms(workload, raw, "plain")
    out[f"{workload}.trace_overhead_ms"] = op_ms(workload, raw, "traced") - base
    return out


# ------------------------------------------------------------- twin check

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols):
    """Digest of a result with its columns sorted by name and its rows
    sorted: the engine's oracle comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("".join(ln + "\n" for ln in lines).encode()).hexdigest()


def twin_check(work, data, twins):
    """Run each dumped analytics result's DuckDB twin over the same input
    files; return one message per result that differs from its twin."""
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    bad = []
    for q, sql in sorted(twins.items()):
        try:
            s = con.execute(f"SELECT * FROM '{os.path.join(work, 'twins', q)}/*.parquet'")
            s_cols, s_rows = [d[0] for d in s.description], s.fetchall()
            o = con.execute(sql)
            o_cols, o_rows = [d[0] for d in o.description], o.fetchall()
            if sorted(s_cols) != sorted(o_cols) or table_hash(s_rows, s_cols) != table_hash(o_rows, o_cols):
                bad.append(f"{q}: differs from its DuckDB twin "
                           f"({len(s_rows)} vs {len(o_rows)} rows)")
        except duckdb.Error as e:
            bad.append(f"{q}: twin check failed: {e}")
    con.close()
    return bad


# ------------------------------------------------------------------- main

def main():
    # a terminated run raises SystemExit inside subprocess.run, which then
    # kills and reaps its child (sbt or the JVM) before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found; run from the root of the checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    argfile = ensure_built()

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        return run(args, spec, argfile, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec, argfile, work, t_start):
    data = os.path.join(work, "data")
    sizes = datagen.generate(data, args.seed)
    out = os.path.join(work, "result.json")
    cmd = ["java"] + JVM_OPTS + (SERVE_JVM_OPTS if args.workload == "serve" else []) + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", f"@{argfile}",
        "graft.perfbench.Main", args.workload, data, work,
        f"{args.seconds:g}", str(args.trace), out]
    offered = None
    if args.workload == "serve":
        sched = os.path.join(work, "schedule.tsv")
        offered = write_schedule(sched, args.seed, args.seconds)
        cmd.append(sched)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        budget = RUN_LIMIT_S - (time.time() - t_start)
        try:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10.0, budget))
            rc = p.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"JVM run failed ({rc})")
    with open(out) as f:
        raw = json.load(f)

    twin_failures = twin_check(work, data, raw["twins"])
    raw["failures"] += twin_failures
    timed = [o for o in raw["ops"] if o["window"] != "setup"]
    attempted = len(timed) + len(raw["twins"])
    failed = sum(1 for o in timed if not o.get("ok")) + len(twin_failures)
    if raw["failures"] and failed == 0:
        failed = 1  # a check outside the timed operations failed

    if raw["failures"]:
        sys.stderr.write("perfbench: check failures (first 5):\n" + "".join(
            f"  {m}\n" for m in raw["failures"][:5]))

    report = {
        "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
        "cores": raw["info"].get("cores"), "window_s": args.seconds,
        "rate_per_s": RATE_PER_S if offered is not None else None,
        "offered": offered, "data": sizes, "info": raw["info"],
        "samples": len(window_ops(raw, "plain")),
        "setup_s": raw["setup_s"], "session_s": raw["session_s"],
        "checks": raw["checks"] + len(raw["twins"]), "failures": raw["failures"][:5],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    named_metrics(args.workload, raw, "plain").items()},
    }
    print(json.dumps(report))

    if args.trace:
        values = per_layer(args.workload, raw, sizes)
        declared = spec["per_layer"]
    else:
        values = end_to_end(args.workload, raw)
        declared = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
