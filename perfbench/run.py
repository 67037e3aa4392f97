#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sweep_sf01 --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the harness and
the engine from source (sbt, offline); later runs reuse the build while
the sources are unchanged. Inputs are generated from --seed into a
scratch directory under the checkout, which is removed at the end.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the metrics are the
end-to-end ones of BENCHMARK.json with --trace 0 and its per-layer ones
with --trace 1. Lines above it list every output check and metric.

Every run does a fixed amount of work (see README.md); --seconds is
accepted but does not change it.

Extra flags: --smoke (tiny inputs, no sweep expectations), --record FILE
(sweep only: write the observed rows and hashes, the source of
expected_sweep.json).
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("sweep_sf01", "weather_daily", "txn_churn")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
JVM_TIMEOUT_S = 170
# Operation kinds that change state, for the read/write split.
WRITES = {"backfill", "tick", "append", "merge", "delete", "delete_mor", "sql_update",
          "sql_delete", "sql_merge", "compact", "vacuum"}


# --- statistics (self-tested in selftest.py) ----------------------------

def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    value of rank n-10 (1-based), at percentile 100*(n-10)/n, capped at
    p99.9. Returns (percentile, value, sample count). With ten samples or
    fewer no percentile qualifies and the maximum stands in, at p100."""
    n = len(xs)
    if n <= 10:
        return 100.0, max(xs) if xs else 0.0, n
    p = min(99.9, 100.0 * (n - 10) / n)
    return p, percentile(xs, p), n


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def by_kind(ops):
    out = {}
    for k, ms in ops:
        out.setdefault(k, []).append(ms)
    return out


def valid_name(n):
    return bool(NAME.match(n))


def valid_unit(u):
    return bool(UNIT.match(u))


def end_to_end(raw):
    """The end-to-end metrics from one run's raw samples."""
    ms = [m for _, m in raw["ops"]]
    kinds = by_kind(raw["ops"])
    p, tv, n = tail(ms)
    return {
        "setup_s": raw["setup_s"],
        "work_s": raw["work_s"],
        "op_p50_ms": median(ms),
        "op_tail_ms": tv,
        "op_geomean_ms": geomean([median(v) for v in kinds.values()]),
        "space_amp": raw["space_bytes"] / max(1, raw["plain_bytes"]),
        "retained_heap_mb": raw["heap_mb"],
    }, {"op_tail_ms": f"p{p:.1f} of {n} samples"}


def named(workload, raw):
    """The same run under the workload-specific names of the metric
    table in README.md."""
    kinds = by_kind(raw["ops"])
    ms = [m for _, m in raw["ops"]]
    w = [m for k, m in raw["ops"] if k in WRITES]
    r = [m for k, m in raw["ops"] if k not in WRITES]

    def tl(xs):
        p, v, n = tail(xs)
        return f"{v:.3f} ms (p{p:.1f} of {n})"
    if workload == "sweep_sf01":
        return {"sweep_s": f"{raw['work_s']:.3f} s",
                "query_geomean_ms": f"{geomean([median(v) for v in kinds.values()]):.3f} ms",
                "query_tail_ms": tl(ms)}
    if workload == "weather_daily":
        return {"backfill_s": f"{median(kinds.get('backfill', [])) / 1000:.3f} s",
                "tick_p50_ms": f"{median(kinds.get('tick', [])):.3f} ms",
                "serve_p50_ms": f"{median(r):.3f} ms", "serve_tail_ms": tl(r)}
    return {
            "txn_write_p50_ms": f"{median(w):.3f} ms", "txn_write_tail_ms": tl(w),
            "txn_read_p50_ms": f"{median(r):.3f} ms", "txn_read_tail_ms": tl(r),
            "space_amp": f"{raw['space_bytes'] / max(1, raw['plain_bytes']):.4f}"}


# --- build ----------------------------------------------------------------

def source_digest(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "build.sbt"),
            os.path.join(HERE, "harness", "src"),
            os.path.join(HERE, "harness", "build.sbt"),
            os.path.join(HERE, "harness", "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, log):
    """Compile the harness and, through its dependency on the root build,
    the engine; returns the runtime classpath."""
    stamp = os.path.join(root, ".bench_build", "harness.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                           + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=800)
    log.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-3000:])
        raise SystemExit("harness build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


# --- inputs -----------------------------------------------------------------

def make_inputs(workload, seed, inputs, smoke):
    scale = 0.001 if smoke else gen.SWEEP_SCALE
    if workload == "sweep_sf01":
        gen.tables(os.path.join(inputs, "tables"), gen.SWEEP_DATA_SEED, scale)
    elif workload == "weather_daily":
        kw = dict(n_cities=4, backfill_days=5) if smoke else {}
        gen.weather(os.path.join(inputs, "weather"), seed, **kw)
    else:
        gen.txn(os.path.join(inputs, "txn"), seed, scale=scale)


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, inputs, expected, record, log):
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
        "--work", work, "--inputs", inputs, "--cpus", str(cpus)]
    if expected:
        cmd += ["--expected", expected]
    if record:
        cmd += ["--record", record]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"harness timed out after {JVM_TIMEOUT_S} s")
    results = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not results:
        raise SystemExit(f"harness failed (exit {p.returncode}); log: {log.name}")
    return json.loads(results[-1][len("PERFBENCH_RESULT "):])


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not valid_name(m["name"]) or not valid_unit(m["unit"]):
            raise SystemExit(f"invalid metric name or unit: {m}")
    return spec


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.stderr.write("no engine sources under ./src/main/scala: run from a checkout root\n")
        return 2
    spec = load_spec(root)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}.log")
    try:
        with open(log_path, "w") as log:
            cp = build(root, log)
            inputs = os.path.join(work, "inputs")
            t0 = time.time()
            make_inputs(args.workload, args.seed, inputs, args.smoke)
            gen_s = time.time() - t0
            expected = None
            if args.workload == "sweep_sf01" and not args.smoke and not args.record:
                expected = os.path.join(HERE, "expected_sweep.json")
            record = os.path.abspath(args.record) if args.record else None
            raw = run_jvm(cp, args, work, inputs, expected, record, log)
            if raw.get("spans_file"):
                out = os.path.join(root, ".bench_out")
                os.makedirs(out, exist_ok=True)
                shutil.copy(raw["spans_file"], os.path.join(
                    out, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = raw["checks"]
    bad = [c for c in checks if not c["ok"]]
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace}; inputs generated in {gen_s:.1f} s")
    print(f"output checks: {sum(c['ok'] for c in checks)} passed, {len(bad)} failed")
    for c in bad:
        print(f"  FAILED {c['name']}: {c['detail']}")
    e2e, notes = end_to_end(raw)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        # end-to-end figures too unsteady to bound are reported per layer
        layers = dict(e2e, **raw["layers"])
        metrics = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        print("self time per span (ms):")
        for k, v in raw["self_ms"].items():
            print(f"  {k:32s} {v:12.3f}")
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    for k, v in named(args.workload, raw).items():
        print(f"  {args.workload}.{k} = {v}")
    for k, v in metrics.items():
        print(f"  {k} = {v} {units[k]}" + (f" ({notes[k]})" if k in notes else ""))
    failed = raw["failed"]
    result = {"correct": failed == 0 and not bad, "attempted": max(1, raw["attempted"]),
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
