#!/usr/bin/env python3
"""Benchmark runner: one command per run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. It builds the library
and the benchmark package from source (once per source state, under
`.bench_build/`), starts one JVM that runs the workload on `local[N]` with
N = the number of CPUs, checks the outputs, and
prints one table line per metric followed by one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are the per-layer metrics, plus the tracing overhead
(traced minus untraced value of each end-to-end metric, as a share of the
untraced one, against an untraced run of the same workload, seed and
build, made first when there is none). The traced run writes its spans to
`.bench_build/perfbench/trace/`.

`llm_curation` reads the tables in `fixture/`, copies of the repository's
sf0.01 test fixture; `digests.json` holds the expected results on them.
`METRICS.md` next to this file says what each metric measures, on which
workload it should move, and how the workloads were chosen.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture")
WORKLOADS = ("llm_curation", "stream_ingest")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def fixture_hash():
    h = hashlib.sha256()
    for f in sorted(os.listdir(FIXTURE)):
        h.update(f.encode())
        with open(os.path.join(FIXTURE, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile library and benchmark; returns the runtime classpath and the
    hash of the sources it was built from."""
    cp_file = os.path.join(out, "classpath.txt")
    stamp = os.path.join(out, "build.hash")
    want = source_hash(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) \
            and open(stamp).read() == want:
        return open(cp_file).read().strip(), want
    log = os.path.join(out, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dperfbench.cp=" + cp_file, "compile", "writeClasspath"]
    with open(log, "w") as fh:
        r = run_bounded(cmd, HERE, fh, BUILD_TIMEOUT_S)
    if r != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {r}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(want)
    return open(cp_file).read().strip(), want


def run_bounded(cmd, cwd, out, timeout, env=None):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it, so nothing it started outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_jvm(cp, workload, seed, seconds, trace, runs):
    work = os.path.join(runs, f"{workload}-{seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dio.netty.tryReflectionSetAccessible=true",
            "-Djava.io.tmpdir=" + work,
            "-Dderby.system.home=" + os.path.join(work, "derby"),
            "-Duser.timezone=UTC", "-Xms2g", "-Xmx2g", "-cp", cp]
    if trace:
        cmd.append("-Dgraft.prof=true")
    cmd += ["perfbench.Main", workload, str(seed), str(seconds),
            "1" if trace else "0", FIXTURE, work, out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark_local"))
    log = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log, "w") as fh:
        r = run_bounded(cmd, work, fh, JVM_TIMEOUT_S, env)
    jvm_s = time.time() - t0
    if r != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{workload} run failed (exit {r}); see {log}")
    with open(out) as fh:
        res = json.load(fh)
    res["jvm_s"] = jvm_s
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        dst = os.path.join(os.path.dirname(runs), "trace")
        os.makedirs(dst, exist_ok=True)
        res["spans_file"] = os.path.join(dst, f"{workload}-seed{seed}.spans.jsonl")
        shutil.move(spans, res["spans_file"])
    shutil.rmtree(work, ignore_errors=True)
    return res


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))
    return s[int(k)]


def tail(xs):
    """The highest usual percentile with at least ten samples beyond it."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if len(xs) * (1 - p / 100) >= 10:
            return p, pct(xs, p)
    return 100.0, max(xs)


def check(res, digests):
    """Compares each query result with the stored oracle digest or row
    count. Returns the list of mismatches."""
    wrong = []
    exp = digests["queries"]
    for name, kind, value in res["checks"]:
        want = exp.get(name)
        if want is None or want[0] != kind:
            wrong.append((name, f"no stored {kind} to compare with"))
        elif want[1] != value:
            wrong.append((name, f"{kind} {value}, expected {want[1]}"))
    return wrong


def end_to_end(res):
    """End-to-end metrics from one run's observations:
    name -> (value, unit, note)."""
    w = res["workload"]
    units = [u for u in res["units"] if u["index"] >= 0]
    if not units or not res["setup_reps"]:
        fail(f"{w} measured nothing: " + "; ".join(c for _, c in res["failures"]))
    setup = res["session_s"] + statistics.median(res["setup_reps"])
    if w == "stream_ingest":
        lat = [o[2] for o in res["ops"] if o[0] == "event" and o[3]]
        drain = statistics.median(u["wall_s"] for u in units)
        ops_per_s = res["values"]["phase2.events"] / drain
    else:
        measured = {u["index"] for u in units}
        lat = [o[2] for o in res["ops"]
               if o[3] and o[4] in measured and o[0] not in ("delivery",)]
        ops_per_s = sum(u["ops"] for u in units) / sum(u["wall_s"] for u in units)
    if not lat:
        fail(f"{w} timed no successful operation")
    tp, tv = tail(lat)
    return {
        "setup_s": (setup, "s", f"{len(res['setup_reps'])} set-ups"),
        "run_s": (statistics.median(u["wall_s"] for u in units), "s",
                  f"median of {len(units)} units"),
        "op_p50_ms": (statistics.median(lat), "ms", f"n={len(lat)}"),
        "op_tail_ms": (tv, "ms", f"p{tp:g}, n={len(lat)}"),
        "ops_per_s": (ops_per_s, "1/s", ""),
        "cpu_s": (statistics.median(u["cpu_s"] for u in units), "s",
                  f"median of {len(units)} units"),
        "peak_rss_mb": (res["values"]["peak_rss_mb"], "MB", "VmHWM"),
    }


def main():
    # a terminated run still stops the JVM it started (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "BENCHMARK.json")
    for need in ("BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a checkout of the repository: {need} is missing in {root}")
    with open(bench) as fh:
        spec = json.load(fh)
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    cp, build_hash = build(root, out)
    with open(os.path.join(HERE, "digests.json")) as fh:
        digests = json.load(fh)
    if digests["fixture"] != fixture_hash():
        fail("digests.json was made for another fixture; rerun oracle.py")
    cpus = os.cpu_count() or 1
    runs = os.path.join(out, "runs")
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    # an untraced run is saved under its build, so a traced run compares
    # only with the same code, workload, seed and length
    saved = os.path.join(results, f"{a.workload}-{a.seed}-{a.seconds}-"
                                  f"{build_hash[:16]}.json")

    def one(trace):
        res = run_jvm(cp, a.workload, a.seed, a.seconds, trace, runs)
        wrong = [tuple(x) for x in res["wrong"]] + check(res, digests)
        return res, wrong

    if a.trace:
        if os.path.exists(saved):
            with open(saved) as fh:
                base = json.load(fh)
        else:
            base, _ = one(False)
            with open(saved, "w") as fh:
                json.dump(base, fh)
        res, wrong = one(True)
    else:
        res, wrong = one(False)
        with open(saved, "w") as fh:
            json.dump(res, fh)

    failures = res["failures"]
    attempted = max(1, len(res["ops"]))
    failed = len(failures) + len(wrong)
    for op, cause in failures[:50]:
        print(f"FAILED {op}: {cause}")
    for what, detail in wrong[:50]:
        print(f"WRONG {what}: {detail}")
    for what, note in res["notes"].items():
        print(f"NOTE {what}: {note}")
    e2e = end_to_end(res)
    print(f"workload {a.workload} seed {a.seed} cpus {cpus} "
          f"attempted {attempted} failed {failed}; JVM {res['jvm_s']:.1f} s "
          f"({res['values']['jvm_s_before_stop']:.1f} s before stopping)")
    metrics = {}
    if not a.trace:
        for m in spec["end_to_end"]:
            v, unit, note = e2e[m["name"]]
            print(f"  {m['name']:28s} {v:14.4f} {unit:6s} {note}")
            metrics[m["name"]] = {"value": v, "unit": unit}
    else:
        base_e2e = end_to_end(base)
        values = dict(res["values"])
        for name, (v, unit, _) in e2e.items():
            b = base_e2e[name][0]
            values[f"trace.overhead.{name}"] = (v - b) / b if b else 0.0
            print(f"  overhead {name:19s} traced {v:12.4f} untraced {b:12.4f} {unit}")
        for m in spec["per_layer"]:
            v = float(values.get(m["name"], 0.0))
            print(f"  {m['name']:28s} {v:14.4f} {m['unit']}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"  spans: {res.get('spans_file')}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
