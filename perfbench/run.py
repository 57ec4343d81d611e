#!/usr/bin/env python3
"""Feature-store benchmark for the graft library.

Builds the library and the benchmark from source (once per source state),
runs one workload in a fresh JVM, checks its outputs, prints every metric
by name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Usage (from the repository root):

    python3 perfbench/run.py --workload offline_pit --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

`--trace 0` reports the end-to-end metrics; `--trace 1` alternates
untraced and traced operations and reports the per-layer metrics, the
per-layer self-time table and the tracing overhead. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ["offline_pit", "online_serve", "stream_sliding", "corpus_dedup"]
RUN_LIMIT_S = 170  # one workload run, build excluded
BUILD_LIMIT_S = 850

# The module opens Spark needs on JDK 17 outside spark-submit.
JVM_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in (LIB_SRC, BENCH_SRC):
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames.sort()
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_JARS, else
    $SPARK_HOME/jars; None when neither is set."""
    home = os.environ.get("SPARK_HOME")
    return os.environ.get("SPARK_JARS") or (os.path.join(home, "jars") if home else None)


def run_group(cmd, limit_s, cwd, env=None, stdout=None, stderr=None):
    """Runs cmd in its own process group; kills the group on timeout.
    Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                         stdout=stdout, stderr=stderr, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compiles the library and the benchmark with sbt unless the sources
    are unchanged since the last successful build."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        log(f"library sources not found under {os.path.relpath(LIB_SRC, ROOT)}; "
            "run from a full checkout of the repository")
        return False
    if shutil.which("sbt") is None:
        log("sbt not found on PATH")
        return False
    if spark_jars() is None:
        log("no Spark distribution found: set SPARK_HOME")
        return False
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and os.path.isdir(CLASSES):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return True
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("building library + benchmark (sbt compile)")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         BUILD_LIMIT_S, HERE, env, out, subprocess.STDOUT)
    if code != 0:
        log(f"build failed (exit {code}); see {os.path.join(WORK, 'build.log')}")
        with open(os.path.join(WORK, "build.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        return False
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return True


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns its result dict or None."""
    work = os.path.join(WORK, f"run-{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *sum((["--add-opens", o] for o in JVM_OPENS), []),
           "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}:{spark_jars()}/*", "graftbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores()), "--work", work]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as err:
        code = run_group(cmd, RUN_LIMIT_S, work, None, err, subprocess.STDOUT)
    res_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(res_path):
        log(f"{workload}: JVM exit {code}; last log lines:")
        with open(jvm_log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        return None, work
    with open(res_path) as fh:
        return json.load(fh), work


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def summarize(workload, res, trace, failed):
    """Human-readable lines: this workload's own metrics, then (traced) the
    per-layer metrics and self-time table."""
    attempted = res["attempted"]
    print(f"== {workload} ({'traced' if trace else 'untraced'}): "
          f"{attempted} operations, {failed} failed or wrong")
    rows = list(res["report"].items())
    rows.append(("failed_ratio", {"value": failed / max(attempted, 1), "unit": "ratio"}))
    for group in (rows, list(res["per_layer"].items()), list(res["layers"].items())):
        for name, m in group:
            print(f"  {name:<34} {fmt(m['value']):>14} {m['unit']}")
    if res["self_time"]:
        print(f"  {'layer':<16} {'spans':>8} {'total_ms':>12} {'self_ms':>12}")
        for r in sorted(res["self_time"], key=lambda r: -r["self_ms"]):
            print(f"  {r['layer']:<16} {r['spans']:>8} {r['total_ms']:>12.1f} {r['self_ms']:>12.1f}")
    if "trace.overhead_ratio" in res["per_layer"]:
        lay = res["layers"]
        print(f"  tracing overhead: traced op median {lay['trace.traced_op_ms']['value']:.3f} ms"
              f" vs untraced {lay['trace.untraced_op_ms']['value']:.3f} ms"
              f" (ratio {res['per_layer']['trace.overhead_ratio']['value']:.4f})")


def run_one(workload, seed, seconds, trace):
    res, work = run_jvm(workload, seed, seconds, trace)
    if res is None:
        return None
    failed = int(res["failed"])
    attempted = int(res["attempted"])
    import oracles  # noqa: E402  (needs duckdb only once a run succeeded)
    # The JVM counts what it checked itself in `failed`; a table output
    # that differs from its DuckDB oracle fails every operation.
    for check in res["checks"]:
        oracle = oracles.CHECKS.get(check["kind"])
        if oracle is None:
            continue
        try:
            bad = oracle(check)
        except Exception as e:  # an oracle that cannot run is a failed check
            log(f"{workload}: check {check['kind']} could not run: {e}")
            bad = 1
        if bad:
            log(f"{workload}: {bad} output rows differ from the reference")
            failed = attempted
    if not res["checks"]:
        failed = attempted  # nothing was verified
    summarize(workload, res, trace, failed)
    traces = os.path.join(WORK, "traces")
    if trace and os.path.exists(os.path.join(work, "spans.json")):
        os.makedirs(traces, exist_ok=True)
        dest = os.path.join(traces, f"{workload}-seed{seed}.json")
        shutil.copy(os.path.join(work, "spans.json"), dest)
        print(f"  spans: {os.path.relpath(dest, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    metrics = res["per_layer"] if trace else res["e2e"]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    if not build():
        return 2
    names = WORKLOADS if a.workload == "all" else [a.workload]
    out = []
    for wl in names:
        r = run_one(wl, a.seed, a.seconds, a.trace)
        if r is None:
            return 3
        out.append((wl, r))
    if len(out) == 1:
        final = out[0][1]
    else:
        final = {"correct": all(r["correct"] for _, r in out),
                 "attempted": sum(r["attempted"] for _, r in out),
                 "failed": sum(r["failed"] for _, r in out),
                 "metrics": {f"{wl}.{k}": v for wl, r in out for k, v in r["metrics"].items()}}
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
