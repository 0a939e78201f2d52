#!/usr/bin/env python3
"""graft benchmark: one seeded workload, timed end to end and layer by layer.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload reference_sf0.01 --seed 1 --seconds 5 --trace 0

The first run builds the engine and the harness with sbt (offline) into
`.bench_build/`; later runs reuse the build while the sources are unchanged.
The harness runs in one JVM; its result is printed as the last line of
stdout:

    {"correct": true, "attempted": 96, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
The full record of a run (context, set-up, check pass, every pass and
query, per-layer values) is kept under `.bench_build/records/`, and a
traced run's spans beside it.

Maintenance entry points (see perfbench/README.md):

    python3 perfbench/run.py --selftest      listener-count and scan-byte checks
    python3 perfbench/run.py --make-goldens  rewrite perfbench/goldens.json
    python3 perfbench/run.py --crosscheck    goldens against the DuckDB oracle
    python3 perfbench/run.py --summary       medians and tracing overhead of the kept records
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.01")
GOLDENS = os.path.join(BENCH, "goldens.json")
WORKLOADS = ("reference_sf0.01", "scale_sf0.1", "ingest_sf0.01")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def die(code, msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's build and sources, and ours."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "project", "build.properties")]
    files = [f for f in tops if os.path.isfile(f)]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj) if f.endswith(".sbt")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(tree):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns the exit code, or None after a timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def build(stamp):
    """Compile engine + harness when the sources changed; return (classpath, jvm opts)."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    os.makedirs(BUILD, exist_ok=True)
    fresh = os.path.isfile(launch) and os.path.isfile(stamp_file) \
        and open(stamp_file).read().strip() == stamp
    if not fresh:
        sbt = shutil.which("sbt")
        if sbt is None:
            die(3, "sbt not found on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
        log = os.path.join(BUILD, "build.log")
        t0 = time.time()
        with open(log, "w") as fh:
            rc = run_group([sbt, "--batch", "-Dsbt.log.noformat=true",
                            f"-Dperfbench.launch={launch}", "writeLaunch"],
                           BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                           stdin=subprocess.DEVNULL, stdout=fh, stderr=subprocess.STDOUT)
        if rc != 0:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            die(3, f"build failed (exit {rc}); log in {log}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp + "\n")
        print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(launch) as fh:
        lines = [l.rstrip("\n") for l in fh if l.strip()]
    return lines[0], lines[1:]


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def harness(launch, work, args, timeout=RUN_TIMEOUT_S, main="graftbench.Harness"):
    """Run one harness JVM in a fresh work directory; its stdout goes to our stderr."""
    cp, opts = launch
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else (shutil.which("java") or "java")
    # a fixed heap keeps GC sizing, and so peak RSS, the same from run to run
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *opts, f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}", "-cp", cp, main, *args]
    rc = run_group(cmd, timeout, cwd=work, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    if rc is None:
        die(4, f"{main} timed out after {timeout} s")
    if rc != 0:
        die(5, f"{main} exited with {rc}")


def bench(a, launch, stamp):
    work = os.path.join(BUILD, "run")
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(work, "result.json")
    launched_ms = time.time() * 1000.0
    harness(launch, work, [
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", DATA, "--work", work, "--goldens", GOLDENS, "--out", out,
        "--record", os.path.join(records, tag + ".json"),
        "--spans", os.path.join(records, tag + ".spans.json"),
        "--launch-ms", repr(launched_ms), "--commit", commit(), "--source-hash", stamp])
    with open(out) as fh:
        res = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    # print exactly the metrics BENCHMARK.json declares for this mode
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.isfile(spec_file):
        with open(spec_file) as fh:
            declared = [m["name"] for m in json.load(fh)["per_layer" if a.trace else "end_to_end"]]
        missing = [n for n in declared if n not in res["metrics"]]
        if missing:
            die(6, f"harness did not report {missing}")
        res["metrics"] = {n: res["metrics"][n] for n in declared}
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


SELFTEST_QUERIES = ("q_p1_project", "q_sql_join3", "q_d_incr")


def selftest(launch):
    """Two separate processes must agree exactly on each fixed row's job
    counts (read after draining the listener bus), and q_p1_project's
    scan bytes must equal the size of the one file it scans in full."""
    runs = []
    for i in (1, 2):
        work = os.path.join(BUILD, f"selftest{i}")
        out = os.path.join(BUILD, f"selftest{i}.json")
        harness(launch, work, ["--mode", "selftest", "--queries", ",".join(SELFTEST_QUERIES),
                               "--data", DATA, "--work", work, "--out", out])
        shutil.rmtree(work, ignore_errors=True)
        with open(out) as fh:
            runs.append(json.load(fh))
    bad = 0

    def check(ok, what):
        nonlocal bad
        bad += not ok
        print(f"{'PASS' if ok else 'FAIL'} {what}")

    for q in SELFTEST_QUERIES:
        for k in ("build.jobs", "exec.jobs"):
            vals = [r[q][k] for r in runs]
            check(runs[0][q]["ok"] and vals[0] == vals[1], f"{q} {k} repeats: {vals}")
    part, p1 = runs[0]["part.parquet"], runs[0]["q_p1_project"]
    check(p1["tables.scan_bytes"] == part["file_bytes"],
          f"q_p1_project tables.scan_bytes {p1['tables.scan_bytes']:.0f} == "
          f"part.parquet size {part['file_bytes']} "
          f"(tables.task_input_bytes {p1['tables.task_input_bytes']:.0f})")
    check(p1["tables.scan_rows"] == part["rows"] and p1["tables.scan_files"] == 1,
          f"q_p1_project scans {p1['tables.scan_rows']:.0f} rows of {part['rows']} "
          f"in {p1['tables.scan_files']:.0f} file")
    sys.exit(1 if bad else 0)


def make_goldens(launch):
    work = os.path.join(BUILD, "goldens")
    harness(launch, work, ["--mode", "goldens", "--data", DATA, "--work", work,
                           "--out", GOLDENS], timeout=900)
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {GOLDENS}")


def crosscheck(launch):
    """graft.Verify dumps every workload row at the workload's input; the
    repository's DuckDB oracle gate (tools/check.py) compares the dumps;
    the harness fingerprints the dumps and they must equal the goldens."""
    with open(GOLDENS) as fh:
        goldens = json.load(fh)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    bad = 0
    for w in WORKLOADS:
        base = os.path.join(BUILD, "crosscheck", w)
        shutil.rmtree(base, ignore_errors=True)
        inp, dump = os.path.join(base, "input"), os.path.join(base, "dump")
        os.makedirs(base)
        queries = ",".join(sorted(goldens[w]))
        if w.startswith("scale_"):
            harness(launch, os.path.join(base, "w1"), [DATA, inp, "10", "32"],
                    timeout=900, main="graft.ScaleUp")
        else:
            shutil.copytree(DATA, inp)
        harness(launch, os.path.join(base, "w2"), [inp, dump, queries],
                timeout=1800, main="graft.Verify")
        rc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                             inp, dump, queries]).returncode
        out = os.path.join(base, "fingerprints.json")
        harness(launch, os.path.join(base, "w3"), [
            "--mode", "fingerprint", "--dir", dump, "--queries", queries,
            "--data", DATA, "--work", os.path.join(base, "w3"), "--out", out], timeout=900)
        with open(out) as fh:
            fps = json.load(fh)
        diff = [q for q in goldens[w] if fps[q] != goldens[w][q]]
        bad += rc != 0 or bool(diff)
        print(f"{w}: oracle check exit {rc}; fingerprints of the Verify dumps "
              f"{'match' if not diff else 'DIFFER for ' + ','.join(diff)} "
              f"the goldens ({len(goldens[w])} rows)")
    sys.exit(1 if bad else 0)


def summary():
    """Per workload, over the kept records of the current sources: medians
    of the untraced runs' end-to-end metrics and of the traced runs'
    per-layer values, and the tracing overhead (traced minus untraced
    workload_s)."""
    import statistics
    stamp = source_hash()
    records = os.path.join(BUILD, "records")
    runs = {}
    for f in sorted(os.listdir(records)) if os.path.isdir(records) else []:
        if f.endswith(".json") and not f.endswith(".spans.json"):
            with open(os.path.join(records, f)) as fh:
                r = json.load(fh)
            if r["context"]["source_sha256"] == stamp:
                runs.setdefault(r["context"]["workload"], []).append(r)
    for w, rs in sorted(runs.items()):
        plain = [r for r in rs if not r["context"]["trace"]]
        traced = [r for r in rs if r["context"]["trace"]]
        med = {}
        for group, key in ((plain, "end_to_end"), (traced, "per_layer")):
            for k in (group[0][key] if group else {}):
                med[k] = statistics.median(r[key][k]["value"] for r in group)
        steal = statistics.median(r["context"]["host_steal_s_during_passes"] for r in rs)
        print(f"{w}: {len(plain)} untraced, {len(traced)} traced runs; median host steal {steal:.2f} s")
        for k, v in med.items():
            print(f"  {k:28s} {v:.6g}")
        if plain and traced:
            print(f"  tracing overhead: {med['trace.workload_s'] - med['workload_s']:.3f} s "
                  f"({med['trace.workload_s'] / med['workload_s'] - 1:+.1%} of workload_s)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--make-goldens", action="store_true")
    ap.add_argument("--crosscheck", action="store_true")
    ap.add_argument("--summary", action="store_true")
    a = ap.parse_args()
    if a.summary:
        return summary()
    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join(BENCH, "build.sbt"), DATA):
        if not os.path.exists(need):
            die(2, f"not a graft checkout with the benchmark: {os.path.relpath(need, ROOT)} is missing")
    stamp = source_hash()
    launch = build(stamp)
    if a.selftest:
        selftest(launch)
    elif a.make_goldens:
        make_goldens(launch)
    elif a.crosscheck:
        crosscheck(launch)
    elif a.workload:
        bench(a, launch, stamp)
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()
