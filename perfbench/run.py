#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload crawl-loop --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the benchmark (the program's
sources plus `perfbench/src`) with sbt, offline, into `perfbench/target`
unless the build for the current sources already exists, then runs one
JVM at local[nproc] and checks its outputs. The last line on stdout is
one JSON object: correct, attempted, failed and the metrics. With
`--trace 0` they are the end-to-end metrics of BENCHMARK.json, with
`--trace 1` the per-layer ones. A failed build, preflight or check
exits non-zero with the reason on stderr.

Scratch files, stores and per-run records go under `.bench_build/`
(or `$CARGO_TARGET_DIR` when set): `out/<workload>-s<seed>-t<trace>/`
keeps the run's result and, for analytics-suite, the per-query record.
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

T0 = time.monotonic()
BUILD_S = 0.0  # time this process spent compiling
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA_DIR = os.path.join(HERE, "data", "sf0.001")
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
WORKLOADS = ["crawl-loop", "analytics-suite", "frontier-churn"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(code, reason):
    print(f"perfbench: {reason}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, limit_s, log_path, **kw):
    """Run `cmd` in its own process group with output to `log_path`;
    on timeout kill the whole group and wait for it. Returns the exit
    code, or None on timeout."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=max(1, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=20):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def fingerprint():
    h = hashlib.sha256()
    files = []
    for top in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def preflight():
    if not os.path.isdir(PROGRAM_SRC):
        fail(2, f"preflight: the program's sources are missing ({os.path.relpath(PROGRAM_SRC, ROOT)})")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(2, f"preflight: '{tool}' is not on PATH")
    if not os.path.isdir(DATA_DIR):
        fail(2, f"preflight: the analytics input is missing ({os.path.relpath(DATA_DIR, ROOT)})")


def build():
    """Compile the benchmark and the program's sources; return the
    runtime classpath. Reuses the build of identical sources."""
    preflight()
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file = os.path.join(BUILD_DIR, f"classpath-{fingerprint()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    # every build compiles into the same classes directory, so only the
    # newest classpath file may stand
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD_DIR, old))
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx4g")
    global BUILD_S
    log = os.path.join(BUILD_DIR, "build.log")
    b0 = time.monotonic()
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                      "compile", "export Runtime/fullClasspath"],
                     BUILD_LIMIT_S, log, cwd=HERE, env=env)
    BUILD_S = time.monotonic() - b0
    if rc != 0:
        fail(3, f"build failed ({'timeout' if rc is None else f'exit {rc}'}):\n{tail(log)}")
    with open(log, errors="replace") as f:
        lines = [l.strip() for l in f if "scala-2.13" in l and os.pathsep in l]
    if not lines:
        fail(3, f"build printed no classpath:\n{tail(log)}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def java_cmd(cp, work, main_args):
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens +
            ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
             f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
             "-cp", cp, "graft.perfbench.Main"] + main_args)


def oracle_sql(cp):
    """The oracle SQL text of each query in the analytics set."""
    work = os.path.join(BUILD_DIR, "work", "oracle-sql")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rc = run_bounded(java_cmd(cp, work, ["--workload", "oracle-sql", "--seed", "0", "--seconds", "0",
                                         "--trace", "0", "--work", work]),
                     120, os.path.join(work, "jvm.log"))
    if rc != 0:
        fail(4, f"could not list the oracle SQL:\n{tail(os.path.join(work, 'jvm.log'))}")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        return json.load(f)


def benchmark_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(2, "preflight: BENCHMARK.json is missing")
    with open(path) as f:
        return json.load(f)


def untraced_round_s(args):
    """round_s of the untraced run of the same workload and seed, or
    the median over the untraced runs of the workload kept in `out/`;
    when there is none, make the untraced run of this seed now."""
    def load(path):
        with open(path) as f:
            return json.load(f)["metrics"]["round_s"]["value"]
    out = os.path.join(BUILD_DIR, "out")
    same = os.path.join(out, f"{args.workload}-s{args.seed}-t0", "result.json")
    if not os.path.exists(same):
        others = [os.path.join(out, d, "result.json") for d in os.listdir(out)
                  if d.startswith(args.workload + "-s") and d.endswith("-t0")]
        others = [p for p in others if os.path.exists(p)]
        if others:
            return statistics.median(load(p) for p in others)
        p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
                           stdout=subprocess.DEVNULL)
        if p.returncode != 0 or not os.path.exists(same):
            fail(4, "the untraced run to compare the traced one with failed")
    return load(same)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = benchmark_spec()
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    listed = args.workload in [w["name"] for w in spec["workloads"]]
    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BUILD_DIR, "work", tag)
    out = os.path.join(BUILD_DIR, "out", tag)
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out)
    cores = os.environ.get("PERFBENCH_CORES") or str(len(os.sched_getaffinity(0)))
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--work", work, "--cores", cores, "--data", DATA_DIR]
    jvm_log = os.path.join(out, "jvm.log")
    spent = time.monotonic() - T0 - BUILD_S
    rc = run_bounded(java_cmd(cp, work, main_args), RUN_LIMIT_S - spent, jvm_log)
    jvm_s = time.monotonic() - T0 - BUILD_S - spent
    result_path = os.path.join(work, "result.json")
    if rc is None:
        fail(4, f"run timed out:\n{tail(jvm_log)}")
    if not os.path.exists(result_path):
        fail(4, f"run ended (exit {rc}) without a result:\n{tail(jvm_log)}")
    with open(result_path) as f:
        result = json.load(f)
    for name in ("result.json", "queries.jsonl"):
        if os.path.exists(os.path.join(work, name)):
            shutil.copy(os.path.join(work, name), out)

    correct = bool(result["correct"])
    failed = int(result["failed"])
    reasons = list(result["failures"])
    if correct and args.workload == "analytics-suite":
        import oracle
        with open(os.path.join(work, "oracle_sql.json")) as f:
            sql_map = json.load(f)
        out_root = os.path.join(work, "out")
        rounds = sorted(os.listdir(out_root)) if os.path.isdir(out_root) else []
        # one failure per query output that misses its oracle answer;
        # the queries that threw wrote none and are counted already
        failures = oracle.check([os.path.join(out_root, r) for r in rounds], sql_map, DATA_DIR,
                                os.path.join(BUILD_DIR, "oracle-cache.json"),
                                set(result["failed_ops"]))
        if failures:
            correct = False
            failed += len(failures)
            reasons += failures
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: jvm {jvm_s:.1f}s, run {time.monotonic() - T0 - BUILD_S:.1f}s", file=sys.stderr)

    got = result["metrics"]
    if args.trace and correct:
        got["trace.overhead_s"] = {"value": got["round_s"]["value"] - untraced_round_s(args)}
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got and got[name]["value"] is not None:
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
        elif args.trace:
            # a layer this workload never calls did no work
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
        elif correct:
            fail(5, f"the run reported no '{name}'")
    if not listed:
        # a workload outside BENCHMARK.json reports all it measured
        metrics.update({k: v for k, v in got.items() if k not in metrics})
    for r in reasons:
        print(f"perfbench: {r}", file=sys.stderr)
    for n in result.get("notes", []):
        print(f"perfbench: {n}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": int(result["attempted"]),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
