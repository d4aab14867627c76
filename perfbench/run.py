#!/usr/bin/env python3
"""Benchmark command: builds the engine and the benchmark program from
source (once per checkout), runs one workload for one seed, and prints
the result as the last line of stdout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Untraced (--trace 0) the result carries every end-to-end metric of
BENCHMARK.json; traced (--trace 1) every per-layer metric, and the spans
go to perfbench/out/trace-<workload>-s<seed>.json. Exit status is 0 only
when the build, the run and every correctness check succeed.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, what, **kw):
    """Runs `cmd` in its own process group; the group is killed on timeout
    and when this script is terminated, so no child outlives the command."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)

    def kill():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def stop(signum, _frame):
        kill()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        fail(f"{what} exceeded {timeout} s", 4)
    return p.returncode, out


def spark_home():
    """SPARK_HOME, else the Spark install whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def runs_dir():
    """Parent of the per-run temp roots: CARGO_TARGET_DIR when set (the
    shared build-output variable), else .bench_build, under the checkout."""
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(d if os.path.isabs(d) else os.path.join(ROOT, d), "perfbench")


def sources_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


TARGET = os.path.join(HERE, "target")


def classes_dir():
    return os.path.join(TARGET, "scala-2.13", "classes")


def build():
    """Compiles with sbt unless the sources are unchanged since the last
    build. The stamp lives beside the classes it describes."""
    os.makedirs(TARGET, exist_ok=True)
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    build_log = os.path.join(TARGET, "perfbench-build.log")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and os.path.isdir(classes_dir()):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    # a build cut short leaves classes of no known sources behind
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    t0 = time.time()
    with open(build_log, "w") as log:
        code, _ = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData", "compile"],
                            BUILD_TIMEOUT_S, "build", cwd=HERE, env=env, stdout=log,
                            stderr=subprocess.STDOUT)
    if code != 0:
        fail(f"build failed (see {build_log})", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_java(args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", classes_dir() + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", os.path.join(HERE, "out"),
            "--scale", str(args.scale)]
    if args.corrupt_check:
        cmd += ["--corrupt-check", "1"]
    return run_child(cmd, RUN_TIMEOUT_S, "run", cwd=work, stdout=subprocess.PIPE, text=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-test: small)")
    ap.add_argument("--corrupt-check", action="store_true",
                    help="perturb the expected answers; the run must then fail")
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    spec = load_spec()
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    build()

    work = os.path.join(runs_dir(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = run_java(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            res = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if res is None:
        fail(f"no result (exit {code})", code or 5)

    labels = res["labels"]
    if args.trace:
        # the program writes 0 itself for the layers a workload bypasses,
        # so a missing metric is a renamed or lost span or sample
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in res["per_layer"]]
        if missing:
            fail(f"per-layer metrics missing: {missing}", 6)
        metrics = {m["name"]: {"value": res["per_layer"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        # tracing overhead against the untraced run of the same workload and seed
        prev = os.path.join(HERE, "out", f"result-{args.workload}-s{args.seed}.json")
        if os.path.exists(prev):
            with open(prev) as fh:
                base = json.load(fh)["metrics"]["wall_s"]["value"]
            labels["trace_overhead_s"] = res["per_layer"]["trace.wall_s"] - base
    else:
        e2e = res["end_to_end"]
        metrics = {}
        for m in spec["end_to_end"]:
            got = e2e.get(m["name"])
            if got is None or got["unit"] != m["unit"]:
                fail(f"metric {m['name']} missing or in another unit: {got}", 6)
            metrics[m["name"]] = got
    result = {"correct": bool(res["correct"]) and code == 0, "attempted": int(res["attempted"]),
              "failed": int(res["failed"]), "metrics": metrics}
    if not args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        with open(os.path.join(HERE, "out", f"result-{args.workload}-s{args.seed}.json"), "w") as fh:
            json.dump(result, fh)
    print(json.dumps({"labels": labels}))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
