"""Benchmark entry point for graft.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--keep DIR]

Run from the root of a graft checkout. The first run builds graft's main
sources together with the driver in perfbench/src (sbt, offline) and caches
the classes under .bench_build/perfbench as one jar, keyed by a hash of the
sources. It then runs one untimed pass of every workload in a training JVM
that writes a class-data-sharing archive at exit; every run maps that archive,
so JVM start-up and the cold first pass cost less of the time budget.
Each run then generates its inputs from --seed (perfbench/gen.py), runs the
workload's pipeline in one JVM (warm-up passes, then timed passes for
--seconds), checks the outputs independently (perfbench/check.py) and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

STARTED = time.time()

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("omics_load", "corpus_curation", "vector_search")
UNITS = {
    "setup_s": "s", "pass_s": "s", "read_s": "s", "write_s": "s", "stored_bytes": "bytes",
    "live_heap_mb": "MiB",
}
RUN_LIMIT_S = 170
JVM_HEAP = "2g"
# Spark cores and GC threads: leave host cores free for the JIT compiler
# threads and the host's other load, so they do not slow the critical path
MAX_CORES = 2
# untimed passes, the cold one included: passes in one JVM keep speeding up
# for several passes (JIT, codegen caches); timed passes come after that
WARMUP_PASSES = 6
TRAIN_SEED = 0
TRAIN_LIMIT_S = 400
# Spark 4 on JDK 17 outside spark-submit needs these (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def cores():
    return max(1, min(MAX_CORES, os.cpu_count() or 1))


def java_cmd(cp, main_class, archive_flag):
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
           f"-XX:ParallelGCThreads={cores()}", "-XX:ConcGCThreads=1", archive_flag,
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main_class]


def ensure_built():
    """Returns the runtime classpath and the class-data-sharing archive,
    building both first if the sources changed."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    archive = os.path.join(BUILD, "classes.jsa")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file) and os.path.exists(archive):
        with open(stamp_file) as f, open(cp_file) as g:
            built, cp = f.read(), g.read()
        if built == stamp and os.path.isfile(cp.split(os.pathsep)[0]):
            return cp, archive
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, archive):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
        ).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if os.sep + "classes" in ln and ":" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        die(f"build failed (exit {rc}); see {log}")
    # class-data sharing archives classes from jars only, not directories
    jar = os.path.join(BUILD, "perfbench.jar")
    entries = []
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for e in cp[-1].strip().split(os.pathsep):
            if not os.path.isdir(e):
                entries.append(e)
                continue
            for d, _, names in os.walk(e):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), e))
    cp = os.pathsep.join([jar] + entries)

    train = os.path.join(BUILD, "train")
    shutil.rmtree(train, ignore_errors=True)
    for w in WORKLOADS:
        gen.generate(w, TRAIN_SEED, os.path.join(train, "in"))
    cmd = java_cmd(cp, "perfbench.Train", f"-XX:ArchiveClassesAtExit={archive}")
    cmd += ["--in", os.path.join(train, "in"), "--out", os.path.join(train, "out"),
            "--cores", str(cores())]
    with open(os.path.join(BUILD, "train.log"), "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=BUILD, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=TRAIN_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 or not os.path.exists(archive):
        die(f"training run failed (exit {rc}); see {os.path.join(BUILD, 'train.log')}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, archive


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the run's inputs and outputs here")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources under src/main/scala/graft: run from the root of a graft checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME must point at a Spark 4.1 install")
    t_build = time.time()
    cp, archive = ensure_built()
    # set-up time and the run's time limit count from the process's start,
    # leaving out the build, which only the first run in a checkout makes
    t0 = STARTED + (time.time() - t_build)

    run = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    inp, out = os.path.join(run, "in"), os.path.join(run, "out")
    os.makedirs(out)
    gen.generate(a.workload, a.seed, inp)
    result_file = os.path.join(run, "result.json")
    cmd = java_cmd(cp, "perfbench.Main", f"-XX:SharedArchiveFile={archive}")
    cmd += ["--workload", a.workload, "--in", inp, "--out", out, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()), "--warmup", str(WARMUP_PASSES),
            "--result", result_file]
    log = os.path.join(run, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd + ["--start-ms", str(int(t0 * 1000))], cwd=run,
                                stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"workload timed out; see {log}")
    if rc != 0 or not os.path.exists(result_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"workload failed (exit {rc}); see {log}")
    with open(result_file) as f:
        res = json.load(f)

    print(f"perfbench: {a.workload} seed {a.seed}: warm-up passes {res['warmup_walls']} s, "
          f"timed passes {res['pass_walls']} s", file=sys.stderr)
    problems = check.check(a.workload, inp, out)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if a.keep:
        shutil.rmtree(a.keep, ignore_errors=True)
        shutil.copytree(run, a.keep, ignore=shutil.ignore_patterns("spark-local", "warehouse"))
    shutil.rmtree(run, ignore_errors=True)

    if a.trace:
        units = layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in res["end_to_end"].items()}
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
