#!/usr/bin/env python3
"""Run one crawl-engine benchmark workload and print its result.

    python3 crawlbench/run.py --workload crawl_bulk --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout. The first run compiles the
engine and the harness into one jar with the Scala compiler that ships
in Spark's jars (no sbt, no dependency cache, no network); later runs
reuse it while the sources are unchanged. Each run starts one JVM on local[nproc]
with spark-submit, generates its inputs from the seed, measures, checks the
output digest against the one recorded for (workload, seed) in
crawlbench/digests.json (recording it when the seed is new), and prints
as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
traced run prints the per-layer ones and writes its spans to
crawlbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, "target", "run")
JAR = os.path.join(BUILD_DIR, "crawlbench.jar")
STAMP = os.path.join(BUILD_DIR, "crawlbench.stamp")
DIGESTS = os.path.join(HERE, "digests.json")
WORKLOADS = ("crawl_bulk", "crawl_polite")
END_TO_END = ("urls_per_s", "round_p50_s", "setup_s", "store_bytes_per_url")
BUILD_TIMEOUT_S = 720
RUN_TIMEOUT_S = 170
HEAP = "3g"

# The operations one run schedules when it completes (from the recorded
# runs); a run that fails counts this many as attempted and failed.
OPS_PER_RUN = {"crawl_bulk": 23000, "crawl_polite": 1140}
# the engine build's collector settings (see the root build.sbt)
G1_FLAGS = ["-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200",
            "-XX:G1ReservePercent=15", "-XX:InitiatingHeapOccupancyPercent=35"]
# Two JIT compiler threads instead of the three a 4-core JVM starts by
# default: the engine compiles new generated code every round, and the
# compiler threads compete with the four task threads for the cores
# (crawlbench/README.md, "How the JVM is started", has the trial).
JIT_FLAGS = ["-XX:CICompilerCount=2"]


# the child processes started so far; a SIGTERM kills and reaps them
CHILDREN = []


def on_sigterm(*_):
    for proc in CHILDREN:
        proc.kill()
        proc.wait()
    sys.exit(1)


def start(cmd, **kw):
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    CHILDREN.append(proc)
    return proc


def log(msg):
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def fail_setup(msg, code):
    log(msg)
    sys.exit(code)


def source_files():
    files = [os.path.join(HERE, "run.py")]
    for r in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint(home):
    h = hashlib.sha256()
    h.update(" ".join(sorted(os.listdir(os.path.join(home, "jars")))).encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def login_env():
    """The variables a login shell sets (the toolchain's profile scripts
    put Spark and the JDK there), for a caller whose environment lacks
    them; empty when there is no such shell."""
    try:
        out = subprocess.run(["bash", "-lc", "env -0"], stdin=subprocess.DEVNULL,
                             capture_output=True, timeout=30).stdout
    except (OSError, subprocess.TimeoutExpired):
        return {}
    pairs = (kv.split(b"=", 1) for kv in out.split(b"\0") if b"=" in kv)
    return {k.decode(errors="replace"): v.decode(errors="replace") for k, v in pairs}


def find_toolchain(env):
    """(SPARK_HOME, java) as `env` gives them, or None."""
    path = env.get("PATH", os.defpath)
    home = env.get("SPARK_HOME")
    submit = shutil.which("spark-submit", path=path)
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else None
    if not (java and os.access(java, os.X_OK)):
        java = shutil.which("java", path=path)
    if home and os.path.isdir(os.path.join(home, "jars")) and java:
        return home, java
    return None


def toolchain():
    """(SPARK_HOME, java) from this environment, else from a login
    shell's; exits with code 3 when either is missing."""
    found = find_toolchain(os.environ) or find_toolchain(login_env())
    if found is None:
        fail_setup("no Spark installation or no java: set SPARK_HOME and put java on PATH", 3)
    return found


def build(home, java):
    """Compile the engine's sources and the harness's together with the
    Scala compiler that ships in Spark's jars, against those jars, and
    pack the classes and resources into JAR. Skipped while the sources
    and the Spark installation are unchanged."""
    fp = fingerprint(home)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == fp and os.path.isfile(JAR):
        return
    jars = os.path.join(home, "jars")
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail_setup(f"no Scala compiler among the jars in {jars}", 3)
    log("compiling engine + harness (first run in this checkout)")
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    classes = os.path.join(BUILD_DIR, "classes")
    os.makedirs(classes)
    sources = [f for r in (os.path.join(ENGINE_SRC, "scala"), os.path.join(HERE, "src", "main", "scala"))
               for d, _, names in os.walk(r) for f in (os.path.join(d, n) for n in names)
               if f.endswith((".scala", ".java"))]
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sorted(sources)) + "\n")
    cmd = [java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD_DIR}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    p = start(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
    try:
        p.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail_setup("build timed out", 3)
    if p.returncode != 0:
        fail_setup(f"compile failed (scalac exit {p.returncode})", 3)
    resources = os.path.join(HERE, "src", "main", "resources")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n\n")
        for base in (classes, resources):
            for d, _, names in os.walk(base):
                for n in sorted(names):
                    f = os.path.join(d, n)
                    z.write(f, os.path.relpath(f, base))
    os.replace(JAR + ".tmp", JAR)
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n")


def submit_cmd(args, work, home):
    """spark-submit of the harness jar. spark-submit adds the JDK module
    options Spark needs; the work dir keeps temp files, Spark's local dirs
    and the warehouse inside the checkout."""
    java_opts = [*G1_FLAGS, *JIT_FLAGS, f"-Xms{HEAP}", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                 f"-Dlog4j.configurationFile={os.path.join(HERE, 'src', 'main', 'resources', 'log4j2.properties')}"]
    return [os.path.join(home, "bin", "spark-submit"),
            "--class", "crawlbench.Main", "--driver-memory", HEAP,
            "--driver-java-options", " ".join(java_opts),
            "--conf", "spark.ui.enabled=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            JAR,
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", os.path.join(work, "data")] + (
        ["--spans", os.path.join(HERE, "out", f"spans-{args.workload}-seed{args.seed}.jsonl")]
        if args.trace else [])


def run_jvm(args, work, home, java):
    """Start the JVM, wait for it (killing it on timeout or on our own
    termination) and return its result object, or None."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_HOME=home, JAVA_HOME=os.path.dirname(os.path.dirname(os.path.realpath(java))),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"), SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    proc = start(submit_cmd(args, work, home), cwd=work, env=env, stdout=subprocess.PIPE,
                 stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
        return None
    result = None
    for line in out.splitlines():
        if line.startswith("CRAWLBENCH_RESULT "):
            result = json.loads(line[len("CRAWLBENCH_RESULT "):])
    if proc.returncode != 0:
        log(f"JVM exited with {proc.returncode}")
    return result


def check_digest(workload, seed, digest, record):
    """True when the digest matches the recorded one. A seed with no
    recorded digest gets this one recorded when `record` is set (the run
    broke none of its own invariants) and fails otherwise."""
    table = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as fh:
            table = json.load(fh)
    recorded = table.get(workload, {}).get(str(seed))
    if recorded is None:
        if not record:
            return False
        table.setdefault(workload, {})[str(seed)] = digest
        with open(DIGESTS + ".tmp", "w") as fh:
            json.dump(table, fh, indent=1, sort_keys=True)
            fh.write("\n")
        os.replace(DIGESTS + ".tmp", DIGESTS)
        log(f"recorded digest for {workload} seed {seed}")
        return True
    if recorded != digest:
        log(f"digest mismatch for {workload} seed {seed}: expected {recorded}, got {digest}")
        return False
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail_setup(f"engine sources not found under {ENGINE_SRC}: run from a source checkout", 2)
    signal.signal(signal.SIGTERM, on_sigterm)
    home, java = toolchain()
    build(home, java)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    try:
        result = run_jvm(args, work, home, java)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if result is None or "error" in result:
        log(f"run failed: {result.get('error') if result else 'no result line'}")
        ops = OPS_PER_RUN[args.workload]
        print(json.dumps({"correct": False, "attempted": ops, "failed": ops, "metrics": {}}))
        return
    attempted = max(1, int(result["attempted"]))
    for p in result["problems"]:
        log(f"check failed: {p}")
    ok = check_digest(args.workload, args.seed, result["digest"], record=not result["problems"])
    ok = ok and not result["problems"]
    metrics = {k: v for k, v in result["metrics"].items() if (k in END_TO_END) != bool(args.trace)}
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": 0 if ok else attempted,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
