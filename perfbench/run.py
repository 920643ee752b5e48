"""Benchmark driver: builds the program and the benchmark, generates the
workload inputs from the seed, runs one workload in a fresh JVM and prints
the result as one JSON line.

    python3 perfbench/run.py --workload match_stream --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Everything it writes goes under
`.bench_build/` there: the jar of program + benchmark, a class-data-sharing
archive per workload, generated inputs cached by seed, a per-run
work directory that is removed at exit, and the traced runs' spans. The
classes are compiled with the Scala compiler that ships in Spark's jars
directory: $SPARK_HOME/jars, or build.sbt's unmanagedBase. The build also
makes the class archives, with one untimed run of each workload, so that
every measured run maps them.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
# a run must end within 180 s; the slowest, a traced match_stream run,
# takes about 70 s on 4 cores in a quiet phase of the box
RUN_TIMEOUT_S = 170
# generated season: 6 teams, double round robin (30 matches); the store
# starts with 3 of them and the snapshots of 1 more land one by one
GEN = {"teams": 6, "preload": 3, "stream_matches": 1}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME or build.sbt's unmanagedBase")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        fail("no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                                   recursive=True))


def archive(workload):
    return os.path.join(BUILD, f"{workload}.jsa")


def build(jars, workloads):
    """Compile program + benchmark into .bench_build/bench.jar and make
    each workload's class-data-sharing archive, unless the sources are
    unchanged since the last build. An archive holds the classes one
    untimed run of the workload loaded; measured runs map it instead of
    loading them from Spark's hundreds of jars, which takes most of a
    cold JVM's set-up."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    jar = os.path.join(BUILD, "bench.jar")
    stamp = os.path.join(BUILD, "bench.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar
    for f in glob.glob(os.path.join(BUILD, "*.jsa")) + [stamp, jar]:
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp] + srcs,
        stdout=sys.stderr, stderr=sys.stderr, timeout=500)
    if r.returncode != 0:
        fail("build failed")
    with zipfile.ZipFile(jar, "w") as z:
        for root, _, files in os.walk(classes):
            for f in files:
                path = os.path.join(root, f)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    for w in workloads:
        rc, _ = run_jvm(jar, jars, w, 0, 0, 0,
                        [f"-XX:ArchiveClassesAtExit={archive(w)}"])
        if rc != 0 or not os.path.exists(archive(w)):
            fail(f"class archive run of {w} failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return jar


def run_jvm(jar, jars, workload, seed, seconds, trace, jvm_extra, args=()):
    """One benchmark JVM in a fresh work directory (removed at exit):
    (exit code, stdout)."""
    data = inputs(workload, seed)
    nproc = os.cpu_count() or 1
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", nproc)), nproc)
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # C1 only: with C2, Spark's code paths keep compiling for minutes, so
    # a run's times would depend on how far warm-up got (perfbench/NOTES.md)
    cmd = ["java", "-XX:TieredStopAtLevel=1", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-Xss8m", "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.ui.enabled=false"] + jvm_extra
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{jar}:{jars}/*", "perfbench.PerfBench",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", data, "--work", work, "--cpus", str(cpus),
            "--spans", os.path.join(BUILD, "spans",
                                    f"{workload}-seed{seed}.jsonl"), *args]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, env=env, cwd=work)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"{workload} run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return p.returncode, out


def inputs(workload, seed):
    if workload == "operator_library":
        return os.path.join(HERE, "data")
    # cached by seed, under a key of the generator and its settings
    h = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read())
    h.update(json.dumps(GEN, sort_keys=True).encode())
    out = os.path.join(BUILD, "gen", f"{h.hexdigest()[:12]}-seed{seed}")
    if not os.path.exists(os.path.join(out, "truth.json")):
        sys.path.insert(0, HERE)
        import gen
        shutil.rmtree(out, ignore_errors=True)
        gen.generate(out, seed, GEN["teams"], GEN["preload"],
                     GEN["stream_matches"])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite data/expected.json from the current program")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    jars = spark_jars()
    workloads = [w["name"] for w in spec["workloads"]]
    jar = build(jars, workloads)
    if a.record:
        rc, _ = run_jvm(jar, jars, "operator_library", 0, 1, 0, [],
                        ["--record", os.path.join(HERE, "data", "expected.json")])
        sys.exit(rc)
    rc, out = run_jvm(jar, jars, a.workload, a.seed, a.seconds, a.trace,
                      [f"-XX:SharedArchiveFile={archive(a.workload)}"])
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not lines:
        fail(f"benchmark exited with {rc} and no result")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    unknown = set(res["metrics"]) - set(units)
    if unknown:
        fail(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
    if not a.trace and set(units) - set(res["metrics"]):
        fail(f"missing end-to-end metrics: {sorted(set(units) - set(res['metrics']))}")
    # a per-layer metric a workload does not report belongs to a layer the
    # workload never calls: 0 of that layer's work was done
    metrics = {n: {"value": res["metrics"].get(n, 0.0), "unit": u}
               for n, u in units.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
