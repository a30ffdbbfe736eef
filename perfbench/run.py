#!/usr/bin/env python3
"""Benchmark entry point: build the engine from source, generate a
workload's inputs from its seed, run it on local[4], check its outputs and
print its metrics.

    python3 perfbench/run.py --workload trend --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Everything it writes goes under
`.bench_build/` (or `$CARGO_TARGET_DIR` when set). The last line of
standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}};
untraced runs report the end-to-end metrics, traced runs the per-layer
ones. See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("trend", "corpus_store")
# The benchmark JVM's heap: fixed size and young generation (so its peak
# RSS reflects the engine's live data, not the collector's sizing
# choices), not pre-touched.
HEAP_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def tree_hash(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, files, out):
    """Compile `files` into the jar `out` (a jar, not a directory, so the
    JVM can archive its classes)."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath + [os.path.join(jars, "*")])] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compile failed for {out}", 1)
    with zipfile.ZipFile(out + ".part", "w") as z:
        for root, _, names in os.walk(tmp):
            for n in sorted(names):
                p = os.path.join(root, n)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.rename(out + ".part", out)


def build(build_dir, jars):
    """Compile the engine and the harness; cached by source hash."""
    engine_src = sources(os.path.join("src", "main", "scala"))
    if not engine_src:
        fail("no engine sources under src/main/scala: run from a checkout's root")
    harness_src = sources(os.path.join(HERE, "src"))
    engine_h = tree_hash(engine_src)
    engine_out = os.path.join(build_dir, "classes", f"engine-{engine_h}.jar")
    harness_out = os.path.join(build_dir, "classes",
                               f"harness-{tree_hash(harness_src, engine_h)}.jar")
    built = False
    os.makedirs(os.path.join(build_dir, "classes"), exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(engine_out):
            scalac(jars, [], engine_src, engine_out)
            built = True
        if not os.path.exists(harness_out):
            scalac(jars, [engine_out], harness_src, harness_out)
            built = True
    return [harness_out, engine_out], built


def run_jvm(jars, classpath, args, work, limit_s, jvm_flags=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *HEAP_FLAGS, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *jvm_flags]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]),
            "perfbench.Harness"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        return proc.wait(timeout=max(10, limit_s))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("harness timed out", 1)


def class_archive(build_dir, jars, classpath, a, inputs, limit_s):
    """JVM flags that load the classes a workload's set-up needs from a
    class-data archive. Each JVM otherwise spends seconds finding and
    verifying Spark's classes across hundreds of jars, a cost paid by
    every run and no part of the engine's work. The archive is recorded
    once per build by a run of the set-ups alone."""
    jsa = os.path.join(build_dir, "classes",
                       f"cds-{a.workload}-{os.path.basename(classpath[0])}.jsa")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(jsa):
            work = os.path.join(build_dir, "work", f"train-{a.workload}")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            code = run_jvm(jars, classpath,
                           [a.workload, inputs, work, "0", "0", os.path.join(work, "raw.json"), "train"],
                           work, limit_s, [f"-XX:ArchiveClassesAtExit={jsa}.part", "-Xlog:disable"])
            shutil.rmtree(work, ignore_errors=True)
            # without an archive the runs are slower, not wrong
            if code == 0 and os.path.exists(jsa + ".part"):
                os.rename(jsa + ".part", jsa)
                # write the archive back now, not during the measured run
                os.sync()
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars()
    classpath, built = build(build_dir, jars)
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)

    # inputs are cached per seed and generator version
    gen_h = tree_hash([os.path.join(HERE, "gen.py")])
    inputs = os.path.join(build_dir, "inputs", f"{a.workload}-{a.seed}-{a.seconds}-{gen_h}")
    if not os.path.exists(os.path.join(inputs, "truth.json")):
        shutil.rmtree(inputs, ignore_errors=True)
        gen.generate(a.workload, inputs, a.seed, a.seconds)
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    flags = class_archive(build_dir, jars, classpath, a, inputs, limit - (time.monotonic() - t0))
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}")
    steal0, total0 = cpu_times()
    try:
        code = run_jvm(jars, classpath,
                       [a.workload, inputs, work, str(a.seconds), str(a.trace), raw_path],
                       work, limit - (time.monotonic() - t0), flags)
        if code != 0:
            fail(f"harness exited with {code}", 1)
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        if os.path.exists(raw_path):
            shutil.copy(raw_path, stem + ".raw.json")
        shutil.rmtree(work, ignore_errors=True)

    steal1, total1 = cpu_times()
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)
    engine = os.path.basename(classpath[1]).removesuffix(".jar")
    repeat_check(results, a, f"{os.path.basename(classpath[0])}-{gen_h}", raw)
    attempted, failed = metrics.failed_counts(raw["ops"], raw["checks"])
    if a.trace:
        units = {m["name"]: m["unit"] for m in bench_spec()["per_layer"]}
        # a layer the workload never calls reads 0
        values = {name: 0.0 for name in units}
        base = untraced_makespans(results, a, engine)
        values.update(metrics.per_layer(raw, base))
        details = {"overhead_base_runs": len(base)}
    else:
        values, details = metrics.end_to_end(raw)
        units = {m["name"]: m["unit"] for m in bench_spec()["end_to_end"]}
    missing = set(units) - set(values)
    if missing:
        fail(f"metrics not produced: {sorted(missing)}", 1)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "engine": engine,
        "metrics": {k: values[k] for k in units},
        "details": details,
        "failed_frac": failed / attempted,
        # CPU time the host gave to other guests while this run ran: runs
        # with a large share measured a slower machine
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "dims": truth["dims"],
        "checks": raw["checks"],
        "errors": raw.get("errors", []),
    }
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    for c in raw["checks"]:
        if not c["ok"]:
            print(f"check failed: {c['name']} {c['detail']}", file=sys.stderr)
    for e in raw.get("errors", []):
        print(f"call failed: {e}", file=sys.stderr)
    for k, v in details.items():
        print(f"{k} = {v}")
    for k in units:
        print(f"{k} = {values[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


def untraced_makespans(results, a, engine):
    """Makespans of earlier untraced runs of this workload on this engine
    build, any seed: the inputs of every seed have the same shape."""
    runs = []
    for path in glob.glob(os.path.join(results, f"{a.workload}-s*-t0.json")):
        with open(path) as f:
            art = json.load(f)
        if art.get("engine") == engine:
            runs.append(art["metrics"]["makespan_s"])
    return runs


def repeat_check(results, a, version, raw):
    """Outputs of a seed must repeat: the first run of a seed on this
    version of the engine, harness and generator stores its output
    digests, later runs compare with them."""
    digests = raw.get("digests")
    if not digests:
        return
    path = os.path.join(results, f"digests-{a.workload}-s{a.seed}-{version}.json")
    if os.path.exists(path):
        with open(path) as f:
            first = json.load(f)
        diff = sorted(k for k in set(first) | set(digests) if first.get(k) != digests.get(k))
        raw["checks"].append({"name": "outputs equal the first run's for this seed",
                              "ok": not diff, "detail": f"differ: {diff}"})
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(digests, f)


def bench_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    main()
