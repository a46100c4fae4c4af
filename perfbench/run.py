#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and
the graft sources it drives (sbt, offline) into perfbench/target; later
runs reuse that build while the sources are unchanged. Each run writes a
strict-JSON artifact under .bench_build/perfbench/artifacts/, prints every
metric as `metric <name> <value> <unit>`, and prints as its last line one
JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. The exit code is 0 only when every output
check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("scan_analytics", "ingest_mutate", "index_dedup")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _reject_duplicates(pairs):
    keys = [k for k, _ in pairs]
    dups = sorted({k for k in keys if keys.count(k) > 1})
    if dups:
        raise ValueError(f"duplicate JSON keys: {dups}")
    return dict(pairs)


def _reject_constant(name):
    raise ValueError(f"non-finite JSON number: {name}")


def load_strict(text):
    """Parse JSON, rejecting repeated object keys and NaN/Infinity."""
    return json.loads(text, object_pairs_hook=_reject_duplicates,
                      parse_constant=_reject_constant)


def source_digest(root):
    """Digest of every file the build reads: graft's sources and the harness."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(state_dir, digest, home):
    stamp = os.path.join(state_dir, "build.sha")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes", "perfbench")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env["SPARK_HOME"] = home
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("perfbench: building (sbt Compile/products)", file=sys.stderr)
    try:
        done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                              cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if done.returncode != 0:
        fail(f"build failed (sbt exit {done.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME is not set and spark-submit is not on PATH")
    return home


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def run_jvm(args, root, state_dir, digest, home):
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(state_dir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    classpath = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                                 os.path.join(home, "jars", "*")])
    xmx = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = (["java", f"-Xmx{xmx}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--out", out])
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    env["PERFBENCH_COMMIT"] = git_commit(root)
    env["PERFBENCH_SOURCE_SHA"] = digest
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{tag} did not finish within {JVM_TIMEOUT_S} s")
    try:
        if code != 0 or not os.path.exists(out):
            fail(f"{tag} exited with code {code}")
        with open(out) as fh:
            text = fh.read()
        artifacts = os.path.join(state_dir, "artifacts")
        os.makedirs(artifacts, exist_ok=True)
        for name in os.listdir(work):
            if name.startswith("spans-"):
                shutil.copy(os.path.join(work, name), os.path.join(artifacts, f"{tag}.spans.jsonl"))
        with open(os.path.join(artifacts, f"{tag}.json"), "w") as fh:
            fh.write(text)
        return load_strict(text)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as fh:
        spec = load_strict(fh.read())
    state_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state_dir, exist_ok=True)
    digest = source_digest(root)
    home = spark_home()
    build(state_dir, digest, home)
    art = run_jvm(args, root, state_dir, digest, home)

    metrics = art["metrics"]
    for name, m in metrics.items():
        print(f"metric {name} {m['value']!r} {m['unit']}")
    print("stamps " + json.dumps(art["stamps"], sort_keys=True))
    print("sizes " + json.dumps(art["sizes"], sort_keys=True))
    for f in art["failures"]:
        print(f"failure {f}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    chosen = {}
    for w in wanted:
        m = metrics.get(w["name"])
        if m is None or m["unit"] != w["unit"]:
            fail(f"metric {w['name']} missing or not in {w['unit']}")
        chosen[w["name"]] = {"value": m["value"], "unit": m["unit"]}
    print(json.dumps({"correct": art["correct"], "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": chosen}))
    sys.exit(0 if art["correct"] else 1)


if __name__ == "__main__":
    main()
