"""Benchmark of the three ingest lifecycles (BdcIngest, HealIngest, LakeIndex).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py compare <old result.json> <new result.json>

A run builds the program and the harness from source (once per source
state), generates the workload's inputs from the seed (cached per
workload, seed and size), then starts one fresh JVM per sample. It starts
another only while a sample as long as the last would still end within
`--seconds`. Each sample runs one lifecycle to its written outputs, as the
weekly CronJob does, and every sample's outputs are checked. The run
reports the samples' medians. A sample takes 20-35 s on a 4-core box, so a
run at BENCHMARK.json's `run_seconds` is one or two samples, and medians
over many runs are what hold, not single runs. With `--trace 1` the run
makes one untraced sample and one traced sample instead, and reports
per-layer spans and Spark counters.

The end-to-end times are user-mode CPU seconds of the sample's JVM, every
thread summed. The reference pod has one core, where CPU time is what a
lifecycle waits for. On a shared host, CPU time leaves out the time threads
wait for a core: with four busy processes beside a `lake_index` sample on a
4-core box, its wall time rose by 75% and its CPU time by 6%. Kernel time
is left out of the end-to-end figures: the middle half of eight runs of
one program spread over a third of its median, against 5% for user time.
It stays in the traced run's `cpu.sys_s`, beside the JIT and GC threads'
share and the wall times (`wall.`).

The last stdout line is the result JSON. The full result, with its
manifest, is written under `.bench_build/perfbench/results/`. Everything
the benchmark writes stays under `.bench_build/` in the checkout, on disk.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# BENCHMARK.json names the first two. `lake_index` runs by hand only: its
# lifecycle time moves by up to 25% from one fresh JVM to the next on the
# same input, and the middle half of ten runs spread over 22% and 35% of
# the median in two sets, where the widest bound allowed is 25%.
WORKLOADS = ("bdc_ingest", "heal_ingest", "lake_index")
# The reference pod has 1 core and 1 GiB; the JVM gets a fixed 1 GiB heap
# and two cores, leaving the rest of a small box to the OS so that other
# load moves the numbers less.
CORES = 2
# Generation sizes stay fixed (no adaptive resizing), so the heap peak
# repeats from run to run. A fixed set of JIT compiler threads lives as
# long as the JVM, so the harness can read their CPU time.
JVM_FLAGS = ["-Xms1g", "-Xmx1g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=%d" % CORES,
             "-XX:-UseAdaptiveSizePolicy", "-XX:-UseDynamicNumberOfCompilerThreads"]
# Spark on JDK 17 outside spark-submit (as in the program's build.sbt)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]
SAMPLE_TIMEOUT = 150
BUILD_TIMEOUT = 840


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src")] + \
        [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            with open(p, "rb") as f:
                h.update(p.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no program sources in %s" % ROOT)
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log("build took %.0f s" % (time.time() - t0))
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# ---------------------------------------------------------------- samples

def harness(classpath, mode, workload, inputs, out):
    """Runs one fresh JVM; returns its result dict."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_FLAGS + ADD_OPENS + [
        "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Harness", mode, workload, inputs, out, str(CORES)]
    with open(os.path.join(WORK, "last-%s-%s.log" % (workload, mode)), "w") as err:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch space inside the sample's directory either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env,
                                stdin=subprocess.DEVNULL, text=True, cwd=out)
        try:
            stdout, _ = proc.communicate(timeout=SAMPLE_TIMEOUT)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise RuntimeError("harness timed out after %d s" % SAMPLE_TIMEOUT)
    results = [l for l in stdout.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not results:
        raise RuntimeError("harness exited %d (see %s)" % (proc.returncode, err.name))
    return json.loads(results[-1][len("RESULT "):])


def sample(classpath, mode, workload, inputs, expected, k):
    out = os.path.join(WORK, "out", "%s-%d" % (workload, k))
    try:
        res = harness(classpath, mode, workload, inputs, out)
        res["problems"] = check.check(workload, out, res, expected)
        res["digest"] = check.digest(workload, out, res)
    except (RuntimeError, OSError, ValueError) as e:
        res = {"problems": [str(e)], "digest": None}
    finally:
        shutil.rmtree(out, ignore_errors=True)
    for p in res["problems"]:
        log("%s sample %d: %s" % (workload, k, p))
    return res


def judge(samples):
    """A sample fails when its check fails or its output digest differs
    from the one most samples agree on."""
    digests = [s["digest"] for s in samples if not s["problems"]]
    common = max(set(digests), key=digests.count) if digests else None
    for s in samples:
        if not s["problems"] and s["digest"] != common:
            s["problems"].append("output digest %s differs from %s" % (s["digest"], common))
    return common


def median(samples, key):
    """Median over every sample that measured `key`: a sample whose output
    check failed still counts, in `failed` and here."""
    vals = [s[key] for s in samples if key in s]
    return statistics.median(vals) if vals else None


# --------------------------------------------------------------- manifest

def manifest(args, expected, samples):
    first = next((s for s in samples if "jdk" in s), {})
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "master": "local[%d]" % CORES,
        "jvm_flags": JVM_FLAGS, "jdk": first.get("jdk"), "spark": first.get("spark"),
        "python": platform.python_version(),
        "inputs": dict(expected["inputs"], variables=expected["variables"]),
        "size": expected["size"],
        "storage": "disk (inputs and outputs under .bench_build/ in the checkout)",
        "git_commit": commit, "source_stamp": source_stamp(),
    }


# -------------------------------------------------------------------- run

def run(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    inputs = gen.ensure_inputs(args.workload, args.seed, os.path.join(WORK, "inputs"))
    with open(os.path.join(inputs, "expected.json")) as f:
        expected = json.load(f)
    variables = expected["variables"]
    samples = []
    if args.trace:
        samples.append(sample(classpath, "run", args.workload, inputs, expected, 0))
        samples.append(sample(classpath, "trace", args.workload, inputs, expected, 1))
    else:
        t0 = time.time()
        while True:
            start = time.time()
            samples.append(sample(classpath, "run", args.workload, inputs, expected,
                                  len(samples)))
            now = time.time()
            if now - t0 + (now - start) > args.seconds:
                break
    digest = judge(samples)
    failed = sum(1 for s in samples if s["problems"])
    for s in samples:
        if "run_user_cpu_s" in s:
            s["vars_per_user_cpu_s"] = variables / s["run_user_cpu_s"]
    if args.trace:
        untraced, traced = samples
        # the untraced sample's time split, beside the traced spans
        traced.update((k, v) for k, v in untraced.items() if k.startswith(("wall.", "cpu.")))
        if "pipelines.run_s" in traced and "wall.run_s" in untraced:
            traced["pipelines.overhead_s"] = traced["pipelines.run_s"] - untraced["wall.run_s"]
        traced["error_rate"] = failed / len(samples)
        # every per-layer metric on every workload: a layer call this
        # workload does not make reads 0
        out = {m["name"]: {"value": traced.get(m["name"], 0), "unit": m["unit"]}
               for m in spec["per_layer"]}
    else:
        out = {m["name"]: {"value": median(samples, m["name"]), "unit": m["unit"]}
               for m in spec["end_to_end"]}
    correct = failed == 0 and all(m["value"] is not None for m in out.values())
    line = {"correct": correct, "attempted": len(samples), "failed": failed, "metrics": out}
    full = dict(line, manifest=manifest(args, expected, samples), digest=digest,
                samples=[{k: v for k, v in s.items() if k not in ("pivot",)} for s in samples])
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", "%s-s%d-t%d-%d.json" % (
        args.workload, args.seed, args.trace, int(time.time())))
    with open(path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print("result file: " + os.path.relpath(path, ROOT))
    print(json.dumps(line, sort_keys=True))


def main(argv):
    if argv[:1] == ["compare"]:
        import compare
        return compare.main(argv[1:])
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run(p.parse_args(argv))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
