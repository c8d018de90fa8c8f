#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the repository and the harness with
sbt when the sources changed since the last build, generates the
workload's inputs from the seed, computes the expected outputs with
DuckDB, then runs the harness JVM: one process, one caller, a closed
loop of ops for S seconds. Prints the metrics by name with units and
sample counts, and as its last line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
HEAP = "3g"
YOUNG = "1g"
DEADLINE_S = 170.0

# the inputs of each workload (see README.md for why these sizes), and
# its untimed warm-up ops and least number of measured ops: counts that
# fill about 7 s and 10 s at the op times measured on a 4-core box
# (3 s, 18 s, 7 s)
WORKLOADS = {
    "dq_gate": {"lineitem_rows": 60000, "warmup_ops": 2, "min_ops": 4},
    "dq_rule_scale": {"lineitem_rows": 6000, "rules": 1000, "warmup_ops": 1, "min_ops": 1},
    "curation_stages": {"documents_rows": 300, "queries": list(analysis.CURATION_QUERIES),
                        "warmup_ops": 1, "min_ops": 2},
}

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def source_stamp():
    """Hash of everything the build reads, to skip unchanged rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java(args, timeout, log_path):
    with open(os.path.join(WORK, "classpath")) as f:
        classpath = f.read().strip()
    # a fixed-size heap and young generation, so that peak RSS does not
    # depend on how the collector happened to resize them
    cmd = (["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-cp", classpath, "perfbench.Harness"] + args)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(log_path, "w") as out:
        # run() kills the JVM on timeout and waits for it to end
        subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, check=True,
                       timeout=timeout, cwd=ROOT)


def build():
    """sbt build of the repository and the harness, plus the registry dump
    (oracle SQL, canonical rules), redone only when the sources changed."""
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    registry = os.path.join(WORK, "registry.json")
    if all(os.path.exists(p) for p in (stamp_file, registry, os.path.join(WORK, "classpath"))):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return registry
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    # the last line sbt prints is the harness's runtime classpath
    with open(os.path.join(WORK, "build.log"), "w") as err:
        out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export harness/Runtime/fullClasspath"],
                             cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=err,
                             check=True, timeout=840, text=True).stdout
        err.write(out)
    with open(os.path.join(WORK, "classpath"), "w") as f:
        f.write(out.strip().splitlines()[-1])
    java(["--dump", registry], 120, os.path.join(WORK, "dump.log"))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return registry


def expectations(workload, seed, data_dir, registry):
    spec = WORKLOADS[workload]
    counts = datagen.generate(data_dir, seed,
                              lineitem_rows=spec.get("lineitem_rows", 0),
                              documents_rows=spec.get("documents_rows", 0))
    if workload == "curation_stages":
        return {"input_rows": counts["documents"],
                "queries": oracle.curation_expectations(
                    data_dir, registry["oracle"], spec["queries"])}
    gate = registry["gate_rules"]
    if workload == "dq_gate":
        return oracle.dq_expectations(data_dir, gate, registry["oracle"]["dq_stats"])
    rules = datagen.row_rules(seed, spec["rules"]) + [
        r for r in gate if r["rule_type"] != "row_dq"]
    return oracle.dq_expectations(data_dir, rules)


def report(workload, raw, trace):
    log(f"workload={workload} box: nproc={raw['cores']} heap={raw['max_heap_mb']} MB "
        f"input_rows={raw['input_rows']}")
    e2e, attempted, failed = analysis.end_to_end(raw)
    for name, (value, unit, n, note) in e2e.items():
        log(f"{name} = {value:.6g} {unit} (n={n}{', ' + note if note else ''})")
    if not trace:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in analysis.END_TO_END}
        return metrics, attempted, failed
    names = [m["name"] for m in analysis.PER_LAYER]
    layer, per_op = analysis.traced_metrics(raw, names)
    units = {m["name"]: m["unit"] for m in analysis.PER_LAYER}
    log(f"traced ops: {len(per_op)}; per-layer medians:")
    for name in names:
        log(f"  {name} = {layer[name]:.6g} {units[name]}")
    return {n: {"value": layer[n], "unit": units[n]} for n in names}, attempted, failed


def main(argv):
    args = analysis.parse_args(argv)
    start = time.time()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        log("the repository's sources are missing next to perfbench/; nothing to run")
        return 2
    registry_path = build()
    with open(registry_path) as f:
        registry = json.load(f)

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    try:
        exp = expectations(args.workload, args.seed, data_dir, registry)
        exp_path = os.path.join(run_dir, "expect.json")
        with open(exp_path, "w") as f:
            json.dump(exp, f)
        out_path = os.path.join(run_dir, "raw.json")
        log(f"inputs and expectations ready in {time.time() - start:.1f} s")
        remaining = DEADLINE_S - (time.time() - start)
        java(["--workload", args.workload, "--data", data_dir, "--expect", exp_path,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--warmup-ops", str(WORKLOADS[args.workload]["warmup_ops"]),
              "--min-ops", str(WORKLOADS[args.workload]["min_ops"]),
              "--work", run_dir, "--out", out_path],
             remaining, os.path.join(WORK, f"{args.workload}.log"))
        with open(out_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics, attempted, failed = report(args.workload, raw, args.trace == 1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
