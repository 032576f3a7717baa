#!/usr/bin/env python3
"""Pi-hole dashboard benchmark: one command per workload.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness (perfbench/build.sbt, sbt offline) into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the build while the sources are unchanged.
Each seed's FTL database is generated twice on first use and must hash the
same; later runs re-check the cached file's hash.

The harness (perfbench.Harness) runs the workload in one JVM, checks every
output against the generator's answer file and reports its metrics. This
script prints them one per line with their units, then, as the last line,
one JSON object with the keys correct / attempted / failed / metrics:
every end-to-end metric with --trace 0, every per-layer metric with
--trace 1. A traced run also writes its spans and full record under
$CARGO_TARGET_DIR/traces.
"""
import argparse
import concurrent.futures
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("refresh", "interact")
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

# what spark-submit would pass on JDK 17 (the program's build.sbt uses the
# same list for its forked runs)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_files():
    """Every file the build reads: the program's sources and build, and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(out):
    """Compile with sbt unless the sources are unchanged; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources next to {HERE} (expected ../build.sbt and ../src/main/scala)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp, cp_file = os.path.join(out, "build.sha256"), os.path.join(out, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    with open(os.path.join(out, "build.log"), "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and "classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {os.path.join(out, 'build.log')}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lines[-1].strip()


def inputs(seed, out):
    """The seed's database and answer file. A new seed is generated twice,
    side by side, and must hash the same; a cached one must still match
    its hash."""
    d = os.path.join(out, "inputs")
    os.makedirs(d, exist_ok=True)
    with open(gen.__file__, "rb") as f:  # a changed generator makes new files
        name = f"ftl-{seed}-{hashlib.sha256(f.read()).hexdigest()[:12]}"
    db = os.path.join(d, name + ".db")
    answers = os.path.join(d, name + ".answers.json")
    stamp = os.path.join(d, name + ".sha256")
    if os.path.exists(stamp) and os.path.exists(db) and os.path.exists(answers):
        if gen.sha256(db) == open(stamp).read():
            return db, answers
    check = os.path.join(d, f"check-{name}.db")
    with concurrent.futures.ProcessPoolExecutor(max_workers=1) as pool:
        checked = pool.submit(gen.generate, seed, check, False)
        second, _ = gen.generate(seed, db)
        first, _ = checked.result()
    os.remove(check)
    if first != second:
        fail(f"generator is not deterministic for seed {seed}: {first} != {second}")
    with open(stamp, "w") as f:
        f.write(second)
    return db, answers


def expected_metrics(trace):
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(cp, args, out):
    tmp = os.path.join(out, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", *ADD_OPENS, "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
           *args, "--local-dir", tmp, "--clk-tck", str(os.sysconf("SC_CLK_TCK"))]
    with open(os.path.join(out, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S} s; see {log.name}")
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        fail(f"harness failed (exit {p.returncode}); see {os.path.join(out, 'harness.log')}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def summarize(record, want):
    """The contract's last line from the harness record; fails on a
    missing or non-finite metric."""
    metrics = {}
    for name, unit in want.items():
        m = record["metrics"].get(name)
        if m is None or m["value"] is None or not math.isfinite(m["value"]):
            fail(f"metric {name} missing or not finite in {record['metrics'].get(name)}")
        if m["unit"] != unit:
            fail(f"metric {name} has unit {m['unit']}, BENCHMARK.json says {unit}")
        metrics[name] = {"value": m["value"], "unit": unit}
    attempted, failed = record["attempted"], record["failed"]
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description="Pi-hole dashboard benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    out = build_dir()
    os.makedirs(out, exist_ok=True)
    want = expected_metrics(a.trace)
    cp = build(out)
    db, answers = inputs(a.seed, out)
    traces = os.path.join(out, "traces")
    os.makedirs(traces, exist_ok=True)
    tag = f"{a.workload}-{a.seed}"
    record = run_jvm(cp, ["--workload", a.workload, "--db", db, "--answers", answers,
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--seed", str(a.seed),
                          "--spans", os.path.join(traces, f"spans-{tag}.jsonl")], out)
    result = summarize(record, want)
    if a.trace:
        with open(os.path.join(traces, f"trace-{tag}.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    ratio = result["failed"] / result["attempted"] if result["attempted"] else 1.0
    print(f"failed_op_ratio = {ratio:.6g} ratio "
          f"({result['failed']} of {result['attempted']} checked operations)")
    extra = {k: v for k, v in record["metrics"].items() if k.startswith("_")}
    if extra:
        print("counts: " + ", ".join(f"{k[1:]}={v}" for k, v in sorted(extra.items())))
    for reason in record.get("failures", []):
        print(f"check failed: {reason}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
