#!/usr/bin/env python3
"""Seeded closed-loop benchmark of graft's graph and mining operators.

    python3 perfbench/run.py --workload graph_local --seed 1 --seconds 10 --trace 0

Builds the benchmark (an sbt project in this directory that compiles the
repository's main sources) when its sources changed, generates the inputs for
the seed, runs the workload in one `local[<cores>]` Spark session and checks
every output. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with `--trace 0`,
the per-layer metrics with `--trace 1`. Workloads and metrics are described
in RATIONALE.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("graph_local", "graph_distributed", "mining_pipeline")
ITEMS = ("cc", "pagerank", "q_dup_spans_multi")
HEAP = "3g"
# The JVM's time limit: set-up and the output dumps, plus three times
# --seconds for the warm-up (twice --seconds) and the measurement, both
# stretched to a minimum pass count.
RUN_LIMIT_S = 150
BUILD_LIMIT_S = 840
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main/scala")
LAYER_UNITS = {
    "tables.s": "s", "tables.input_mb": "MB", "tables.rows": "count",
    "catalyst.executions": "count", "catalyst.plan_s": "s",
    "ops.s": "s", "ops.jobs": "count", "ops.stages": "count", "ops.tasks": "count",
    "ops.driver_s": "s", "ops.job_idle_s": "s", "ops.task_run_s": "s",
    "ops.task_cpu_s": "s", "ops.utilization": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB", "memory.heap_live_peak_mb": "MB", "memory.gc_s": "s",
    "cache.peak_mb": "MB",
}
# Spark 4 on JDK 17 outside spark-submit (the root build.sbt's list)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for base in (ROOT, HERE):
        for rel in BUILD_INPUTS:
            path = os.path.join(base, rel)
            files = [path] if os.path.isfile(path) else sorted(
                os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
            for f in files:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first if any source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the repository sources (src/main/scala/graft) are not next to perfbench/")
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    fresh = os.path.exists(cp_file) and os.path.exists(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        with open(os.path.join(WORK, "build.log"), "w") as log:
            rc = subprocess.run(
                ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        if rc != 0:
            fail(f"build failed (rc={rc}), see {os.path.join(WORK, 'build.log')}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return open(cp_file).read().strip()


def bench_settings():
    """The session settings graft.Bench sets, read from its source."""
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as fh:
        src = fh.read()
    return dict(re.findall(r'\.config\(\s*"([^"]+)"\s*,\s*"?([^")]+)"?\s*\)', src))


def load_expected(inputs):
    """Reference digests of the outputs on `inputs` (a generated input
    directory's name) recorded in this checkout."""
    path = os.path.join(WORK, "expected", f"{inputs}.json")
    return json.load(open(path)) if os.path.exists(path) else {}


def record_expected(inputs, new):
    path = os.path.join(WORK, "expected", f"{inputs}.json")
    old = json.load(open(path)) if os.path.exists(path) else {}
    with open(path + ".tmp", "w") as fh:
        json.dump({**old, **new}, fh, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def run_jvm(classpath, args, log_path, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=WORK)
        # a terminated benchmark stops its JVM too
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit, see {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        fail(f"benchmark JVM failed (rc={rc}), see {log_path}")


def quartiles(xs):
    return statistics.quantiles(xs, n=4, method="inclusive")


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = t_start + RUN_LIMIT_S + 3 * a.seconds

    for d in ("tmp", "expected", "logs", "inputs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    classpath = build()
    if time.time() - t_start > 60:  # a fresh build gets the rest of its budget
        deadline = time.time() + RUN_LIMIT_S + 3 * a.seconds
    data_dir, rows, gen_s = gen.ensure(a.seed, os.path.join(WORK, "inputs"))

    run_dir = os.path.join(WORK, "run", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    expected = load_expected(os.path.basename(data_dir))
    pending = [i for i in ITEMS if i not in expected]
    oracles = sorted({check.oracle_name(i) for i in pending})
    out = os.path.join(run_dir, "result.json")
    run_jvm(classpath, ["--workload", a.workload, "--data", data_dir, "--work", run_dir,
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--out", out,
                        "--dump", ",".join(pending), "--oracles", ",".join(oracles)],
            os.path.join(WORK, "logs", f"{a.workload}-{a.seed}-{a.trace}.log"), deadline)
    res = json.load(open(out))

    # Reference digests: an item without one for this seed is checked against
    # its oracle now, and its digest recorded only when the oracle agrees.
    problems, verified = {}, {}
    for item, digest in res["dumps"].items():
        why = "dump failed: " + digest[1:] if digest.startswith("!") else check.verify(
            item, os.path.join(run_dir, "dump", item), data_dir, res["oracle_sql"])
        if why is None:
            verified[item] = digest
        else:
            problems[item] = why
    if verified:
        record_expected(os.path.basename(data_dir), verified)
        expected.update(verified)

    attempted = failed = 0
    for item, runs in res["executions"].items():
        ref = expected.get(item)
        for r in runs:
            attempted += 1
            if r.startswith("!"):
                why = "threw: " + r[1:]
            elif r.split(":")[0] == "0":
                why = "returned 0 rows"
            elif ref is None:
                why = "unchecked: " + problems.get(item, "no reference digest")
            elif r != ref:
                why = f"digest {r} != reference {ref}"
            else:
                continue
            failed += 1
            problems.setdefault(item, why)

    ctx = res["context"]
    bench = bench_settings()
    sess = ctx["session"]
    drift = [f"{k}: bench={v} here={sess.get(k)}" for k, v in bench.items()
             if sess.get(k) != (str(ctx["cores"]) if v == "cpus" else v)]
    print(f"# workload={a.workload} seed={a.seed} trace={a.trace} seconds={a.seconds}")
    print(f"# cores={ctx['cores']} heap_mb={ctx['heap_mb']} jdk={ctx['jdk']} spark={ctx['spark']}")
    print("# rows " + " ".join(f"{t}={n}" for t, n in rows.items()) +
          f" (generation {gen_s:.2f} s, not part of setup_s)")
    print("# session " + " ".join(f"{k}={v}" for k, v in sess.items()))
    print("# session settings " + ("match graft.Bench" if not drift else
                                   "DRIFT from graft.Bench: " + "; ".join(drift)))
    for item, why in problems.items():
        print(f"# FAILED {item}: {why}")

    plain = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]

    def med(ps, key):
        return statistics.median(p[key] for p in ps)

    metrics = {}
    if a.trace == 0:
        for key, unit in (("pass_s", "s"), ("cpu_s", "s"), ("task_mem_peak_mb", "MB")):
            q1, q2, q3 = quartiles([p[key] for p in plain])
            # cpu_s is printed, not reported: its run-to-run spread is too wide
            if key != "cpu_s":
                metrics[key] = {"value": q2, "unit": unit}
            print(f"{key} {q2:.4f} {unit} (median of {len(plain)} passes, q1 {q1:.4f}, q3 {q3:.4f})")
        metrics["setup_s"] = {"value": res["setup_s"], "unit": "s"}
        print(f"setup_s {res['setup_s']:.4f} s (JVM start to end of the first pass; "
              f"session ready after {res['setup_session_s']:.4f} s)")
    else:
        for key, unit in LAYER_UNITS.items():
            v = statistics.median(p["layers"][key] for p in traced)
            metrics[key] = {"value": v, "unit": unit}
        for item in res["executions"]:
            metrics[f"item.{item}.s"] = {
                "value": statistics.median(p["items"][item] for p in plain), "unit": "s"}
        t_pass, u_pass = med(traced, "pass_s"), med(plain, "pass_s")
        metrics["setup.session_s"] = {"value": res["setup_session_s"], "unit": "s"}
        metrics["setup.first_pass_s"] = {
            "value": res["setup_s"] - res["setup_session_s"], "unit": "s"}
        metrics["trace.pass_s"] = {"value": t_pass, "unit": "s"}
        metrics["trace.untraced_pass_s"] = {"value": u_pass, "unit": "s"}
        metrics["trace.overhead_s"] = {"value": t_pass - u_pass, "unit": "s"}
        print(f"# {len(traced)} traced and {len(plain)} untraced passes")
        for k, m in metrics.items():
            print(f"{k} {m['value']:.4f} {m['unit']}")
    share = failed / attempted if attempted else 1.0
    print(f"failed_share {share:.4f} ratio ({failed} of {attempted} item executions)")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
