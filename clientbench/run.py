#!/usr/bin/env python3
"""Client-side benchmark of the graft engine and its MySQL front-end.

    python3 clientbench/run.py --workload short_stmt --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source and writes the fixture tables; later runs reuse them
(all under `.bench_build/`, or `$CARGO_TARGET_DIR` when set). Each run
starts the program in its own JVM (`Engine.build`, `MySqlServer.start`),
plays the workload as a client, checks every answer, and prints, last, one
JSON line: `correct`, `attempted`, `failed` and the end-to-end metrics
(`--trace 0`) or the per-layer metrics of a traced run (`--trace 1`). The
line before it carries the metrics under the names the workloads are
described with in README.md. A traced run also plays the workload
untraced, before and after, in the same JVM, and reports the difference as
the tracing overhead.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402

WORKLOADS = ["short_stmt", "dump_restore", "analytic_cold"]
E2E = ["setup_s", "heap_retained_mb", "connect_p50_ms", "stmt_per_s",
       "stmt_p50_ms", "stmt_p90_ms", "rows_per_s"]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
LIMIT_S = 170  # a run ends inside the 180 s it may take, build excluded


def fail(msg, code=2):
    print(msg, file=sys.stderr)
    sys.exit(code)


def ensure_fixture(work):
    import fixture
    import inputs
    d = os.path.join(work, f"fixture-v{fixture.VERSION}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        fixture.write(d)
        with open(os.path.join(d, "dump_expect.tsv"), "w") as f:
            f.write("\n".join(inputs.dump_expectations(d)) + "\n")
        open(os.path.join(d, ".done"), "w").close()
    return d


def run_once(a, root, work, began):
    """One JVM run of the workload; returns its result with the Python-side
    checks folded in."""
    cp = build.ensure(root, work)
    import inputs
    fix = ensure_fixture(work)
    runs = os.path.join(work, "runs")
    for old in glob.glob(os.path.join(runs, f"{a.workload}-*")):
        shutil.rmtree(old, ignore_errors=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    shutil.copy(os.path.join(fix, "dump_expect.tsv"), run_dir)
    if a.workload == "short_stmt":
        with open(os.path.join(run_dir, "short_stmt.tsv"), "w") as f:
            f.write("\n".join(inputs.short_statements(fix, a.seed)) + "\n")

    # half the cores for Spark and the clients: the other half takes the
    # JVM's compiler and GC threads and lets the kernel move a thread off a
    # core the host has taken away, so a run times the program, not the
    # scheduler
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    t0_ms = time.time() * 1000.0
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--fixture", fix, "--inputs", run_dir,
              "--out", run_dir, "--cores", str(cores), "--t0-ms", repr(t0_ms)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                                text=True, env=env)
        try:
            out, _ = proc.communicate(timeout=max(10.0, LIMIT_S - (time.time() - began)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run did not finish in time; see {run_dir}/jvm.log", 1)
    line = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not line:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited with {proc.returncode}:\n{tail}", 1)
    res = json.loads(line[-1][len("RESULT "):])
    if a.workload == "analytic_cold":
        import fixture
        _, bad = inputs.check_oracles(
            os.path.join(run_dir, "results"), fix,
            os.path.join(work, "oracle_cache.json"), fixture.VERSION)
        res["failed"] += len(bad)
        res["failures"] += bad
    shutil.rmtree(tmp, ignore_errors=True)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    work = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        # the first run in a checkout builds; the time limit starts after it
        build.ensure(root, work)
        ensure_fixture(work)
        res = run_once(a, root, work, time.time())
    except build.BuildError as e:
        fail(f"build failed: {e}")
    failed, attempted = res["failed"], res["attempted"]
    detail = dict(res["detail"])
    detail.update(workload=a.workload, seed=a.seed, trace=a.trace,
                  fail_ratio=failed / max(1, attempted), attempted=attempted,
                  failures=res["failures"][:5])
    src = dict(res["layers"] if a.trace else res["e2e"])
    if a.trace:
        detail["end_to_end_traced"] = {k: v[0] for k, v in res["e2e"].items()}
        traced = res["e2e"]["stmt_p50_ms"][0]
        before_after = [r["stmt_p50_ms"][0] for r in res["untraced_e2e"]]
        untraced = sum(before_after) / len(before_after)
        src["trace.overhead_pct"] = [100.0 * (traced / untraced - 1), "%"]
        detail["trace_overhead"] = {"traced_stmt_p50_ms": traced,
                                    "untraced_stmt_p50_ms": before_after}
    print(json.dumps({"detail": detail}))
    metrics = {k: {"value": v[0], "unit": v[1]} for k, v in sorted(src.items())}
    if not a.trace:
        missing = [k for k in E2E if k not in metrics]
        if missing:
            fail(f"metrics missing from the run: {missing}", 1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
