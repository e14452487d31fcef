#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload release|stream|intake --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt into the checkout (`target/`, `perfbench/target/`)
and records the classpath under `.bench_build/`; later runs reuse it while
the sources are unchanged. Each run works under a fresh directory in
`.bench_build/runs/` that is deleted on exit.

`--trace 0` prints the end-to-end metrics. `--trace 1` runs the workload
twice in separate JVMs, untraced then traced, and prints the per-layer
metrics of the traced run plus the tracing overhead (traced minus untraced)
of every end-to-end metric. The last line of stdout is the result object;
the line before it (starting with `#`) is the run record: host state, input
properties, sample counts and, when traced, the layer map.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_BUDGET_S = 170

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "mb_per_s": "MB/s",
}

# Which per-layer metrics should move which end-to-end metric, on which
# workload; every other workload is predicted flat.
LAYER_MAP = [
    {"layers": ["release5.task_s", "release5.shuffle_write_mb",
                "release5.shuffle_read_mb", "release5.stages", "release5.spill_mb"],
     "moves": ["op_s_p50", "op_s_tail", "mb_per_s"],
     "on": "release", "flat_on": ["stream", "intake"]},
    {"layers": ["stream_batch.jobs", "stream_batch.stages",
                "stream_batch.idle_core_s", "stream_batch.planning_s"],
     "moves": ["op_s_p50", "mb_per_s"],
     "on": "stream", "flat_on": ["release", "intake"]},
    {"layers": ["stream_batch.output_mb", "stream_batch.wal_commit_s",
                "stream_batch.commit_offsets_s"],
     "moves": ["op_s_p50", "op_s_tail"],
     "on": "stream", "flat_on": ["release", "intake"]},
    {"layers": ["stream_seed.*"],
     "moves": ["setup_s"],
     "on": "stream", "flat_on": ["release", "intake"]},
    {"layers": ["stream_purge.jobs", "stream_purge.output_mb", "stream_purge.task_s"],
     "moves": ["mb_per_s"],
     "on": "stream", "flat_on": ["release", "intake"]},
    {"layers": ["laser_run.input_mb", "laser_run.task_s", "laser_run.idle_core_s",
                "laser_run.jobs", "trace_run.jobs", "trace_run.shuffle_read_mb"],
     "moves": ["op_s_p50", "mb_per_s"],
     "on": "intake", "flat_on": ["release", "stream"]},
    {"layers": ["laser_run.output_mb", "laser_emit.*", "trace_emit.*"],
     "moves": ["op_s_p50", "op_s_tail"],
     "on": "intake", "flat_on": ["release", "stream"]},
]

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def layer_unit(name):
    """Span counters are seconds (`_s`), megabytes (`_mb`) or counts."""
    return "s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the engine "
             "(build.sbt and src/main/scala/graft are missing)")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        # no sbt server, and sbt's temp files inside the checkout
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "perfbench" in l and ":" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def run_jvm(cp, args, work, deadline):
    """Run the benchmark JVM once; return its run record."""
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed-size young generation and no adaptive sizing: collections
    # then fall at the same allocation points run after run, which keeps
    # the heap reading and the latencies repeatable.
    cmd = ["java", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + ["--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("benchmark JVM timed out" if rc is None else f"benchmark JVM exited {rc}")
    with open(out) as f:
        return json.load(f)


def release_oracle(record):
    """DuckDB runs `Curation.release5Sql` over the same parquet files; the
    first pass's funnel must equal it row for row."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    rows = con.execute(record["meta"]["oracle_sql"]).fetchall()
    want = ["\t".join(str(v) for v in r) for r in rows]
    return want == record["meta"]["funnel"], want


def measure(cp, workload, seed, seconds, trace, deadline):
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(BUILD, "runs"))
    try:
        rec = run_jvm(cp, ["--workload", workload, "--seed", str(seed),
                           "--seconds", str(seconds), "--trace", str(trace)],
                      work, deadline)
        meta = rec["meta"]
        if workload == "release":
            ok, want = release_oracle(rec)
            meta["oracle_match"] = ok
            if not ok:
                meta["oracle_funnel"] = want
                rec["failed"] = rec["attempted"]
            del meta["oracle_sql"]
        return rec
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["release", "stream", "intake"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    start = time.time()
    cp = build()
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    deadline = time.time() + RUN_BUDGET_S
    if a.selftest:
        work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(BUILD, "runs"))
        try:
            rec = run_jvm(cp, ["--selftest"], work, deadline)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(rec))
        sys.exit(0 if rec["same_seed_identical"] and rec["other_seed_differs"] else 1)
    if a.workload is None:
        fail("--workload is required")

    plain = measure(cp, a.workload, a.seed, a.seconds, 0, deadline)
    runs = [plain]
    if a.trace:
        traced = measure(cp, a.workload, a.seed, a.seconds, 1, deadline)
        runs.append(traced)
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in traced["layers"].items()}
        for m, unit in END_TO_END.items():
            metrics[f"overhead.{m}"] = {
                "value": traced["metrics"][m] - plain["metrics"][m], "unit": unit}
    else:
        metrics = {m: {"value": plain["metrics"][m], "unit": u}
                   for m, u in END_TO_END.items()}

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    record = {"runs": [r["meta"] for r in runs], "wall_s": time.time() - start}
    if a.trace:
        record["layer_map"] = LAYER_MAP
        record["untraced_metrics"] = plain["metrics"]
        record["traced_metrics"] = traced["metrics"]
    print("# " + json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
