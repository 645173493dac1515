#!/usr/bin/env python3
"""Repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload {batch,lakehouse} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds the benchmark on first use (the
repository's main sources and the benchmark's own, compiled with the Scala
compiler from the jar directory the repository's build.sbt names), generates the
workload's inputs from the seed, runs one JVM that sets up, measures for
S seconds and checks every result, then prints one JSON object as the last
line of stdout. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_DIR = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 780
# inputs per workload; sized so one pass takes a few seconds at 4 cores
PFAM_ROWS = 8000
TABLE_SCALE = 0.25

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "op_typical_s": "s",
    "ops_per_s": "1/s",
    "bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "setup.first_s": "s",
    "setup.warmup_s": "s",
    "host.steal_share": "ratio",
    "trace.op_typical_s": "s",
    "trace.spans": "count",
    "pipeline.unpack_s": "s",
    "pipeline.preprocess_s": "s",
    "pipeline.curate_s": "s",
    "pipeline.bytes_written": "bytes",
    "eda.build_s": "s",
    "eda.plan_s": "s",
    "eda.exec_s": "s",
    "eda.executor_run_s": "s",
    "eda.tasks": "count",
    "curation.build_s": "s",
    "curation.plan_s": "s",
    "curation.exec_s": "s",
    "curation.executor_run_s": "s",
    "curation.tasks": "count",
    "curation.shuffle_write_bytes": "bytes",
    "curation.useful_task_ratio": "ratio",
    "txlog.append_s": "s",
    "txlog.merge_s": "s",
    "txlog.delete_s": "s",
    "txlog.sql_delete_s": "s",
    "txlog.optimize_s": "s",
    "txlog.snapshot_s": "s",
    "txlog.scan_s": "s",
    "txlog.changes_s": "s",
    "txlog.versions": "count",
    "txlog.files_live": "count",
    "txlog.files_scanned_ratio": "ratio",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.useful_task_ratio": "ratio",
}
# the JDK 17 module opens Spark needs outside spark-submit (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jar_dir():
    """The directory of jars the repository's build compiles and runs
    against (`unmanagedBase` in its build.sbt): Spark, and with it the
    Scala library, reflection and compiler jars.
    """
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise SystemExit("perfbench: no build.sbt at the repository root")
    with open(sbt) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def source_files():
    """Every file the build reads, sorted."""
    files = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp(files):
    """Hash of the build's inputs, so an unchanged checkout reuses it."""
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the repository's main sources and the benchmark's own with
    the Scala compiler the repository's jar directory ships, and returns
    the runtime classpath. Writes only under .bench_build/.
    """
    jars = jar_dir()
    files = source_files()
    stamp = source_stamp(files)
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    lib = sorted(glob.glob(os.path.join(jars, "*.jar")))
    compiler = [j for j in lib if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise SystemExit(f"perfbench: no Scala compiler, library and reflect jars in {jars}")
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    classes, tmp = os.path.join(BUILD_DIR, "classes"), os.path.join(BUILD_DIR, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    args = os.path.join(BUILD_DIR, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(["-d", classes, "-classpath", os.pathsep.join(lib), "-encoding", "UTF-8"]
                           + [f for f in files if f.endswith(".scala")]) + "\n")
    log("building (scalac)")
    try:
        p = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                            "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args],
                           cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    # resources (the graft data source registration) go beside the classes
    for top in (os.path.join(ROOT, "src", "main", "resources"), os.path.join(HERE, "src", "main", "resources")):
        if os.path.isdir(top):
            shutil.copytree(top, classes, dirs_exist_ok=True)
    classpath = os.pathsep.join([classes] + lib)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def make_inputs(workload, seed, inputs):
    """Writes the workload's inputs; returns (rows, bytes) for the report."""
    if workload == "batch":
        rows, nbytes = gen.pfam_shards(os.path.join(inputs, "pfam"), seed, PFAM_ROWS)
        trows, tbytes = gen.query_tables(os.path.join(inputs, "tables"), seed + 1, TABLE_SCALE)
        return rows + trows, nbytes + tbytes
    return 0, 0  # lakehouse generates its commit stream from the seed in the JVM


def by_kind(ops):
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], []).append(o["s"])
    return kinds


def typical(ops):
    """Geometric mean over operation kinds of each kind's median latency:
    every kind weighs the same however fast it is, and the value does not
    jump between kinds the way a median over a mixed sample does.
    """
    meds = [statistics.median(v) for v in by_kind(ops).values()]
    return statistics.geometric_mean(meds)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["batch", "lakehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    os.makedirs(os.path.dirname(BUILD_DIR), exist_ok=True)
    with open(BUILD_DIR + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # runs started together build once
        classpath = build()
    run_dir = os.path.join(WORK_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        rows, nbytes = make_inputs(a.workload, a.seed, inputs)
        log(f"{a.workload}: seed {a.seed}, input {rows} rows, {nbytes} bytes")
        cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Main", a.workload, inputs, work,
                str(a.seconds), str(a.trace), str(a.seed)]
        with open(os.path.join(run_dir, "jvm.log"), "w") as out:
            try:
                p = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p = None
        if p is None or p.returncode != 0:
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"perfbench: JVM {'timed out' if p is None else 'failed'}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            for line in fh:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)

        # times scaled by the share of wanted CPU time the host did not steal
        ops = [dict(o, s=o["s"] * res["pass_unstolen"][o["pass"]]) for o in res["ops"]]
        setups = [t * u for t, u in zip(res["setup_s"], res["setup_unstolen"])]
        wrong_query, wrong_pass = set(), set()
        if a.workload == "batch":
            wrong_query = oracle.check(os.path.join(inputs, "tables"), os.path.join(work, "reference"))
            raw = checks.raw_counts(os.path.join(inputs, "pfam"))
            for lake in sorted(glob.glob(os.path.join(work, "lake-*"))):
                problems = checks.ingest(raw, lake)
                for msg in problems:
                    log(f"{os.path.basename(lake)}: {msg}")
                if problems:
                    wrong_pass.add(int(lake.rsplit("-", 1)[1]))
        failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong_query
                     or (o["group"] == "ingest" and o["pass"] in wrong_pass))
        lat = [o["s"] for o in ops]
        values = {
            "setup_s": statistics.median(setups),
            "peak_rss_mb": res["peak_rss_mb"],
            "op_typical_s": typical(ops),
            "ops_per_s": len(lat) / sum(lat),
            "bytes_per_input_byte": res["metrics"]["bytes_per_input_byte"],
        }
        log(f"{len(lat)} operations in {len(res['pass_s'])} passes {res['pass_s']}; "
            f"set-ups {res['setup_s']}; warm-up {res['warmup_s']:.2f} s; "
            f"unstolen CPU share per pass {res['pass_unstolen']}")
        log("median s per operation: " + ", ".join(
            f"{n} {statistics.median(v):.3f}" for n, v in sorted(by_kind(ops).items())))
        if a.trace:
            layer = {k: res["metrics"].get(k, 0.0) for k in PER_LAYER}
            layer["setup.first_s"] = res["setup_s"][0]
            layer["setup.warmup_s"] = res["warmup_s"]
            layer["trace.op_typical_s"] = values["op_typical_s"]
            layer["trace.spans"] = res["spans"]
            os.makedirs(WORK_DIR, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(WORK_DIR, f"trace-{a.workload}-{a.seed}.json"))
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
