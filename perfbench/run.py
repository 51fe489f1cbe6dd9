#!/usr/bin/env python3
"""Runs one benchmark workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run compiles the program
(`src/main/scala`) and the benchmark (`perfbench/scala`) with the Scala
compiler that ships in Spark's jars (`$SPARK_HOME/jars`) into
`$CARGO_TARGET_DIR` (default `.bench_build`); later runs reuse the build
while the sources are unchanged. Each run gets one temp root under
`.bench_tmp/` for its inputs, checkpoints and sinks, removed at exit; roots
left by dead runs are swept at start.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` -- the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The command exits 1 when an output is
wrong or an operation fails, and 2 when the program cannot be built or run.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("catalog_mix", "speed_layer")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = {
    "sweep_s": "s", "cpu_s": "s", "batch_p50_ms": "ms",
    "batch_p90_ms": "ms", "rows_per_s": "rows/s", "setup_s": "s",
    "peak_rss_mb": "MB"}

KERNELS = ["minhash_sigs", "simhash64", "winnow_fps", "md5_minmax",
           "word_shingles", "bigram_pairs", "ub_keys", "unigram_qsum",
           "dot_product", "quantize_vec", "argmin_sq_dist"]
COUNT_METRICS = {
    "queries.build_jobs", "catalyst.executions", "codegen.compile_n",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "exec.failed_tasks", "scheduler.jobs_per_batch", "state.rows_total",
    "state.rows_updated", "state.dropped_late_rows", "sink.files"}
PER_LAYER_NAMES = (
    ["queries.build_ms", "queries.build_jobs", "catalyst.analysis_ms",
     "catalyst.optimizer_ms", "catalyst.planning_ms", "catalyst.executions",
     "codegen.compile_n", "scheduler.jobs", "scheduler.stages",
     "scheduler.tasks", "scheduler.delay_ms", "driver.gap_ms",
     "exec.run_ms", "exec.cpu_ms", "exec.deser_ms", "exec.gc_ms",
     "exec.util", "exec.failed_tasks", "shuffle.write_bytes",
     "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.mem_bytes",
     "spill.disk_bytes", "exec.peak_mem_bytes", "io.read_bytes",
     "io.write_bytes", "sources.scan_ms"]
    + [f"functions.{k}_ms" for k in KERNELS]
    + ["streaming.latest_offset_ms", "streaming.get_batch_ms",
       "streaming.query_planning_ms", "streaming.add_batch_ms",
       "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
       "scheduler.jobs_per_batch", "state.rows_total", "state.rows_updated",
       "state.mem_bytes", "state.commit_ms", "state.dropped_late_rows",
       "sink.bytes", "sink.files", "jvm.jit_ms", "jvm.gc_ms",
       "trace.overhead_pct"])


def layer_unit(name):
    if name in COUNT_METRICS:
        return "count"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes"):
        return "bytes"
    return {"exec.util": "ratio", "trace.overhead_pct": "%"}[name]


PER_LAYER = {n: layer_unit(n) for n in PER_LAYER_NAMES}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    """Exit 2: the program could not be built or run (no result line)."""
    log(msg)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                            recursive=True))


def scalac(jars, classpath, out, files):
    comp = [glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
            for n in ("compiler", "library", "reflect")]
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(comp),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail(f"compile failed ({out})")


def stamp_of(jars, files, checkout):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, checkout).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(checkout):
    """Compiles the program, then the benchmark against it; each step is
    skipped while its sources (and those it depends on) are unchanged."""
    prog = sources(os.path.join(checkout, "src", "main", "scala"))
    if not prog:
        fail("no program sources under src/main/scala")
    bench = sources(os.path.join(HERE, "scala"))
    jars = spark_jars()
    out = os.path.abspath(os.path.join(
        checkout, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
        "perfbench"))
    spark_cp = os.path.join(jars, "*")
    # (name, sources, sources it compiles against, classpath)
    steps = [("program", prog, [], spark_cp),
             ("bench", bench, prog,
              os.path.join(out, "program") + ":" + spark_cp)]
    for name, files, deps, cp in steps:
        dest = os.path.join(out, name)
        stamp_file = dest + ".stamp"
        stamp = stamp_of(jars, deps + files, checkout)
        if os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    continue
        t = time.time()
        shutil.rmtree(dest, ignore_errors=True)
        scalac(jars, cp, dest, files)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built {name} in {time.time() - t:.1f} s")
    return [os.path.join(out, "bench"), os.path.join(out, "program"),
            spark_cp]


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def sweep_stale(tmp):
    for d in glob.glob(os.path.join(tmp, "run-*")):
        try:
            pid = int(os.path.basename(d).split("-")[1])
        except (IndexError, ValueError):
            pid = -1
        if pid != os.getpid() and not pid_alive(pid):
            shutil.rmtree(d, ignore_errors=True)


class Jvm:
    """One child JVM; killed and reaped on any exit path."""

    def __init__(self):
        self.proc = None

    def run(self, cmd, logfile):
        with open(logfile, "w") as lf:
            self.proc = subprocess.Popen(cmd, stdout=lf, stderr=lf,
                                         start_new_session=True)
            try:
                return self.proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                log(f"JVM exceeded {JVM_TIMEOUT_S} s; killed")
                self.kill()
                return -1

    def kill(self):
        if self.proc and self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait()


def java_cmd(classpath, root, args):
    """The benchmark JVM. The serial collector grows the heap (at most
    2 GB) with the live data and reuses one young generation in place, so
    `peak_rss_mb` follows what the program keeps, not where a concurrent
    collector happened to place its regions; it also runs no GC threads
    beside Spark's task threads. A tenth of the default JIT thresholds
    lets a short run leave warm-up sooner, and two JIT compiler threads
    keep compilation from preempting the task threads at random."""
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java"] + opens +
            ["-Xmx2g", "-XX:+UseSerialGC", "-XX:CompileThresholdScaling=0.1",
             "-XX:CICompilerCount=2", "-XX:-UsePerfData"] +
            [f"-Djava.io.tmpdir={root}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false",
             "-cp", ":".join(classpath), "perfbench.Main"] + args)


def run_jvm(checkout, args_for_root, verbose=False):
    """Builds, makes a run root, runs the JVM; returns its result dict."""
    classpath = build(checkout)
    tmp = os.path.join(checkout, ".bench_tmp")
    os.makedirs(tmp, exist_ok=True)
    sweep_stale(tmp)
    root = os.path.join(tmp, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(root)
    jvm = Jvm()

    def on_term(signum, frame):
        jvm.kill()
        shutil.rmtree(root, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    try:
        out = os.path.join(root, "result.json")
        logfile = os.path.join(root, "jvm.log")
        code = jvm.run(java_cmd(classpath, root, args_for_root(root, out)),
                       logfile)
        if verbose:
            with open(logfile, errors="replace") as f:
                sys.stderr.write(f.read())
        if code != 0 or not os.path.exists(out):
            with open(logfile, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"JVM exited with {code}")
        with open(out) as f:
            return json.load(f)
    finally:
        jvm.kill()
        shutil.rmtree(root, ignore_errors=True)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def end_to_end(r):
    ops = r["op_ms"]
    return {
        "sweep_s": stats.median(r["pass_s"]),
        "cpu_s": stats.median(r["pass_cpu_s"]),
        "batch_p50_ms": stats.percentile(ops, 50),
        "batch_p90_ms": stats.percentile(ops, 90),
        "rows_per_s": r["rows_per_s"],
        "setup_s": r["setup_s"],
        "peak_rss_mb": r["peak_rss_mb"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="also write the traced run's "
                    "per-layer sums and per-entry table to this JSON file")
    ap.add_argument("--record", action="store_true",
                    help="record the batch workload's fingerprints into "
                    "perfbench/workloads.json instead of checking them")
    ap.add_argument("--verbose", action="store_true",
                    help="copy the JVM's log to stderr")
    a = ap.parse_args()
    checkout = os.getcwd()
    spec = load_workloads()[a.workload]

    def args_for_root(root, out):
        args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), root,
                out]
        if "entries" in spec:
            tsv = os.path.join(root, "entries.tsv")
            with open(tsv, "w") as f:
                for name, fp in spec["entries"].items():
                    f.write(f"{name}\t{'-' if a.record else fp}\n")
            args.append(tsv)
        return args

    r = run_jvm(checkout, args_for_root, a.verbose)
    for e in r["errors"]:
        log(f"FAILED {e}")
    if a.record:
        allw = load_workloads()
        allw[a.workload]["entries"] = {
            n: r["fingerprints"][n] for n in spec["entries"]}
        with open(os.path.join(HERE, "workloads.json"), "w") as f:
            json.dump(allw, f, indent=2)
            f.write("\n")
        log(f"recorded {len(spec['entries'])} fingerprints")
    e2e = end_to_end(r)
    attempted, failed = int(r["attempted"]), int(r["failed"])
    log(f"{a.workload}: error_rate {failed / attempted:.4f} "
        f"({failed}/{attempted}), passes {len(r['pass_s'])}, "
        f"ops {len(r['op_ms'])}")
    if a.trace:
        layers = r["layers"]
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        if a.trace_out:
            with open(a.trace_out, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "seconds": a.seconds, "end_to_end_traced": e2e,
                           "layers": layers,
                           "table": r.get("trace_table", [])}, f, indent=1)
                f.write("\n")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
