#!/usr/bin/env python3
"""graft benchmark: one named workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload upload|upload_small --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run compiles graft and
the benchmark's Scala sources (`perfbench/lib/build.py`) under
`.bench_build/`. Each run then starts one JVM (`perfbench.Main`,
`local[4]`), which sets up, warms up, times a fixed number of
closed-loop passes over the workload (`--seconds` over the workload's
nominal pass time), checks every upload's outputs and writes a run
record; this script prints a host stamp line and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics. Every run keeps its record under `.bench_build/records/`. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

CORES = 4
JVM_TIMEOUT_S = 160
WORKLOADS = ("upload", "upload_small")

# what build.sbt passes to forked JVMs: Spark on JDK 17 needs these
# outside spark-submit
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p75_s": "s",
         "peak_rss_mb": "MB"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.busy_ratio", "sync.stage_bytes_per_input_byte"):
        return "ratio"
    if name == "spark.plan_bytes":
        return "bytes"
    return "count"


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return None


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    try:
        fields = open("/proc/stat").readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_head(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        p = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return p.stdout.strip() or None if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, jars, work, args):
    cmd = ["java", "-Xms1g", "-Xmx1g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work,
            "--cores", str(CORES)]
    os.makedirs(os.path.join(work, "tmp"))
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise RuntimeError(f"benchmark JVM failed ({rc}):\n{tail}")
    with open(os.path.join(work, "record.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    from lib import build, metrics

    root = os.getcwd()
    build_dir = os.path.abspath(".bench_build")
    load_start, steal_start = loadavg(), steal_s()
    try:
        classes, jars, src_sha = build.ensure(root, build_dir)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build_dir, "runs",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        try:
            record = run_jvm(classes, jars, work, args)
        except RuntimeError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 3

        # output checks ran in the JVM, after each pass
        problems = []
        failed_ops = set()
        for o in record["warmup"] + record["ops"]:
            errs = list(o["check"])
            if o["error"]:
                errs.append(o["error"])
            if o["leak"]:
                errs.append("leak: " + o["leak"])
            if errs:
                failed_ops.add((o["pass"], o["id"]))
                problems += [f"{o['name']} (pass {o['pass']}): {e}" for e in errs]
        attempted = len(record["warmup"]) + len(record["ops"])

        values = (metrics.per_layer(record) if args.trace
                  else metrics.end_to_end(record))
        # the run record (passes, ops, spans, listener events) outlives
        # the work directory
        os.makedirs(os.path.join(build_dir, "records"), exist_ok=True)
        shutil.copy(os.path.join(work, "record.json"), os.path.join(
            build_dir, "records",
            f"{args.workload}-{args.seed}-{args.trace}.json"))

        timed = [p for p in record["passes"] if not p["traced"]]
        stamp = {"workload": args.workload, "seed": args.seed,
                 "trace": args.trace, "nproc": os.cpu_count(),
                 "cores": record["cores"], "loadavg_1m_start": load_start,
                 "loadavg_1m_end": loadavg(),
                 "steal_s": (steal_s() - steal_start
                             if steal_start is not None else None),
                 "git_head": git_head(root),
                 "source_sha256": src_sha, **record["stamp"],
                 "passes": len(record["passes"]),
                 "untraced_passes": len(timed),
                 "timed_ops": len(record["ops"]),
                 "warmup_ops": len(record["warmup"]),
                 "failed_ops": len(failed_ops), "ops": attempted}
        for p in problems:
            print(f"perfbench: FAILED {p}", file=sys.stderr)
        print("host " + json.dumps(stamp, sort_keys=True))
        print("summary " + " ".join(
            f"{k}={v:.6g} {unit_of(k)}" for k, v in values.items()) +
            f" failed_ops={len(failed_ops)}/{attempted}")
        result = {
            "correct": not failed_ops,
            "attempted": attempted,
            "failed": len(failed_ops),
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in values.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
