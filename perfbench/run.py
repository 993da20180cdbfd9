"""Counterparty-dedup benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 8 --trace 0

Builds the library and the benchmark's JVM program from source into
.bench_build/ (skipped when the sources are unchanged), generates the
workload's inputs from the seed, runs them in one Spark JVM at
local[nproc], checks every operation's output against the planted
truth, and prints one JSON line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("link_batch", "daily_serve")
JVM_TIMEOUT_S = 165
# -XX:-UsePerfData: no hsperfdata file under /tmp; the run writes only
# inside the checkout.
JVM_OPTS = ["-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    opt for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for opt in ("--add-opens", p + "=ALL-UNNAMED")]

SPANS = ("etl.extract", "etl.transform", "edjoin.id_pairs", "cc.run",
         "linker.group_collect", "etl.load", "edjoin.index_write", "dedup.index_write",
         "dedup.index_serve", "edjoin.index_serve", "cc.assign",
         "cc.republish", "edjoin.index_append", "dedup.index_append")
SPAN_SUFFIXES = (("ms", "ms"), ("jobs", "count"), ("task_ms", "ms"),
                 ("gc_ms", "ms"), ("shuffle_mb", "MB"), ("plan_ms", "ms"),
                 ("gap_ms", "ms"))
ROWS_OUT = ("etl.transform", "edjoin.id_pairs", "linker.group_collect",
            "dedup.index_serve", "edjoin.index_serve")
END_TO_END_UNITS = {"setup_s": "s", "publish_s": "s", "wall_s": "s",
                    "serve_p50_s": "s", "peak_rss_mb": "MB",
                    "index_bytes_per_row": "B/row"}


def per_layer_units():
    units = {}
    for s in SPANS:
        for suffix, unit in SPAN_SUFFIXES:
            units["%s.%s" % (s, suffix)] = unit
    for s in ROWS_OUT:
        units[s + ".rows_out"] = "count"
    units["edjoin.id_pairs.candidates"] = "count"
    units["index.files_per_bucket"] = "count"
    units["trace.uncovered_share"] = "ratio"
    units["trace.overhead"] = "ratio"
    return units


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt declares as
    `unmanagedBase`."""
    dirs = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        pass
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    sys.exit("no Spark jars found (set SPARK_HOME)")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def build(jars):
    """Compile src/main/scala, then perfbench/src against it; cached by a
    hash of the sources and the jar set. Returns the run classpath."""
    lib_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "src"))
    if not lib_src or not bench_src:
        sys.exit("library or benchmark sources missing: nothing to build")
    h = hashlib.sha256()
    for f in lib_src + bench_src:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = os.path.join(BUILD, "classes.stamp")
    lib_out = os.path.join(BUILD, "classes", "lib")
    bench_out = os.path.join(BUILD, "classes", "bench")
    cp = "%s:%s:%s/*" % (bench_out, lib_out, jars)
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    t0 = time.time()
    for out, files, extra in ((lib_out, lib_src, ""), (bench_out, bench_src, lib_out + ":")):
        os.makedirs(out)
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars + "/*",
             "scala.tools.nsc.Main", "-nowarn", "-d", out,
             "-cp", extra + jars + "/*"] + files,
            check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log("built in %.1f s" % (time.time() - t0))
    return cp


# ---------------------------------------------------------------- heat

def calibration_ms():
    """Fixed CPU work on this interpreter: box heat, annotation only."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def heat():
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"loadavg": [float(x) for x in load], "calibration_ms": calibration_ms(),
            "cpu_jiffies": cpu_jiffies()}


# ---------------------------------------------------------------- runs

def jvm(cp, args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
    # scratch files inside the work directory.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                 "-cp", cp, "perfbench.Main"] + args
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                       text=True, timeout=JVM_TIMEOUT_S, cwd=work, env=env)
    if p.returncode != 0:
        log(p.stderr[-4000:])
        raise RuntimeError("JVM exited with %d" % p.returncode)
    return t0


def read_parquet_dir(path, columns):
    import pyarrow.parquet as pq
    cols = {c: [] for c in columns}
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        t = pq.read_table(f, columns=columns)
        for c in columns:
            cols[c] += t.column(c).to_pylist()
    return list(zip(*(cols[c] for c in columns)))


def dir_bytes(path):
    return sum(os.path.getsize(f) for f in
               glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def check_ops(truth, res):
    """Check every operation; returns {run: [errors]}. Also records each
    pass's on-disk output bytes and loaded account rows in the op."""
    errors = {}
    prev = None
    for op in res["ops"]:
        errs = [op["error"]] if op.get("error") else []
        if not errs and op["kind"] == "pass":
            op["out_bytes"] = dir_bytes(op["out"])
            rows = read_parquet_dir(os.path.join(op["out"], "accounts"),
                                    ["ref", "Name", "IBAN", "id"])
            op["out_rows"] = len(rows)
            clusters = read_parquet_dir(os.path.join(op["out"], "clusters"),
                                        ["component", "member_ids"])
            errs = check.check_accounts(truth, rows) or check.check_clusters(
                truth, rows, [(c, [int(x) for x in m.split(",")]) for c, m in clusters])
        elif not errs and op["kind"] == "batch" and "key_rows" not in (prev or {}):
            # the operation before threw: the index rows it left are unknown
            errs = ["the publish or batch before this one failed"]
        elif not errs and op["kind"] == "batch":
            b = int(op["batch"][len("batch_"):len("batch_") + 3])
            with open(op["labels"]) as f:
                labels = dict(tuple(int(x) for x in l.split("\t"))
                              for l in f.read().splitlines() if l)
            errs = check.check_batch(truth, b, labels, op["novel"], op, prev)
        if op["kind"] in ("publish", "batch"):
            prev = op
        errors[op["run"]] = errs
    return errors


def end_to_end(workload, res, setups):
    """Failed operations count in the walls; sizes come from the last
    operation that completed."""
    timed = [o for o in res["ops"] if o["phase"] == "timed"]
    walls = [(o["end_ms"] - o["start_ms"]) / 1000.0 for o in timed]
    first = next(o for o in res["ops"] if o["phase"] in ("publish", "cold"))
    if workload == "daily_serve":
        serves = [o.get("serve_ms", o["end_ms"] - o["start_ms"]) / 1000.0 for o in timed]
        out_bytes = res["index_bytes"] / res["index_rows"]
    else:
        serves = walls
        done = [o for o in timed if "out_rows" in o] or [{"out_bytes": 0, "out_rows": 1}]
        out_bytes = done[-1]["out_bytes"] / max(1, done[-1]["out_rows"])
    values = {
        "setup_s": statistics.median(setups),
        "publish_s": (first["end_ms"] - first["start_ms"]) / 1000.0,
        "wall_s": statistics.median(walls),
        "serve_p50_s": statistics.median(serves),
        "peak_rss_mb": res["peak_rss_mb"],
        "index_bytes_per_row": out_bytes,
    }
    return values


def per_layer(res):
    spans = res.get("spans", [])
    values = {k: 0.0 for k in per_layer_units()}
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s["metrics"])
    for name, ms in by_name.items():
        for key in ms[0]:
            values["%s.%s" % (name, key)] = statistics.median(m[key] for m in ms)
    if "files_per_bucket" in res:
        values["index.files_per_bucket"] = res["files_per_bucket"]
    traced = [o for o in res["ops"] if o["phase"] == "traced"]
    untraced = [o for o in res["ops"] if o["phase"] == "timed"]
    if traced:
        covered = {}
        for s in spans:
            if s["parent"] is None:
                covered[s["run"]] = covered.get(s["run"], 0) + s["end_ms"] - s["start_ms"]
        walls = [o["end_ms"] - o["start_ms"] for o in traced if o["kind"] != "publish"]
        total = sum(o["end_ms"] - o["start_ms"] for o in traced)
        values["trace.uncovered_share"] = 1.0 - sum(
            covered.get(o["run"], 0) for o in traced) / total
        if walls and untraced:
            values["trace.overhead"] = statistics.median(walls) / statistics.median(
                o["end_ms"] - o["start_ms"] for o in untraced)
    return values


def main(argv=None):
    ap = argparse.ArgumentParser(description="counterparty-dedup benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    jars = spark_jars()
    cp = build(jars)
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        heat_before = heat()
        t_gen = time.time()
        truth = gen.generate(a.workload, a.seed, data)
        log("generated in %.1f s" % (time.time() - t_gen))
        result = os.path.join(work, "result.json")
        t0 = jvm(cp, ["run", a.workload, data, work, str(a.seconds),
                         str(a.trace), result], work)
        with open(result) as f:
            res = json.load(f)
        setups = [res["setup_done_ms"] / 1000.0 - t0]
        log("JVM ran %.1f s, %.1f s after its last operation"
            % (time.time() - t0, time.time() - res["ops"][-1]["end_ms"] / 1000.0))
        t_check = time.time()
        errors = check_ops(truth, res)
        log("checked in %.1f s" % (time.time() - t_check))
        heat_after = heat()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for e in errors.values() if e)
    for op_run, errs in sorted(errors.items()):
        for e in errs[:5]:
            log("operation %d: %s" % (op_run, e))
    if a.trace:
        values, units = per_layer(res), per_layer_units()
    else:
        values, units = end_to_end(a.workload, res, setups), END_TO_END_UNITS
    (s0, j0), (s1, j1) = heat_before["cpu_jiffies"], heat_after["cpu_jiffies"]
    steal = (s1 - s0) / max(1, j1 - j0)
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "setup_samples_s": setups, "heat_before": heat_before,
                "heat_after": heat_after, "steal_share": steal, "ops": res["ops"],
                "timed_ops": sum(1 for o in res["ops"] if o["phase"] == "timed"),
                "errors": {str(k): v for k, v in errors.items() if v},
                "error_rate": failed / len(errors), "metrics": values}
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    with open(os.path.join(BUILD, "artifacts", "%s-%d-trace%d.json"
                           % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(artifact, f)
    log("heat: loadavg %s -> %s, calibration %.0f -> %.0f ms, cpu steal %.1f%%; "
        "error_rate %d/%d" % (heat_before["loadavg"], heat_after["loadavg"],
                              heat_before["calibration_ms"], heat_after["calibration_ms"],
                              100 * steal, failed, len(errors)))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(errors),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
