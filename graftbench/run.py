#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop run of one workload.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a source checkout. It compiles the program and
the harness into ``.bench_build/`` (reused while the sources are
unchanged), generates the inputs from the seed, runs the workload on one
client thread against ``local[nproc]`` for the given seconds, checks the
outputs, and prints one JSON object as the last line of stdout:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. The full record (environment, every metric under its detailed name,
spans) is written to ``.bench_build/results/``. Everything the run reads
or writes besides the Java and Spark installation stays in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

BUILD = ".bench_build"
RUN_LIMIT_S = 170
WORKLOADS = ("ingest_incremental", "hub_sql_ops", "curation_corpus")

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {"op_ms": "ms", "ops_per_s": "1/s", "setup_s": "s",
              "heap_retained_mb": "MB"}
MODULES = ("catalog", "readers", "engine", "transform", "writers.raw",
           "writers.hub", "sources", "queries", "operators", "functions",
           "spark", "other")
OPERATORS = ("Dedup", "Similarity", "TextAnalysis", "QualityModel")
SQL_KINDS = ("select", "merge", "update", "delete")
PER_LAYER = dict(
    [("spark.gap_s", "s"), ("spark.job_s", "s"), ("spark.jobs", "count"), ("spark.tasks", "count"),
     ("spark.shuffle_mb", "MB"), ("spark.spill_mb", "MB"),
     ("spark.input_mb", "MB"), ("env.calib_s", "s"),
     ("trace.overhead_pct", "%")]
    + [(f"share.{m}", "%") for m in MODULES]
    + [(f"share.operators.{o}", "%") for o in OPERATORS]
    + [("readers.scan_amp", "ratio"), ("writers.hub.buckets_rewritten", "count"),
       ("writers.hub.bytes_per_input_byte", "ratio"), ("hub_space_amp", "ratio")])

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build


def jar_dir(root):
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    files = []
    for base in ("src/main/scala", os.path.join(os.path.relpath(HERE, root), "scala")):
        files += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root):
    """Compile the program and the harness with scalac; reuse the classes
    while sources and jars are unchanged."""
    jars = sorted(glob.glob(os.path.join(jar_dir(root), "*.jar")))
    if not jars:
        fail("no Spark jars found")
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD, "classes")
    stamp_file = os.path.join(root, BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, jars, stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-classpath", os.pathsep.join(jars),
           "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, jars, stamp


# ---------------------------------------------------------------- metrics


def coarse(module):
    m = module[:-4] if module.endswith(".gap") else module
    if m.startswith("operators."):
        return "operators"
    return m if m in MODULES else "other"


def fs_delta(op, root_index):
    b, a = op.get("fs_before"), op.get("fs_after")
    return (a[root_index][0] - b[root_index][0]) if a and b else 0


def overhead(ops):
    """Traced over untraced median latency, per kind, weighted by count."""
    num = den = 0.0
    for k in {o["kind"] for o in ops}:
        tr = [o["ms"] for o in ops if o["kind"] == k and o["traced"]]
        un = [o["ms"] for o in ops if o["kind"] == k and not o["traced"]]
        r = stats.ratio_of_medians(tr, un)
        if r is not None:
            num += r * (len(tr) + len(un))
            den += len(tr) + len(un)
    return 100.0 * num / den if den else 0.0


def layer_metrics(rec, workload):
    """Per-layer figures (BENCHMARK.json names) and the detailed ones."""
    ops = rec["ops"]
    tr = [o for o in ops if o["traced"] and o["layers"]]
    L = [o["layers"] for o in tr]
    n = max(1, len(L))
    wall = sum(x["wall_ms"] for x in L) or 1.0
    mod_ms = {}
    for x in L:
        for m, v in x["module_ms"].items():
            mod_ms[m] = mod_ms.get(m, 0.0) + v

    def mod_total(pred):
        return sum(v for m, v in mod_ms.items() if pred(m))

    def per_op(key, scale=1.0):
        return sum(x[key] for x in L) / n * scale

    out = {
        "spark.gap_s": per_op("gap_ms", 1e-3), "spark.job_s": per_op("job_ms", 1e-3),
        "spark.jobs": per_op("jobs"),
        "spark.tasks": per_op("tasks"), "spark.shuffle_mb": per_op("shuffle_b", 2**-20),
        "spark.spill_mb": per_op("spill_b", 2**-20),
        "spark.input_mb": per_op("input_b", 2**-20),
        "env.calib_s": rec["env"]["calib_after_s"],
        "trace.overhead_pct": overhead(ops),
    }
    for m in MODULES:
        out[f"share.{m}"] = 100.0 * mod_total(lambda x, m=m: coarse(x) == m) / wall
    for o in OPERATORS:
        out[f"share.operators.{o}"] = 100.0 * mod_total(
            lambda x, o=o: x in (f"operators.{o}", f"operators.{o}.gap")) / wall
    ex = rec["extras"]
    out["hub_space_amp"] = ex.get("hub_space_amp", 0.0)
    src_bytes = sum(o["extra"].get("source_bytes", 0) for o in tr)
    read_src = sum(x["source_scan_b"] + x["input_b_by_module"].get("readers", 0) for x in L)
    out["readers.scan_amp"] = read_src / src_bytes if src_bytes else 0.0
    all_ingest = [o for o in ops if o["kind"] == "ingest"]
    out["writers.hub.buckets_rewritten"] = (
        sum(o["extra"].get("buckets_rewritten", 0) for o in all_ingest) / len(all_ingest)
        if all_ingest else 0.0)
    hub_written = sum(max(0, fs_delta(o, 0)) for o in tr if o["kind"] == "ingest")
    out["writers.hub.bytes_per_input_byte"] = hub_written / src_bytes if src_bytes else 0.0

    # millisecond-grained, so kept out of the result line
    detail = {"spark.analyze_ms": per_op("analyze_ms")}
    # figures of the SQL workload, in the detailed record only
    kinds = {k: [o for o in tr if o["kind"] == k] for k in SQL_KINDS}
    if workload == "hub_sql_ops":
        for k, ko in kinds.items():
            if ko:
                detail[f"spark.jobs_per_op.{k}"] = sum(o["layers"]["jobs"] for o in ko) / len(ko)
                detail[f"sources.sql.analyze_ms.{k}"] = (
                    sum(o["layers"]["analyze_ms"] for o in ko) / len(ko))
        sel = kinds["select"]
        if sel:
            detail["sources.read.files_per_point_read"] = (
                sum(o["layers"]["plan_files"] for o in sel) / len(sel))
            detail["sources.read.bytes_per_point_read"] = (
                sum(o["layers"]["input_b"] for o in sel) / len(sel))
        writes = kinds["merge"] + kinds["update"] + kinds["delete"]
        changed = sum(o["rows"] for o in writes)
        if changed:
            detail["writers.hub.bytes_per_changed_row"] = (
                sum(max(0, fs_delta(o, 0)) for o in writes) / changed)
        if writes:
            detail["writers.hub.driver_ms_per_commit"] = sum(
                o["layers"]["module_ms"].get("writers.hub.gap", 0.0) for o in writes) / len(writes)
        opt = [o for o in tr if o["kind"] == "optimize"]
        if opt:
            detail["writers.maintenance_bytes_rewritten"] = (
                sum(max(0, fs_delta(o, 0)) for o in opt) / len(opt) * 2**-20)

    # the detailed names: times of single modules, per operation
    def mod_ms_per_op(*keys):
        return sum(mod_ms.get(k, 0.0) for k in keys) / n

    detail.update({
        "readers.schema_ms": mod_ms_per_op("readers", "readers.gap"),
        "writers.raw.s": mod_ms_per_op("writers.raw", "writers.raw.gap") / 1e3,
        "writers.hub.job_s": mod_ms_per_op("writers.hub") / 1e3,
        "writers.hub.driver_s": mod_ms_per_op("writers.hub.gap") / 1e3,
    })
    job_by_mod = {}
    for x in L:
        for m, v in x["job_ms_by_module"].items():
            job_by_mod[m] = job_by_mod.get(m, 0.0) + v
    # per traced pass of the curation queries, per operation elsewhere
    units = n / len(rec["extras"]["queries"]) if workload == "curation_corpus" else n
    for m, v in job_by_mod.items():
        if m.startswith("operators."):
            detail[f"operators.job_s.{m[10:]}"] = v / units / 1e3
    return out, detail


def detail_metrics(rec, workload):
    """End-to-end figures under the workload's own names."""
    ops = [o for o in rec["ops"] if o["ok"]]
    ex = rec["extras"]
    d = {}

    def med(kind):
        xs = [o["ms"] for o in ops if o["kind"] == kind]
        return stats.median(xs) if xs else None

    if workload == "ingest_incremental":
        d["ingest_run_s"] = med("ingest") / 1e3
        d["ingest_rows_per_s"] = (sum(o["rows"] for o in ops)
                                  / (sum(o["ms"] for o in ops) / 1e3))
        d["catalog.load_ms"] = stats.median(o["extra"]["catalog_load_ms"] for o in ops)
        d["hub_space_amp"] = ex["hub_space_amp"]
        d["writers.hub.history_ms"] = [ex["history_ms_first"], ex["history_ms_last"]]
    elif workload == "hub_sql_ops":
        reads = [o["ms"] for o in ops if o["kind"] == "select"]
        d["point_read_ms"] = stats.median(reads)
        d["point_read_p90_ms"] = stats.tail(reads, 0.9)
        for k in ("merge", "update", "delete"):
            d[f"{k}_ms"] = med(k)
        d["sql_ops_per_s"] = len(rec["ops"]) / rec["window_s"]
        maint = [o["ms"] for o in ops if o["kind"] in ("optimize", "vacuum")]
        d["writers.maintenance_ms"] = stats.median(maint) if maint else None
        d["hub_space_amp"] = ex["hub_space_amp"]
        d["writers.hub.history_ms"] = [ex["history_ms_first"], ex["history_ms_last"]]
    else:
        names = ex["queries"]
        passes = {}
        for o in rec["ops"]:
            passes.setdefault(o["i"] // len(names), []).append(o["ms"])
        d["curation_pass_s"] = stats.median(
            sum(p) for p in passes.values() if len(p) == len(names)) / 1e3
        for q in names:
            d[f"queries.{q}_s"] = med(q) / 1e3
    return d


def end_to_end(rec, setup_s):
    ms = [(o["kind"], o["ms"]) for o in rec["ops"] if o["ok"]]
    return {"op_ms": stats.mix_weighted_median(ms),
            "ops_per_s": len(rec["ops"]) / rec["window_s"],
            "setup_s": setup_s,
            "heap_retained_mb": rec["heap_retained_mb"]}


# ---------------------------------------------------------------- run


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def run_jvm(root, classes, jars, args, work, input_dir, record, deadline):
    log = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources")] + jars)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false"] + opens
           + ["-cp", cp, "graftbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--input", input_dir, "--work", work, "--out", record])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(record):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"harness exited with {rc}")
    with open(record) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(gen.SIZES), default="full")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src/main/scala"))
            and os.path.isfile(os.path.join(root, "build.sbt"))):
        fail("run from the root of a graft source checkout "
             "(src/main/scala and build.sbt not found)")
    classes, jars, stamp = build(root)
    t_setup = time.time()
    deadline = t_setup + RUN_LIMIT_S
    work = os.path.join(root, BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    try:
        gen.GENERATORS[args.workload](input_dir, args.seed, args.size)
        record = os.path.join(work, "record.json")
        rec = run_jvm(root, classes, jars, args, work, input_dir, record, deadline)
        check_dir = os.path.join(work, "check")
        py_checks = []
        if args.workload == "ingest_incremental":
            import checks
            py_checks = checks.ingest_lww(input_dir, check_dir, rec["extras"]["last_batch"])
        elif args.workload == "curation_corpus":
            import checks
            py_checks = checks.curation_oracle(input_dir, check_dir)
        all_checks = ([(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]
                      + list(py_checks))
        attempted = len(rec["ops"]) + len(all_checks)
        failed = sum(not o["ok"] for o in rec["ops"]) + sum(not c[1] for c in all_checks)
        setup_s = rec["first_op_ms"] / 1e3 - t_setup
        e2e = end_to_end(rec, setup_s)
        layers, layer_detail = (layer_metrics(rec, args.workload) if args.trace
                                else ({}, {}))
        detail = dict(detail_metrics(rec, args.workload), **layer_detail)
        op_ms = [o["ms"] for o in rec["ops"] if o["ok"]]
        detail["op_samples"] = len(op_ms)
        detail["op_tail_q_ms"] = stats.highest_tail(op_ms)
        detail["setup_s"] = setup_s
        detail["setup_phases_s"] = dict(rec["setup_phases_s"], jvm_launch=(
            rec["jvm_start_ms"] / 1e3 - t_setup))
        detail["heap_retained_mb"] = rec["heap_retained_mb"]
        detail["failed_op_share"] = stats.failed_share(failed, attempted)
        env = dict(rec["env"], seed=args.seed, workload=args.workload,
                   trace=args.trace, size=args.size, source_sha=stamp,
                   git_commit=git_commit(root), seconds=args.seconds)
        full = {"env": env, "end_to_end": e2e, "per_layer": layers,
                "detail": detail, "extras": rec["extras"], "ops": len(rec["ops"]),
                "op_ms": [[o["kind"], o["ms"], o["traced"]] for o in rec["ops"]],
                "checks": [{"name": c[0], "ok": c[1], "detail": c[2]}
                           for c in all_checks],
                "failed_ops": [o for o in rec["ops"] if not o["ok"]][:5],
                "spans": rec.get("spans")}
        res_dir = os.path.join(root, BUILD, "results")
        os.makedirs(res_dir, exist_ok=True)
        with open(os.path.join(
                res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(full, f, indent=1)
        for c in all_checks:
            if not c[1]:
                print(f"check failed: {c[0]}: {c[2]}")
        print(json.dumps({"env": env, "detail": detail}))
        table = layers if args.trace else e2e
        units = PER_LAYER if args.trace else END_TO_END
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": table[k], "unit": u} for k, u in units.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
