#!/usr/bin/env python3
"""End-to-end benchmark of the watch pipeline and of document curation.

Run from the repository root:

    python3 perfbench/run.py --workload watch_daily --seed 1 --seconds 15 --trace 0

Workloads (perfbench/NOTES.md says why each exists):

* ``watch_daily`` -- subject-days, each through the ``graft.Run``
  subcommands reformat, acc, filter and categorize in one session; the
  traced run also times the library chain under them layer by layer.
* ``docs_curate`` -- document batches through ``Pipelines.curate``.

The script builds the program from source into ``.bench_build/`` (once per
source change), generates the seeded inputs, runs the JVM side
(``perfbench/src``) in a closed loop with one client on ``local[N]``,
N = min(4, nproc), checks every output against the generator's ground
truth and prints the metrics. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones from a separate traced pass (spans are written to
``.bench_build/work/<workload>/spans.jsonl``).
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen_docs  # noqa: E402
import gen_watch  # noqa: E402

BUILD = ".bench_build"
CORES = min(4, os.cpu_count() or 1)
JVM_TIMEOUT_S = 170
# set-up (session start plus one warm-up unit) is repeated this often per
# untraced run and reported as the median; a traced run reports no set-up
# time and sets up once
SETUPS = 2

# Inputs per workload: "main" is the measured set, "warmup" the unit each
# set-up runs once. Record counts depend on these sizes only, not the seed.
WORKLOADS = {
    "watch_daily": {
        "gen": "watch",
        "main": dict(subjects=2, days=1, acc_hours=0.1, upload_records=1000),
        "warmup": dict(subjects=1, days=1, acc_hours=0.1, upload_records=1000),
    },
    "docs_curate": {
        "gen": "docs",
        "main": dict(batches=3, docs=2000, replicas=4, exact_dup_rate=0.05,
                     near_dup_rate=0.05, low_quality_rate=0.05),
        "warmup": dict(batches=1, docs=500, replicas=4, exact_dup_rate=0.05,
                       near_dup_rate=0.05, low_quality_rate=0.05),
    },
}

END_TO_END = [("wall_s", "s"), ("records_per_s", "1/s"),
              ("unit_p50_s", "s"), ("unit_tail_s", "s"), ("setup_s", "s"),
              ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("readers.s", "s"), ("readers.scans", "count"),
    ("readers.bytes_per_file_byte", "ratio"),
    ("normalize.s", "s"), ("normalize.rows_out", "count"),
    ("acc.align_s", "s"), ("acc.align_max_task_s", "s"),
    ("acc.match_ratio", "ratio"),
    ("filters.s", "s"), ("filters.drop_ratio", "ratio"),
    ("filters.nl_joins", "count"),
    ("categorize.s", "s"), ("categorize.jobs", "count"),
    ("categorize.driver_s", "s"),
    ("sink.s", "s"), ("sink.bytes", "bytes"), ("sink.files", "count"),
    ("run.reformat_s", "s"), ("run.acc_s", "s"), ("run.filter_s", "s"),
    ("run.categorize_s", "s"),
    ("curate.s", "s"), ("curate.keep_ratio", "ratio"),
    ("curate.shuffle_bytes_per_input_byte", "ratio"),
    ("engine.jobs", "count"), ("engine.stages", "count"),
    ("engine.tasks", "count"), ("engine.planning_s", "s"),
    ("engine.driver_gap_s", "s"), ("engine.task_cpu_s", "s"),
    ("engine.gc_s", "s"), ("engine.shuffle_write_bytes", "bytes"),
    ("engine.spill_bytes", "bytes"), ("engine.core_busy_ratio", "ratio"),
]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the directory the
    repository's own build compiles against (build.sbt's unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    return ""


SPARK_JARS = spark_jars()


def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main", os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sh")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(r, n) for r, _, ns in os.walk(top) for n in ns)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program plus perfbench/src unless the sources are unchanged."""
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("perfbench: building the program from source ...")
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD,
                        SPARK_JARS],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")


def generate(workload, seed):
    """Seeded inputs, generated once per (workload, seed, sizes)."""
    spec = WORKLOADS[workload]
    key = hashlib.sha256(json.dumps(spec, sort_keys=True).encode())
    key.update(open(os.path.join(HERE, f"gen_{spec['gen']}.py"), "rb").read())
    root = os.path.join(BUILD, "inputs", f"{workload}-{seed}-"
                        f"{key.hexdigest()[:12]}")
    if os.path.exists(os.path.join(root, "done")):
        return root
    shutil.rmtree(root, ignore_errors=True)
    for part, salt in (("main", 0), ("warmup", 7919)):
        out = os.path.join(root, part)
        kw = spec[part]
        if spec["gen"] == "watch":
            gen_watch.generate(seed * 1000 + salt, out, kw["subjects"],
                               kw["days"], kw["acc_hours"],
                               kw["upload_records"],
                               prefix="warm" if salt else "subj")
        else:
            gen_docs.generate(seed * 1000 + salt, out, kw["batches"],
                              kw["docs"], kw["replicas"],
                              kw["exact_dup_rate"], kw["near_dup_rate"],
                              kw["low_quality_rate"])
    open(os.path.join(root, "done"), "w").close()
    return root


def run_java(main_class, args, work, log_name):
    """Run a main of the built classpath, output to <work>/<log_name>."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] +
           [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", os.path.join(BUILD, "classes") + os.pathsep +
            os.path.join(SPARK_JARS, "*"), main_class] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(work, log_name)
    with open(log_path, "w") as logf:
        try:
            r = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                               env=env, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: {main_class} timed out; see {log_path}")
    if r.returncode != 0:
        with open(log_path) as f:
            log(f.read()[-4000:])
        sys.exit(f"perfbench: {main_class} exited with {r.returncode}")


def run_jvm(workload, inputs, work, seconds, trace):
    run_java("graft.perfbench.BenchMain",
             ["--workload", workload, "--inputs", inputs, "--work", work,
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--cores", str(CORES), "--setups", "1" if trace else str(SETUPS)],
             work, "jvm.log")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def percentile(values, p):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def day_truth(truth, unit_id):
    sid, date = unit_id.rsplit("_", 1)
    return truth["subjects"][sid][date]


def unit_records(workload, truth, unit_id):
    """Input records of a unit: raw upload records plus vendor-table rows
    for a subject-day, documents for a batch."""
    if workload == "docs_curate":
        return truth["batches"][unit_id + ".parquet"]["docs"]
    day = day_truth(truth, unit_id)
    return day["raw_records"] + day["computed_rows"]


def check_unit(workload, truth, inputs, u):
    if workload == "watch_daily":
        return checks.check_daily(truth, u["id"], u["out"], u["start_ms"])
    return checks.check_docs(truth, u["id"], u["out"],
                             os.path.join(inputs, "main"))


def end_to_end(workload, truth, res):
    measured = [u for u in res["units"] if u["phase"] == "measure"]
    per_pass = len({u["id"] for u in measured})
    passes = res["pass_wall_s"]
    records = sum(unit_records(workload, truth, i)
                  for i in {u["id"] for u in measured})
    secs = [u["seconds"] for u in measured]
    # the tail percentile is fixed by the pass size, so that it does not
    # move with the number of passes that fit the run
    tail_p = math.floor(100 * (1 - 10 / per_pass)) if per_pass > 10 else 100
    log(f"perfbench: {len(passes)} pass(es) of {per_pass} units; "
        f"unit_tail_s is p{tail_p} of {len(secs)} units")
    wall = statistics.median(passes)
    return {
        "wall_s": wall,
        "records_per_s": statistics.median(records / w for w in passes),
        "unit_p50_s": statistics.median(secs),
        "unit_tail_s": percentile(secs, tail_p),
        "setup_s": statistics.median(res["setup_s"]),
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
    }


def per_layer(workload, truth, res, spans, ratios, outs):
    """Per-layer metrics: span times and counters from the traced pass,
    per-unit engine counters from the untraced measured pass (listeners on,
    no layer spans), ratios read off the outputs. A layer that has no span
    on this workload reads 0."""
    traced = [s for s in spans if s["phase"] == "trace"]
    units = [s for s in spans if s["phase"] == "measure" and
             s["name"] == "unit"]
    m = {name: 0.0 for name, _ in PER_LAYER}

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    def span_med(name, field="seconds"):
        return med(s[field] for s in traced if s["name"] == name)

    for name, span in (("readers.s", "readers"), ("normalize.s", "normalize"),
                       ("acc.align_s", "acc.align"), ("filters.s", "filters"),
                       ("categorize.s", "categorize"), ("curate.s", "curate"),
                       ("run.reformat_s", "run.reformat"),
                       ("run.acc_s", "run.acc"), ("run.filter_s", "run.filter"),
                       ("run.categorize_s", "run.categorize")):
        m[name] = span_med(span)
    m["acc.align_max_task_s"] = span_med("acc.align", "max_task_s")
    m["categorize.jobs"] = span_med("categorize", "jobs")
    m["categorize.driver_s"] = span_med("categorize", "driver_gap_s")
    for key in ("normalize.rows_out", "acc.match_ratio", "filters.drop_ratio",
                "curate.keep_ratio"):
        m[key] = med(r[key] for r in ratios if key in r)
    stats = [checks.file_stats(o) for o in outs]
    m["sink.files"] = med(f for f, _ in stats)
    m["sink.bytes"] = med(b for _, b in stats)
    if workload == "watch_daily":
        # inside the CLI: the jobs whose call site is Run.writeSingleCsv
        by_unit = {}
        for s in traced:
            if s["name"].startswith("run."):
                by_unit[s["unit"]] = (by_unit.get(s["unit"], 0.0) +
                                      s["job_s_by_layer"].get("sink", 0.0))
        m["sink.s"] = med(by_unit.values())
        m["readers.scans"] = med(s["json_scans"] for s in units)
        m["filters.nl_joins"] = med(s["nl_joins"] for s in units)
        m["readers.bytes_per_file_byte"] = med(
            s["input_bytes"] / day_truth(truth, s["unit"])["upload_bytes"]
            for s in traced if s["name"] == "readers")
    else:
        m["sink.s"] = span_med("sink")
        m["curate.shuffle_bytes_per_input_byte"] = med(
            s["shuffle_write_bytes"] /
            truth["batches"][s["unit"] + ".parquet"]["bytes"]
            for s in traced if s["name"] == "curate")
    for key, field in (("engine.jobs", "jobs"), ("engine.stages", "stages"),
                       ("engine.tasks", "tasks"),
                       ("engine.planning_s", "planning_s"),
                       ("engine.driver_gap_s", "driver_gap_s"),
                       ("engine.task_cpu_s", "task_cpu_s"),
                       ("engine.gc_s", "gc_s"),
                       ("engine.shuffle_write_bytes", "shuffle_write_bytes"),
                       ("engine.spill_bytes", "spill_bytes")):
        m[key] = med(s[field] for s in units)
    busy = sum(s["task_run_s"] for s in units)
    wall = sum(s["seconds"] for s in units)
    m["engine.core_busy_ratio"] = busy / (wall * res["cores"]) if wall else 0.0
    return m


def tracing_overhead(workload, res, spans):
    """Traced minus untraced wall time of one pass. On watch_daily the
    traced pass also runs the library chain for attribution; only its CLI
    spans are the traced counterpart of the untraced pass."""
    untraced = statistics.median(res["pass_wall_s"])
    if workload == "watch_daily":
        traced = sum(s["seconds"] for s in spans
                     if s["phase"] == "trace" and s["name"].startswith("run."))
    else:
        traced = res["traced_wall_s"]
    return traced, untraced


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isdir("src/main/scala") and
            os.path.isfile(os.path.join(HERE, "build.sh"))):
        sys.exit("perfbench: run from the root of a checkout of the "
                 "repository (src/main/scala not found)")
    if not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: Spark jars not found; set SPARK_HOME")
    build()
    inputs = generate(a.workload, a.seed)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(a.workload, inputs, work, a.seconds, a.trace)
    with open(os.path.join(inputs, "main", "truth.json")) as f:
        truth = json.load(f)

    failed = 0
    ratios, outs, digests = [], [], {}
    for u in res["units"]:
        if u["error"]:
            failed += 1
            log(f"perfbench: unit {u['id']} (pass {u['pass']}) threw: "
                f"{u['error']}")
            continue
        fails, r, d = check_unit(a.workload, truth, inputs, u)
        if fails:
            failed += 1
            log(f"perfbench: unit {u['id']} (pass {u['pass']}) failed: "
                + "; ".join(fails))
        if u["phase"] == "measure":
            ratios.append(r)
            outs.append(u["out"])
            if u["pass"] == 1:
                digests[u["id"]] = d
    attempted = len(res["units"])
    combined = checks.digest_rows(sorted(
        (uid, name, dg) for uid, ds in digests.items()
        for name, dg in ds.items()))
    with open(os.path.join(work, "digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    log(f"perfbench: output digest {combined} "
        f"(per output: {work}/digests.json)")
    log(f"perfbench: failed_frac {failed / attempted:.4f} "
        f"({failed} of {attempted} units)")

    if a.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        values = per_layer(a.workload, truth, res, spans, ratios, outs)
        reported = PER_LAYER
        traced, untraced = tracing_overhead(a.workload, res, spans)
        log(f"perfbench: traced pass {traced:.3f} s, untraced {untraced:.3f} "
            f"s, tracing overhead {traced - untraced:+.3f} s; spans in "
            f"{work}/spans.jsonl, jobs in {work}/jobs.jsonl")
    else:
        values = end_to_end(a.workload, truth, res)
        reported = END_TO_END
    for name, unit in reported:
        log(f"  {name:40s} {values[name]:.6g} {unit}")
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in reported},
    }))


if __name__ == "__main__":
    main()
