#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload search|pipeline \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft together with
the JVM harness in perfbench/src (sbt, offline); later runs reuse the
build. Both workloads run on graft's standard sf0.1 corpus, kept verbatim
in perfbench/corpus and checked against its MD5SUMS. Each run generates
its seeded inputs, launches the harness JVM on the compiled classpath with
graft.Main's session conf, checks every operation's output (DuckDB for
search requests and pipeline paths, generator counts for the ingest and
merge layers of a traced pipeline run) and prints a report followed by
one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The exit code is non-zero when any operation failed or was wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

DATA = os.path.join(HERE, ".data")
BUILD = os.path.join(HERE, ".build")
CORPUS = os.path.join(HERE, "corpus")
CPUS = 4  # graft.Main's default SPARK_GRAFT_CPUS
XMX = "2g"
# the harness JVM may take this long beyond --seconds: set-up, the request
# or pass that is running when --seconds ends, and the traced run's extras
JVM_SLACK_S = 150
# requests every search run serves whatever --seconds says: 8 rounds of the
# 20-request deck gen.search_requests deals the class shares from, so the
# timed prefix holds the exact shares; p90 of 160 has 16 samples beyond it.
# A traced run traces every second one of these.
MIN_REQUESTS = 160
# warm-up requests, from another seed: one round of the class deck, so
# every request class has run before the timed requests start
WARM_REQUESTS = 20
# passes every pipeline run makes whatever --seconds says; pipeline_s is
# their median
MIN_PASSES = 2
# CDC batches the traced pipeline run merges, every second one measured
MERGE_BATCHES = 12
# one or two heavy paths per operator family; kcore and sssp stay so their
# cost can be weighed against pipeline_s
PIPELINE_PATHS = [
    "q_graph_kcore", "q_graph_sssp", "q_dedup_editdist", "q_text_langid_ngram",
    "q_vec_ann_ivf", "q_vec_knn_join", "q_eval_ndcg", "q_report_market_basket",
    "q_tpch_q9",
]
# paths whose first call in a session builds a memo (IVF codebooks, the
# rank base)
MEMO_PATHS = ["q_vec_ann_ivf", "q_eval_ndcg"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms", "work_s": "s"}
PER_LAYER = dict(
    [(k, "ms") for k in ["session.build_ms", "session.register_ms", "warmup_ms",
                         "plan.build_ms", "plan.analyze_ms", "plan.optimize_ms",
                         "plan.physical_ms", "exec_ms"]]
    + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.task_wait_ms", "ms"), ("spark.task_run_ms", "ms"),
       ("spark.task_cpu_ms", "ms"), ("spark.gc_ms", "ms"),
       ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"),
       ("scan.files", "count"), ("scan.bytes", "bytes"), ("scan.rows", "count"),
       ("scan.rows_per_result", "ratio")]
    + [(f"search.{c}.p50_ms", "ms") for c in gen.SEARCH_SHARES]
    + [("syslog.parse_ms", "ms"), ("syslog.parse_mb_per_s", "MB/s"),
       ("syslog.records", "count"), ("syslog.unparsed_ratio", "ratio"),
       ("lake.write_ms", "ms"), ("lake.files", "count"),
       ("lake.bytes_per_raw_byte", "ratio"),
       ("merge.buckets", "count"), ("merge.rewrite_bytes", "bytes"),
       ("merge.rewrite_bytes_per_row", "bytes"), ("merge.verify_ms", "ms"),
       ("ckpt.blocks", "count"), ("ckpt.block_bytes", "bytes")]
    + [(f"ops.{f}.ms", "ms") for f in ["TextOps", "VectorOps", "AggOps",
                                        "EvalOps", "TpchOps"]]
    + [m for p in PIPELINE_PATHS for m in [(f"q.{p}.ms", "ms"), (f"q.{p}.jobs", "count")]]
    + [(f"memo.{p}.first_pay_ms", "ms") for p in MEMO_PATHS]
    + [(f"kernel.{k}.rows_per_s", "1/s") for k in
       ["vec_dot", "vec_dot_hof", "mask_and_count", "mask_and_count_hof",
        "char_ngrams", "char_ngrams_hof"]]
    + [("jvm.driver_gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
       ("trace.overhead_pct.op_p50_ms", "%"), ("trace.overhead_pct.work_s", "%")])


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build --

def source_digest():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the harness; return the runtime classpath."""
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(p.stdout[-3000:] + p.stderr[-2000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"perfbench: built in {time.time() - t:.1f} s")
    return cp


# ------------------------------------------------------------------- data --

def corpus(scale):
    """The corpus directory for `scale`, after checking it byte for byte."""
    with open(os.path.join(CORPUS, "MD5SUMS")) as f:
        sums = [line.split() for line in f if line.strip()]
    for want, name in sums:
        if name.startswith(scale + "/"):
            with open(os.path.join(CORPUS, name), "rb") as fh:
                if hashlib.md5(fh.read()).hexdigest() != want:
                    fail(f"corpus file {name} does not match perfbench/corpus/MD5SUMS")
    return os.path.join(CORPUS, scale)


def write_parquet_rows(rows, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "value": pa.array([r[2] for r in rows], pa.float64())}), path)


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def ingest_inputs(seed, work):
    """Inputs of the ingest and merge layers of a traced pipeline run."""
    raw = os.path.join(work, "raw")
    cfg = {"raw_expected": gen.syslog_dir(seed, raw), "raw_dir": raw,
           "raw_bytes": dir_bytes(raw), "base": os.path.join(work, "base.parquet")}
    base, cfg["batches"], cfg["batch_expected"] = gen.cdc(seed, 100000, MERGE_BATCHES)
    write_parquet_rows(base, cfg["base"])
    return cfg


def inputs(workload, seed, trace, work):
    """The run's generated inputs, as the harness config."""
    cfg = {"corpus": corpus("sf0.1")}
    if workload == "search":
        cfg["requests"] = gen.search_requests(seed, 4000)
        cfg["warm_requests"] = gen.search_requests(seed + 10**6, WARM_REQUESTS)
        cfg["min_requests"] = MIN_REQUESTS
    else:
        cfg["warm_corpus"] = corpus("sf0.001")
        cfg["paths"], cfg["memo_paths"] = PIPELINE_PATHS, MEMO_PATHS
        cfg["min_passes"] = MIN_PASSES
        if trace:
            cfg.update(ingest_inputs(seed, work))
    return cfg


# ------------------------------------------------------------------- host --

def host_sample():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal": cpu[7] if len(cpu) > 7 else 0, "total": sum(cpu), "load1": load1}


def git_rev():
    try:
        rev = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if rev.returncode != 0:
            return "none", None
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                               capture_output=True, text=True, timeout=10)
        return rev.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return "none", None


# -------------------------------------------------------------------- jvm --

def run_jvm(cp, cfg_path, work, seconds):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Harness", cfg_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env.pop("SPARK_GRAFT_CACHE_TABLES", None)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        launch = time.time()
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=logf)
        try:
            code = proc.wait(timeout=seconds + JVM_SLACK_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        fail(f"harness JVM exited with {code}")
    with open(os.path.join(work, "out.json")) as f:
        return launch, json.load(f)


# ---------------------------------------------------------------- metrics --

def pct(xs, q):
    """Linear-interpolated percentile (q in 0..100)."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q / 100 * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(workload, cfg, out, ops, launch):
    """The gated metrics plus the workload's named metrics. An operation
    is a search request or a pipeline path."""
    ok = [o for o in ops if not o.get("bad") and o["phase"] == "untraced"]
    first_op = out["first_op_epoch_ms"] / 1000.0
    m = {"setup_s": first_op - launch, "peak_rss_mb": out["metrics"]["peak_rss_mb"]}
    lat = [o["ms"] for o in ok]
    if workload == "search":
        first = [o["ms"] for o in ok if int(o["key"]) < MIN_REQUESTS]
        m["work_s"] = sum(first) / 1000.0
        served = [json.dumps(r, sort_keys=True) for r in cfg["requests"][:len(ops)]]
        named = {"search_p50_ms": pct(lat, 50), "search_p90_ms": pct(lat, 90),
                 "search_requests": len(lat),
                 "search_repeat_share": 1 - len(set(served)) / max(1, len(served))}
    else:
        # a batch user waits on the whole pass over the path list
        passes = {}
        for o in ok:
            passes[o["key"]] = passes.get(o["key"], 0.0) + o["ms"]
        m["work_s"] = statistics.median(passes.values()) / 1000.0 if passes else 0.0
        named = {"pipeline_s": m["work_s"], "pipeline_passes": len(passes)}
    m["op_p50_ms"] = pct(lat, 50)
    named["op_samples"] = len(lat)
    return m, named


def overhead(workload, out, ops):
    """Traced minus untraced, as a percentage of untraced."""
    def rel(t, u):
        return 100.0 * (t - u) / u if u else 0.0
    if workload == "pipeline":
        # the traced pass against the untraced reference pass after it
        mt = out["metrics"]
        paths = {ph: [o["ms"] for o in ops if o["cls"] in PIPELINE_PATHS
                      and o["phase"] == ph and not o.get("bad")]
                 for ph in ("traced", "reference")}
        return {"trace.overhead_pct.op_p50_ms": rel(pct(paths["traced"], 50),
                                                    pct(paths["reference"], 50)),
                "trace.overhead_pct.work_s": rel(mt.get("trace.pass_ms", 0),
                                                 mt.get("untraced.pass_ms", 0))}
    # traced requests alternate with untraced ones over the requests every
    # run serves (the first one after warm-up left out); requests of a
    # class are compared with requests of the same class
    ok = [o for o in ops if not o.get("bad") and 0 < int(o["key"]) < MIN_REQUESTS]

    def weighted(stat):
        tot = wsum = 0.0
        for cls, w in gen.SEARCH_SHARES.items():
            t = [o["ms"] for o in ok if o["cls"] == cls and o["phase"] == "traced"]
            u = [o["ms"] for o in ok if o["cls"] == cls and o["phase"] == "untraced"]
            if t and u:
                tot += w * rel(stat(t), stat(u))
                wsum += w
        return tot / wsum if wsum else 0.0
    return {"trace.overhead_pct.op_p50_ms": weighted(statistics.median),
            "trace.overhead_pct.work_s": weighted(statistics.fmean)}


def by_class(ops):
    """Per operation class: [count, median ms, failed]."""
    out = {}
    for o in ops:
        out.setdefault(o["cls"], []).append(o)
    return {c: [len(v), round(statistics.median(o["ms"] for o in v), 1),
                sum(1 for o in v if o.get("bad"))] for c, v in out.items()}


# ------------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["search", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala; "
             "run from the repository root")
    host0 = host_sample()
    cp = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cfg = inputs(a.workload, a.seed, a.trace, work)
    cfg.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
               cpus=CPUS, work=work)
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    launch, out = run_jvm(cp, cfg_path, work, a.seconds)
    ops = out["ops"]
    problems = oracle.check(a.workload, cfg, out, DATA)
    for o in ops:
        if o.get("err"):
            o["bad"] = o["err"]
    for i, why in problems.items():
        ops[i]["bad"] = why
    bad = [o for o in ops if o.get("bad")]
    attempted = len(ops)

    e2e, named = end_to_end(a.workload, cfg, out, ops, launch)
    host1 = host_sample()
    dt = host1["total"] - host0["total"]
    rev, dirty = git_rev()
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_rev": rev, "git_dirty": dirty, "source_digest": source_digest()[:12],
        "cpus": CPUS, "xmx": XMX,
        "session_conf": out["session_conf"],
        "host": {"load1_start": host0["load1"], "load1_end": host1["load1"],
                 "steal_pct": 100.0 * (host1["steal"] - host0["steal"]) / dt if dt else 0.0},
        "error_ratio": len(bad) / attempted if attempted else 0.0,
        "end_to_end": e2e, "named": named,
        "ops_by_class": by_class(ops),
    }
    if a.trace:
        layer = {k: float(out["metrics"].get(k, 0.0)) for k in PER_LAYER}
        layer.update(overhead(a.workload, out, ops))
        report["per_layer"] = layer
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for o in bad[:10]:
        log(f"perfbench: FAILED {o['cls']} #{o['key']}: {o['bad']}")
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                      "metrics": metrics}))
    sys.stdout.flush()
    if not bad:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
