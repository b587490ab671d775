#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM; prints every metric.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM program from source (sbt, offline) and generates the input
tables; later runs reuse both while the sources are unchanged. All
build output, data and per-run scratch space stays under `.perfbench/`
and `perfbench/target/` in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402

# workload -> the fewest timed passes a run makes; the metrics are
# medians over them
MIN_PASSES = {"queries": 2, "index_rw": 3}
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile graft and perfbench/src once per source state; return the classpath."""
    src = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt")]
    stamp = tree_hash(src)
    out = os.path.join(state, "build")
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark (sbt, offline)")
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           text=True, timeout=840, start_new_session=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def dataset(state):
    out = os.path.join(state, "data")
    sp = os.path.join(out, "_stamp.json")
    if os.path.exists(sp):
        have = json.load(open(sp))
        if have.get("format") == datagen.FORMAT:
            return out, have
    log("generating tables")
    datagen.write(out)
    return out, json.load(open(sp))


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # a fixed, pre-touched heap: peak RSS is then heap plus off-heap
           # memory, not an echo of how far GC heuristics grew the heap
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args)
    launched = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # also on SIGTERM or ^C: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        sys.stderr.write(tail)
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}", 1)
    return launched


# ---- correctness ----------------------------------------------------------

def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(data_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def compare(got, exp):
    """The engine's oracle rules: column-name sort, row sort, exact values."""
    import pandas as pd
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    gs = g.sort_values(by=list(g.columns), na_position="first").reset_index(drop=True)
    es = e.sort_values(by=list(e.columns), na_position="first").reset_index(drop=True)
    for c in g.columns:
        try:
            pd.testing.assert_series_equal(gs[c], es[c], check_dtype=False,
                                           check_exact=True, check_names=False)
        except AssertionError:
            return f"column {c} differs"
    return None


def check_queries(out, data_dir, stamp, state):
    """Per-key verdicts for the warm pass's result dumps."""
    import glob
    import pandas as pd
    expected_rows = json.load(open(os.path.join(HERE, "expected_rows.json")))
    oracles = out["oracles"]
    cache = os.path.join(state, "expected")
    os.makedirs(cache, exist_ok=True)
    con = None
    verdicts = {}
    for op in out["warm"]["ops"]:
        key = op["name"]
        if not op["ok"]:
            verdicts[key] = "query failed: " + op.get("error", "")
            continue
        files = glob.glob(os.path.join(out["check_dir"], key, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if key not in oracles:
            want = expected_rows.get(f"{stamp['format']}/{key}")
            verdicts[key] = None if want == len(got) else f"rows {len(got)} != expected {want}"
            continue
        sql = oracles[key]
        h = hashlib.sha256(json.dumps([stamp["format"], sql]).encode()).hexdigest()
        pk = os.path.join(cache, h + ".pkl")
        if os.path.exists(pk):
            exp = pd.read_pickle(pk)
        else:
            con = con or duck(data_dir)
            exp = con.sql(sql).df()
            exp.to_pickle(pk)
        verdicts[key] = compare(got, exp)
    return verdicts


# ---- metrics --------------------------------------------------------------

def tail(xs):
    """The highest percentile with at least ten samples above it, as
    (percentile, value), or None while there are too few samples for any
    percentile above the median."""
    s = sorted(xs)
    rank = len(s) - 10
    if rank < len(s) / 2:
        return None
    return round(100.0 * rank / len(s), 1), s[rank - 1]


def union_ms(intervals, lo, hi):
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def end_to_end(out, launched):
    passes = out["passes"]
    reads = {}
    for p in passes:
        for op in p["ops"]:
            if op["kind"] == "read":
                reads.setdefault(op["name"], []).append(op["wall_s"])
    # every read key moves this: a plain median over all samples would
    # sit on whichever one or two keys hold the middle ranks
    per_key = [statistics.median(v) for v in reads.values()]
    warm_ops = sum(op["wall_s"] for op in out["warm"]["ops"])
    setup = out["session_ready_epoch_ms"] / 1e3 - launched + warm_ops
    # the heap is fixed and pre-touched, so VmHWM holds all of it; count
    # the off-heap peak plus the heap the program still holds at the end
    memory = out["vm_hwm_mb"] - out["heap_committed_mb"] + out["heap_live_mb"]
    samples = [x for v in reads.values() for x in v]
    return {
        "setup_s": (setup, "s"),
        "run_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "read_s": (statistics.geometric_mean(per_key), "s"),
        "memory_mb": (memory, "MB"),
    }, {"reads": len(samples), "read_keys": len(per_key), "read_tail_s": tail(samples),
        "passes": len(passes), "vm_hwm_mb": out["vm_hwm_mb"], "heap_live_mb": out["heap_live_mb"]}


def per_layer(out, cpus, litter, stamp):
    spans = {s["id"]: s for s in out["spans"]}
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)
    traced = [p for p in out["passes"] if p["traced"]]
    n = len(traced)
    # each traced pass against the untraced pass just before it
    before = {p["pass"] + 1: p["wall_s"] for p in out["passes"] if not p["traced"]}
    overhead = statistics.median(p["wall_s"] / before[p["pass"]] for p in traced) - 1
    phases = [s for s in spans.values() if s["kind"] == "phase"]

    def jobs_of(ph):
        return [j for j in kids.get(ph["id"], []) if j["kind"] == "job"]

    def stages_of(ph):
        return [st for j in jobs_of(ph) for st in kids.get(j["id"], []) if st["kind"] == "stage"]

    def dur(s):
        return (s["end"] - s["start"]) / 1e3

    def job_ms(ph):
        return union_ms([(j["start"], j["end"]) for j in jobs_of(ph)], ph["start"], ph["end"])

    def is_schema(j):
        return "DataFrameReader" in j["attrs"].get("api", "")

    by = {name: [p for p in phases if p["name"] == name]
          for name in ("construct", "plan", "execute", "tables")}
    ex = by["execute"]
    ex_stages = [st for p in ex for st in stages_of(p)]

    def st_sum(key, stages=ex_stages):
        return sum(st["attrs"].get(key, 0.0) for st in stages)

    ex_s = sum(dur(p) for p in ex)
    n_stages = len(ex_stages)
    ops = [op for p in traced for op in p["ops"]]
    finish = [op for p in out["finish"] for op in p["ops"]]
    def ops_named(*names):
        return [op for op in ops if op["name"] in names]

    probes = ops_named("ann_query", "bm25_search")
    # the execute phases of the probes in the traced passes
    probe_phase = [p for p in ex if spans[p["parent"]]["name"] in ("ann_query", "bm25_search")]
    probe_stages = [st for p in probe_phase for st in stages_of(p)]
    cold = [op["wall_s"] for op in probes if op.get("cold")]
    warm = [op["wall_s"] for op in probes if not op.get("cold")]
    offered = sum(op.get("offered", 0) for op in ops)
    all_jobs = [s for s in spans.values() if s["kind"] == "job"]
    m = {
        "session.build_s": (out["session_build_s"], "s"),
        "setup.warm_pass_s": (sum(op["wall_s"] for op in out["warm"]["ops"]), "s"),
        "setup.datagen_s": (stamp.get("gen_s", 0.0), "s"),
        "tables.resolve_s": (sum(dur(p) for p in by["tables"]) / n, "s"),
        "tables.schema_jobs": (sum(len(jobs_of(p)) for p in by["tables"]) / n, "count"),
        "sql.front_s": (sum(op["phases"].get("construct", 0.0)
                            for op in ops_named("q_sql_frontend")) / n, "s"),
        "construct.s": (sum(dur(p) for p in by["construct"]) / n, "s"),
        "construct.self_s": (sum(dur(p) - job_ms(p) / 1e3 for p in by["construct"]) / n, "s"),
        "construct.jobs": (sum(len(jobs_of(p)) for p in by["construct"]) / n, "count"),
        "construct.schema_jobs": (sum(1 for p in by["construct"] for j in jobs_of(p)
                                      if is_schema(j)) / n, "count"),
        "plan.s": (sum(dur(p) for p in by["plan"]) / n, "s"),
        "execute.s": (ex_s / n, "s"),
        "execute.jobs": (sum(len(jobs_of(p)) for p in ex) / n, "count"),
        "execute.stages": (n_stages / n, "count"),
        "execute.tasks": (st_sum("tasks") / n, "count"),
        "execute.tasks_per_stage": (st_sum("tasks") / max(1, n_stages), "count"),
        "execute.busy_core_frac": (st_sum("run_s") / (ex_s * cpus) if ex_s else 0.0, "ratio"),
        "execute.cpu_s": (st_sum("cpu_s") / n, "s"),
        "execute.gc_s": (st_sum("gc_s") / n, "s"),
        "execute.scheduler_delay_s": (st_sum("scheduler_delay_s") / n, "s"),
        "execute.driver_gap_s": (sum(dur(p) - job_ms(p) / 1e3 for p in ex) / n, "s"),
        "execute.input_bytes": (st_sum("input_bytes") / n, "B"),
        "execute.shuffle_write_bytes": (st_sum("shuffle_write_bytes") / n, "B"),
        "execute.shuffle_read_bytes": (st_sum("shuffle_read_bytes") / n, "B"),
        "execute.spill_bytes": (st_sum("spill_bytes") / n, "B"),
        "execute.task_failures": (st_sum("task_failures") / n, "count"),
        "lineage.checkpoint_jobs": (sum(j["attrs"].get("checkpoint", 0.0)
                                        for j in all_jobs) / n, "count"),
        "storage.mem_mb_after_op": (max([op.get("storage_mb", 0.0) for op in ops] or [0.0]), "MB"),
        "disk.litter_bytes": (litter, "B"),
        "index.write_s": (sum(op["wall_s"] for op in ops if op["kind"] == "write") / n, "s"),
        "index.build_s": (sum(op["wall_s"] for op in out["warm"]["ops"]
                               if op["name"].endswith("_build")), "s"),
        "index.append_s": (sum(op["wall_s"] for op in ops if op["name"].endswith("_append")) / n, "s"),
        "index.ingest_s": (sum(op["wall_s"] for op in ops if op["name"].endswith("_ingest")) / n, "s"),
        "index.compact_s": (sum(op["wall_s"] for op in finish if op["name"].endswith("_compact")), "s"),
        "index.vacuum_s": (sum(op["wall_s"] for op in finish if op["name"].endswith("_vacuum")), "s"),
        "index.files": (out["index_files"], "count"),
        "index.bytes": (out["index_bytes"], "B"),
        "index.bytes_per_input_byte": (out["index_bytes"] / out["index_input_bytes"]
                                       if out["index_input_bytes"] else 0.0, "ratio"),
        "index.probe_cold_s": (statistics.median(cold) if cold else 0.0, "s"),
        "index.probe_warm_s": (statistics.median(warm) if warm else 0.0, "s"),
        "index.probe_input_bytes": (st_sum("input_bytes", probe_stages) / max(1, len(probes)), "B"),
        "index.probe_useful_ratio": (sum(op.get("rows", 0) for op in probes) /
                                     st_sum("input_records", probe_stages)
                                     if st_sum("input_records", probe_stages) else 0.0, "ratio"),
        "index.admit_ratio": (sum(op.get("admitted", 0) for op in ops) / offered
                              if offered else 0.0, "ratio"),
        "trace.overhead_frac": (overhead, "ratio"),
    }
    return m


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if a.workload not in MIN_PASSES:
        fail(f"unknown workload {a.workload}; one of {', '.join(MIN_PASSES)}")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    state = os.path.join(root, ".perfbench")
    cp = build(root, state)
    data_dir, stamp = dataset(state)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(state, "runs", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(run_dir)
    out_file = os.path.join(run_dir, "out.json")
    try:
        launched = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds),
                                "--min-passes", str(MIN_PASSES[a.workload]), "--trace", str(a.trace),
                                "--data", data_dir, "--work", run_dir,
                                "--cpus", str(cpus), "--out", out_file], run_dir)
        out = json.load(open(out_file))
        out["check_dir"] = os.path.join(run_dir, "check")
        verdicts = (check_queries(out, data_dir, stamp, state)
                    if a.workload != "index_rw" else {})
        # temp, checkpoint and index bytes the run left behind
        litter = sum(dir_bytes(os.path.join(run_dir, d))
                     for d in ("tmp", "local", "ckpt", "index"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ops = [op for p in [out["warm"]] + out["passes"] + out["finish"] for op in p["ops"]]
    bad_ops = [op for op in ops if not op["ok"]]
    bad_checks = [c for c in out["checks"] if not c["ok"]] + \
                 [k for k, v in verdicts.items() if v is not None]
    attempted = len(ops) + len(out["checks"]) + len(verdicts)
    failed = len(bad_ops) + len(bad_checks)
    for k, v in verdicts.items():
        if v is not None:
            log(f"MISMATCH {k}: {v}")
    for c in out["checks"]:
        if not c["ok"]:
            log(f"CHECK FAILED {c}")
    e2e, info = end_to_end(out, launched)
    metrics = per_layer(out, cpus, litter, stamp) if a.trace else e2e
    info.update({"workload": a.workload, "seed": a.seed, "cpus": cpus,
                 "failed_frac": failed / attempted, "checks": len(out["checks"]) + len(verdicts),
                 "recall": {c["check"]: c["value"] for c in out["checks"] if "recall" in c["check"]}})
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
