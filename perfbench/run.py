"""The benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload cdc_upsert_delta --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the engine and the benchmark
from source (perfbench/build.py), generates the workload's inputs from
the seed, starts the JVM program directly, checks the outputs against a
reference computation (perfbench/reference.py) and prints one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The full record of the run, with raw samples, sample counts,
spans and the co-tenancy label, goes to .bench_build/records/.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import inputs  # noqa: E402
import reference  # noqa: E402

WORKLOADS = ("cdc_upsert_delta", "pg_backfill_sql")
OUT = build.OUT
ORDERS = 150_000          # rows of the orders snapshot (sf0.1)
PER_BATCH = 1000          # change events per micro-batch
PG_ORDERS = 20_000        # orders whose lines the backfill inserts (~80k rows)
ORDERS_SEED = 19920101    # the orders snapshot is the same for every seed
FIXTURE_SEED = 20261017   # inputs of the fixture run
FIXTURE_BATCHES = 4       # micro-batches the fixture run drains
SETUP_REPS = 3            # set-ups per run; setup_s is their median
BUSY = 0.25               # other_busy above this flags the run as busy
BUSY_STEAL = 0.1          # so does steal above this
JAVA_TIMEOUT_S = 165      # a run's JVM, after the build
FIXTURE_TIMEOUT_S = 300   # the fixture run
CDS_ARCHIVE = os.path.join(OUT, "classes.jsa")
MIN_OPS = {"cdc_upsert_delta": 16, "pg_backfill_sql": 6}
CDC_WARM_BATCHES = 10     # untimed micro-batches between the set-up batch and the measured ones
PG_WARMUP_PASSES = 4      # untimed pg passes before the measured window
PREFIX_REPS = 4           # one per rotation of the four pg prefix cuts; log replays of a traced cdc run
POINT_READS = 8           # seeded point reads whose pruning a traced cdc run records

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """A quarter of MemTotal, between 2 and 6 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(6, kb // (4 * 1024 * 1024)))


def pct(xs, p):
    """Linear-interpolated percentile (numpy's default)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def metric(value, unit, samples):
    return {"value": value, "unit": unit, "samples": samples}


# ---------------------------------------------------------------- inputs

def snapshot():
    """The orders snapshot (parquet) and the Delta table the engine
    writes from it; both are made once per checkout."""
    d = os.path.abspath(os.path.join(OUT, "snapshot"))
    os.makedirs(d, exist_ok=True)
    return {"orders": inputs.orders_snapshot(os.path.join(d, "orders.parquet"), ORDERS_SEED, ORDERS),
            "snapshot": os.path.join(d, "table")}


def fixtures(classpath, stamp):
    """Made once per build by the first run, whatever its workload: the
    orders snapshot table and the JVM class-data archive that later runs
    start from. A short run of the cdc_upsert_delta pipeline on inputs
    from a fixed seed writes the table and, as it exits, the archive."""
    stamp_file = os.path.join(OUT, "fixtures.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(os.path.join(OUT, "snapshot"), ignore_errors=True)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.abspath(os.path.join(OUT, "fixture"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    paths = dict(snapshot(), **inputs.cdc_inputs(FIXTURE_SEED, work, ORDERS, FIXTURE_BATCHES, PER_BATCH))
    spec = dict(base_spec("fixture", "fixture", 0, work), inputs=paths)
    run_java(classpath, spec, work, time.time() + FIXTURE_TIMEOUT_S, dump=True)
    shutil.rmtree(work)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def make_inputs(args, work):
    paths = snapshot()
    if args.workload == "cdc_upsert_delta":
        # the set-up batch, the warm-up batches, then the measured backlog
        batches = 1 + CDC_WARM_BATCHES + MIN_OPS[args.workload]
        paths.update(inputs.cdc_inputs(args.seed, work, ORDERS, batches, PER_BATCH))
        return paths, {"batches": batches}
    pg, events = inputs.pg_inputs(args.seed, work, paths["orders"], PG_ORDERS)
    paths.update(pg)
    return paths, {"events": events}


def base_spec(workload, run_id, trace, work):
    return {"workload": workload, "run_id": run_id, "seconds": 0.0, "trace": bool(trace),
            "cores": cores(), "setup_reps": SETUP_REPS,
            "min_ops": MIN_OPS.get(workload, 1), "warmup_passes": PG_WARMUP_PASSES,
            "first_measured_batch": 1 + CDC_WARM_BATCHES, "prefix_reps": PREFIX_REPS,
            "work_dir": work}


def run_java(classpath, spec, wd, deadline, dump=False):
    """Runs the JVM program on `spec` in work directory `wd`; returns its
    raw record. With `dump` the JVM writes the class-data archive at
    exit; otherwise it starts from the archive when there is one."""
    spec_path = os.path.join(wd, "spec.json")
    record_path = os.path.join(wd, "raw.json")
    log_path = os.path.join(wd, "jvm.log")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(wd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap_gb()}g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(wd, 'warehouse')}",
            f"-Dderby.stream.error.file={os.path.join(wd, 'derby.log')}",
            f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}"]
           + ([f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"] if dump else
              [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else [])
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main", spec_path, record_path])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"benchmark JVM timed out; log: {log_path}")
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {rc}; log {log_path}:\n{tail}")
    with open(record_path) as f:
        return json.load(f)


# --------------------------------------------------------------- metrics

def span_s(raw, name):
    return [(s["end_ns"] - s["start_ns"]) / 1e9 for s in raw.get("spans", []) if s["name"] == name]


def med(xs):
    return statistics.median(xs) if xs else 0.0


class Ops:
    """The operations of a run's measured window: per-op latency (ms),
    the work they did (events or reads) and the wall time they took (s)."""

    def __init__(self, w, raw, extra):
        if w == "cdc_upsert_delta":
            # batch 0 is the set-up batch, the warm-up batches follow it
            self.batches = [b for b in raw["measured.batches"] if b["batch"] >= 1 + CDC_WARM_BATCHES]
            b0, b1 = self.batches[0], self.batches[-1]
            self.latency = [b["duration_ms"]["triggerExecution"] for b in self.batches]
            self.work = sum(b["rows"] for b in self.batches)
            self.wall = (b1["start_ms"] + b1["duration_ms"]["triggerExecution"] - b0["start_ms"]) / 1e3
        else:
            self.latency = raw["measured.latency_ms"]
            self.work = extra["events"] * len(self.latency)
            self.wall = sum(self.latency) / 1e3
        self.n = len(self.latency)
        self.throughput = self.work / self.wall


def e2e_metrics(ops, raw):
    return {
        "setup_s": metric(statistics.median(raw["setup_s"]), "s", len(raw["setup_s"])),
        "throughput_ops_s": metric(ops.throughput, "1/s", ops.n),
        "latency_p50_ms": metric(pct(ops.latency, 50), "ms", ops.n),
        "latency_p90_ms": metric(pct(ops.latency, 90), "ms", ops.n),
    }


def layer_metrics(w, raw, ops, baseline):
    """Per-layer metrics of a traced run; 0 for a layer the workload
    does not run. `baseline` is the untraced throughput, or None when
    there is none yet (trace.overhead_frac is then 0)."""
    m = {}
    n = ops.n
    if w == "cdc_upsert_delta":
        def phase(*names):
            return [sum(b["duration_ms"].get(k, 0) for k in names) for b in ops.batches]
        parts = {"sources.offsets_ms": phase("latestOffset", "getBatch"),
                 "sql.planning_ms": phase("queryPlanning"),
                 "sinks.commit_ms": phase("addBatch"),
                 "streaming.checkpoint_ms": phase("walCommit", "commitOffsets")}
        for k, v in parts.items():
            m[k] = (med(v), n)
        # the four phases against the micro-batch trigger time
        m["trace.parts_frac"] = (sum(map(sum, parts.values())) / sum(ops.latency), n)
        ex = raw["measured.exec"]  # micro-batches 1 and later
        m["sinks.jobs_per_commit"] = (ex["jobs"] / n, n)
        m["sinks.tasks_per_commit"] = (ex["tasks"] / n, n)
        log = reference.DeltaLog(raw["measured.table"])
        stats = [log.commit_stats(v) for v in range(log.latest - n + 1, log.latest + 1)]
        m["sinks.files_rewritten_per_commit"] = (med([s[0] for s in stats]), n)
        m["sinks.write_amplification"] = (sum(s[1] for s in stats) / ops.work, n)
        snap = raw["snapshot_ms"]
        m["sources.snapshot_ms"] = (med(snap), len(snap))
        pf = raw["point_files"]
        m["sources.files_read_per_read"] = (med([p["read"] for p in pf]), len(pf))
        m["sources.prune_ratio"] = (sum(p["read"] for p in pf) / max(1, sum(p["live"] for p in pf)),
                                    len(pf))
    if w == "pg_backfill_sql":
        pre = {k: med(span_s(raw, f"prefix.{k}")) for k in ("registry", "decode", "apply", "pass")}
        analyze = med(span_s(raw, "sql.analyze"))
        k = len(span_s(raw, "prefix.pass"))
        m["cdc.registry_s"] = (pre["registry"], k)
        m["cdc.decode_s"] = (pre["decode"] - pre["registry"], k)
        m["cdc.apply_s"] = (pre["apply"] - pre["decode"], k)
        m["sql.analyze_s"] = (analyze, k)
        m["sql.exec_s"] = (pre["pass"] - pre["apply"] - analyze, k)
        # the prefix-cut parts sum to the last prefix: set it against the
        # plain pass run right before it
        m["trace.parts_frac"] = (med([a / b for a, b in zip(span_s(raw, "prefix.pass"),
                                                            span_s(raw, "pass"))]), k)
        one = raw["one_core.latency_ms"]
        m["exec.speedup_vs_1core"] = (one[0] / pct(ops.latency, 50), len(one))
    sc = span_s(raw, "session.create")
    m["session.create_s"] = (med(sc), len(sc))
    ab = span_s(raw, "app.build")
    m["app.build_s"] = (med(ab), len(ab))
    ex = raw["measured.exec"]
    mb = 1024.0 * 1024.0
    for name, key, scale in [
            ("exec.jobs", "jobs", 1), ("exec.stages", "stages", 1), ("exec.tasks", "tasks", 1),
            ("exec.cpu_s", "cpu_ns", 1e9), ("exec.run_s", "run_ms", 1e3), ("exec.gc_s", "gc_ms", 1e3),
            ("exec.shuffle_write_mb", "shuffle_write", mb), ("exec.shuffle_read_mb", "shuffle_read", mb),
            ("exec.input_mb", "input", mb), ("exec.output_mb", "output", mb)]:
        m[name] = (ex[key] / scale / n, n)
    m["exec.busy_frac"] = (ex["cpu_ns"] / 1e9 / (ops.wall * raw["cores"]), n)
    if baseline:
        m["trace.overhead_frac"] = (1.0 - ops.throughput / baseline, n)
    m["mem.peak_rss_mb"] = (raw["peak_rss_mb"], 1)
    label = raw["measured.window"]
    for k in ("other_busy", "steal", "loadavg1"):
        m[f"host.{k}"] = (label[k], 1)
    out = {}
    for name, unit in layer_units():
        value, samples = m.get(name, (0.0, 0))
        out[name] = metric(value, unit, samples)
    return out


def layer_units():
    """(name, unit) of each per-layer metric, as BENCHMARK.json lists them."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def untraced_baseline(w, seconds):
    """Median untraced throughput of the quiet runs of `w` recorded in
    this checkout, or None."""
    vals = []
    for p in glob.glob(os.path.join(OUT, "records", f"{w}-*.json")):
        with open(p) as f:
            r = json.load(f)
        if not r["trace"] and r["seconds"] == seconds and r["correct"] and not r["busy"]:
            vals.append(r["end_to_end"]["throughput_ops_s"]["value"])
    return statistics.median(vals) if vals else None


# ----------------------------------------------------------------- check

def check(w, raw, paths, extra):
    """(ops attempted, ops failed, reason). A mismatch fails every op."""
    if w == "cdc_upsert_delta":
        ok, why = reference.check_cdc(paths, raw["measured.table"], PER_BATCH, extra["batches"])
    else:
        ok, why = reference.check_pg(paths, raw["result"])
    n = Ops(w, raw, extra).n
    return n, (0 if ok else n), why


# ------------------------------------------------------------------ main

def run_once(args, classpath, trace, deadline, baseline=None):
    """Runs the workload once; returns the run's record, which is also
    written to .bench_build/records/."""
    w = args.workload
    run_id = f"{w}-s{args.seed}-t{trace}-{int(time.time())}"
    work = os.path.abspath(os.path.join(OUT, "work", w))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    paths, extra = make_inputs(args, work)
    gen_s = time.time() - t0
    spec = dict(base_spec(w, run_id, trace, work), seconds=args.seconds, inputs=paths,
                point_reads=inputs.point_reads(args.seed, ORDERS, POINT_READS))
    raw = run_java(classpath, spec, work, deadline)
    raw["cores"] = cores()
    attempted, failed, why = check(w, raw, paths, extra)
    ops = Ops(w, raw, extra)
    e2e = e2e_metrics(ops, raw)
    label = raw["measured.window"]
    record = {"run_id": run_id, "workload": w, "seed": args.seed, "seconds": args.seconds,
              "trace": trace, "cores": cores(), "heap_gb": heap_gb(),
              "correct": failed == 0, "attempted": attempted, "failed": failed,
              "failed_frac": failed / attempted, "why": why,
              "input_gen_s": gen_s, "fixture_s": raw.get("fixture_s", 0.0),
              "window": label, "busy": label["other_busy"] > BUSY or label["steal"] > BUSY_STEAL,
              "latency_ms": ops.latency, "setup_reps_s": raw["setup_s"],
              "peak_rss_mb": raw["peak_rss_mb"], "end_to_end": e2e,
              "per_layer": layer_metrics(w, raw, ops, baseline) if trace else None,
              "spans": raw.get("spans", [])}
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    with open(os.path.join(OUT, "records", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if record["busy"]:
        print(f"perfbench: busy host during the run (other_busy {label['other_busy']:.2f}, "
              f"steal {label['steal']:.2f}, loadavg1 {label['loadavg1']:.2f})", file=sys.stderr)
    if failed:
        print(f"perfbench: {w}: {why}", file=sys.stderr)
    return record


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classpath, stamp = build.build()
        fixtures(classpath, stamp)
    except (build.BuildError, OSError) as e:
        sys.exit(f"perfbench: {e}")
    deadline = time.time() + JAVA_TIMEOUT_S
    # tracing overhead is measured against the untraced runs of this checkout
    baseline = untraced_baseline(args.workload, args.seconds) if args.trace else None
    record = run_once(args, classpath, args.trace, deadline, baseline)
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"],
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                                  for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
