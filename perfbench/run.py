"""The repository benchmark: one command per workload, run from the
root of a checkout.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Workloads (``perfbench/manifest.json`` records why each was chosen and
which layer metric should move which end-to-end metric):

- ``headline``: registry entries through the noop sink, closed loop.
- ``telemetry_app``: TelemetryEngine reads and writes, closed loop.
- ``stream``: a fixed-rate file generator feeding a streaming query.

Every run starts from an empty scratch root, ``.perfbench_run/`` in the
checkout (Spark local dirs, warehouse, temp files, event log, generated
data, stream checkpoints). Inputs come from ``--seed``. Answers are
checked against DuckDB outside the timed window. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is a report with the
workload's own figures (sample counts, tail percentiles, counter
repeatability, tracing overhead).

A traced run turns on Spark's event log, keeps spans in memory and
writes them to ``.perfbench_results/`` at exit, next to each run's
report and its counters.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "machine_telemetry_etl_ml_pipeline_spark"
WORKLOADS = ("headline", "telemetry_app", "stream")
DRIVER_MEMORY = "3g"
INITIAL_HEAP = "1g"

sys.path.insert(0, HERE)

import spans as tr  # noqa: E402

with open(os.path.join(HERE, "manifest.json")) as _fh:
    MANIFEST = json.load(_fh)


class Context:
    """What a workload gets: the session, the tracer, its scratch
    directories, the seed and the measuring time."""

    def __init__(self, args, spark, tracer, root):
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.manifest = MANIFEST
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = cpu_count()
        self.setup_end: float | None = None

    def dir(self, *parts) -> str:
        """A new directory under the scratch root."""
        d = os.path.join(self.root, *parts)
        os.makedirs(d)
        return d

    def job_counts(self, groups) -> dict:
        """Jobs, stages and tasks Spark ran under the given job groups,
        from the status tracker (no event log needed)."""
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    sinfo = st.getStageInfo(sid)
                    if sinfo is not None and sinfo.numCompletedTasks > 0:
                        stages += 1
                        tasks += sinfo.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def setup_done(self, exclude: float = 0.0) -> None:
        """Called right before the first timed operation; ``exclude`` is
        time spent in set-up on an operation timed on its own."""
        self.setup_end = time.time() - exclude


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_root(checkout: str, trace: bool) -> str:
    """Wipe and recreate the run's scratch root and point every place
    Spark, the JVM and Python write to into it."""
    root = os.path.join(checkout, ".perfbench_run")
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "conf", "eventlog"):
        os.makedirs(os.path.join(root, d))
    conf = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": (f"-Xms{INITIAL_HEAP} -Djava.io.tmpdir={root}/tmp"
                                          f" -Dderby.system.home={root}/tmp"),
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": os.path.join(root, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    with open(os.path.join(root, "conf", "spark-defaults.conf"), "w") as fh:
        for k, v in conf.items():
            fh.write(f"{k} {v}\n")
    os.environ.update(
        {
            "SPARK_CONF_DIR": os.path.join(root, "conf"),
            "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
            "TMPDIR": os.path.join(root, "tmp"),
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        }
    )
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    return root


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_jvm(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    proc = SparkContext._gateway.proc
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def layer_metrics(ctx: Context, res: dict, parsed: dict | None, names) -> dict:
    """Per-layer metrics over the workload's counting unit: the spans it
    marked ``unit``, everything below them, and the Spark jobs those
    spans launched (from the event log)."""
    out = {k: 0.0 for k in names}
    out.update(res["layer"])
    if parsed is None:
        return out
    from eventlog import totals

    t = ctx.tracer
    t.add_jobs(parsed["jobs"])
    units = [s for s in t.spans if s.get("unit")]
    inside = tr.subtree(t.spans, units)
    job_ids = {s["job_id"] for s in inside if "job_id" in s}
    tot = totals({"jobs": [j for j in parsed["jobs"] if j["job_id"] in job_ids],
                  "stages": parsed["stages"]})
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "stage_skew"):
        out[f"exec.{k}"] = tot[k]
    out["ckpt.jobs"] = tot["ckpt_jobs"]
    out["ckpt.job_s"] = tot["ckpt_job_s"]
    out["sources.input_bytes"] = tot["input_bytes"]
    out["sources.scan_tasks"] = tot["scan_tasks"]
    by_id = {s["id"]: s for s in t.spans}
    out["registry.build_jobs"] = sum(1 for s in inside if "job_id" in s
                                     and by_id[s["parent"]]["name"].startswith("build "))
    gap = 0.0
    for u in units:
        jobs = [(max(s["start"], u["start"]), min(s["end"], u["end"]))
                for s in tr.subtree(t.spans, [u]) if "job_id" in s]
        gap += u["end"] - u["start"] - tr.union_length(jobs)
    out["exec.driver_gap_s"] = gap
    for layer, v in tr.self_times(inside).items():
        if f"self.{layer}_s" in out:
            out[f"self.{layer}_s"] = v
    return out


def counts_check(results_dir: str, workload: str, seed: int, counts: dict) -> dict:
    """Compare this run's counters with the first run recorded for the
    same workload and seed. Returns {name: [first, now]} for each
    counter that did not repeat."""
    path = os.path.join(results_dir, f"counts-{workload}-seed{seed}.json")
    if not os.path.exists(path):
        with open(path, "w") as fh:
            json.dump(counts, fh)
        return {}
    with open(path) as fh:
        first = json.load(fh)
    return {k: [first.get(k), v] for k, v in counts.items() if first.get(k) != v}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    checkout = os.getcwd()
    if not (os.path.isdir(os.path.join(checkout, PACKAGE)) and
            os.path.isfile(os.path.join(checkout, "__spark_entry__.py"))):
        print(f"perfbench: run from a checkout root; {PACKAGE}/ not found in {checkout}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    root = prepare_root(checkout, bool(args.trace))
    results_dir = os.path.join(checkout, ".perfbench_results")
    os.makedirs(results_dir, exist_ok=True)

    t0 = time.time()
    from machine_telemetry_etl_ml_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tr.Tracer(spark.sparkContext, keep=bool(args.trace))
    tracer.record("get_spark", "session", t0, time.time())
    ctx = Context(args, spark, tracer, root)

    workload = importlib.import_module(args.workload)
    try:
        res = workload.run(ctx)
        rss = jvm_peak_rss_mb(spark)
    finally:
        stop_jvm(spark)

    e2e = dict(res["e2e"])
    e2e["setup_s"] = ctx.setup_end - PROCESS_START
    e2e["jvm_peak_rss_mb"] = rss
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cpus": ctx.cpus, "master": f"local[{ctx.cpus}]",
              **{k: round(v, 6) for k, v in e2e.items()}, **res["report"]}
    report["failed_frac"] = res["failed"] / res["attempted"]
    report["counts"] = res["counts"]
    report["counts_not_repeated"] = counts_check(results_dir, args.workload, args.seed, res["counts"])

    untraced_path = os.path.join(results_dir, f"e2e-{args.workload}-seed{args.seed}.json")
    if args.trace:
        from eventlog import parse

        log_dir = os.path.join(root, "eventlog")
        logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        parsed = parse(logs[0]) if logs else None
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics = layer_metrics(ctx, res, parsed, units)
        metrics["session.get_spark_s"] = tracer.total("session")
        metrics["trace.op_p50_s"] = e2e["op_p50_s"]
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                base = json.load(fh)["op_p50_s"]
            report["trace_overhead_frac"] = e2e["op_p50_s"] / base - 1.0
        report["self_s"] = {k[5:-2]: v for k, v in metrics.items() if k.startswith("self.")}
        tracer.dump(os.path.join(results_dir, f"trace-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = e2e
        with open(untraced_path, "w") as fh:
            json.dump(e2e, fh)
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"workload did not produce {sorted(missing)}")
    with open(os.path.join(results_dir, f"report-{args.workload}-seed{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
