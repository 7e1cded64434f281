"""``stream``: a fixed-rate file generator feeding a streaming query.

The query is ``streaming.windows.file_stream`` (one file per
micro-batch) -> ``dedup_within_watermark`` on ``event_id`` -> a
tumbling-window count and value sum, written to the JVM memory sink in
complete mode, with no-data micro-batches off. The window aggregate is
spelled out here rather than taken from ``tumbling_counts``: that
helper sets its own watermark, and Spark refuses a second watermark on
a stream ``dedup_within_watermark`` already watermarked ("Redefining
watermark is disallowed").

A generator thread writes seeded events-schema parquet files into a
staging directory and renames each into the watched directory on a
fixed schedule (open loop). Each file repeats some events of the file
before it, which the dedup stage must drop. Set-up runs a few warm-up
files through the query before the timed schedule starts.

A file's latency runs from its rename to the commit of the micro-batch
that consumed it (the file source log names the batch, the commit file
stamps its end); the schedule lag of the generator is reported too.
Afterwards the sink must equal DuckDB's dedup + window aggregate over
every generated file.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time

import pyarrow.parquet as pq

import datagen
import spans as tr

WINDOW = "5 minutes"
WATERMARK = "10 minutes"
WARMUP_FILES = 12


def _query(spark, watch_dir: str, ckpt_dir: str, name: str):
    from pyspark.sql import functions as F

    from machine_telemetry_etl_ml_pipeline_spark.streaming.windows import (
        dedup_within_watermark,
        file_stream,
    )

    # Without this, each data batch that advances the watermark is
    # followed by a no-data batch, and a file's latency depends on
    # whether it lands during one; the complete-mode output is the same.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    deduped = dedup_within_watermark(file_stream(spark, watch_dir), ["event_id"], WATERMARK)
    agg = (
        deduped.groupBy(F.window("ts", WINDOW).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )
    return (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt_dir)
        .start()
    )


class Generator(threading.Thread):
    """Writes file ``first .. first + count - 1`` on a fixed schedule,
    one every ``interval`` seconds from ``t0``; records each rename."""

    def __init__(self, ctx, stage: str, watch: str, first: int, count: int, interval: float):
        super().__init__(daemon=True)
        self.seed, self.cfg = ctx.seed, ctx.manifest["stream"]
        self.stage, self.watch = stage, watch
        self.first, self.count, self.interval = first, count, interval
        self.renamed: dict[str, float] = {}
        self.lag: list[float] = []
        self.error: BaseException | None = None
        self.t0 = 0.0

    def write(self, i: int) -> str:
        name = f"events-{i:05d}.parquet"
        pq.write_table(datagen.event_batch(self.seed, i, self.cfg["rows_per_file"], self.cfg["dup_rows"]),
                       os.path.join(self.stage, name))
        os.rename(os.path.join(self.stage, name), os.path.join(self.watch, name))
        return name

    def run(self) -> None:
        try:
            self.t0 = time.time()
            for k in range(self.count):
                due = self.t0 + k * self.interval
                time.sleep(max(0.0, due - time.time()))
                name = self.write(self.first + k)
                self.renamed[name] = time.time()
                self.lag.append(self.renamed[name] - due)
        except BaseException as exc:  # noqa: BLE001 — re-raised by the caller after join
            self.error = exc


def _batches_of(ckpt_dir: str) -> dict[str, int]:
    """file name -> id of the micro-batch that read it. The file source
    log numbers files by source offset; the offset log names the first
    micro-batch that reached each source offset."""
    source_offset = {}
    for f in glob.glob(os.path.join(ckpt_dir, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    source_offset[os.path.basename(e["path"])] = e["batchId"]
    first_batch: dict[int, int] = {}
    for f in os.listdir(os.path.join(ckpt_dir, "offsets")):
        if f.isdigit():
            with open(os.path.join(ckpt_dir, "offsets", f)) as fh:
                offset = json.loads(fh.read().splitlines()[-1])["logOffset"]
            first_batch[offset] = min(first_batch.get(offset, int(f)), int(f))
    return {name: first_batch[off] for name, off in source_offset.items()}


def _expected(watch_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT epoch_us(ts) // 300000000 * 300 AS w, count(*), sum(value) FROM "
        f"(SELECT DISTINCT * FROM read_parquet('{watch_dir}/*.parquet')) GROUP BY w"
    ).fetchall()
    con.close()
    return {w: (n, s) for w, n, s in rows}


def _progress_spans(ctx, progress: list[dict], first: int) -> None:
    """One span per micro-batch; the timed data batches are the unit."""
    from datetime import datetime

    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        ctx.tracer.record(f"batch {p['batchId']}", "streaming", start,
                          start + p["durationMs"].get("triggerExecution", 0) / 1000.0,
                          group=p["runId"], unit=p["batchId"] >= first and p["numInputRows"] > 0)


def run(ctx) -> dict:
    spark = ctx.spark
    cfg = ctx.manifest["stream"]
    stage, watch = ctx.dir("stream", "stage"), ctx.dir("stream", "in")
    ckpt_dir = os.path.join(ctx.root, "stream", "checkpoint")

    q = _query(spark, watch, ckpt_dir, "perfbench_stream")
    try:
        warm = Generator(ctx, stage, watch, 0, WARMUP_FILES, 0.0)
        warm.run()
        if warm.error:
            raise warm.error
        q.processAllAvailable()
        n_files = max(1, math.ceil(ctx.seconds / cfg["interval_s"]))
        gen = Generator(ctx, stage, watch, WARMUP_FILES, n_files, cfg["interval_s"])
        ctx.setup_done()
        gen.start()
        gen.join(ctx.seconds + 60)
        if gen.is_alive() or gen.error:
            raise RuntimeError(f"stream generator did not finish: {gen.error!r}")
        q.processAllAvailable()
        progress = [json.loads(p.json) for p in q.recentProgress]
        got = {int(r.window_start.timestamp()): (r.n, r.sum_value)
               for r in spark.table("perfbench_stream").collect()}
    finally:
        q.stop()

    batch_of = _batches_of(ckpt_dir)
    committed = {name: os.path.getmtime(os.path.join(ckpt_dir, "commits", str(batch_of[name])))
                 for name in gen.renamed}
    latencies = [committed[name] - renamed for name, renamed in gen.renamed.items()]
    # files renamed but not yet committed, seen just before each commit
    backlog = max(sum(r <= c for r in gen.renamed.values()) - sum(d < c for d in committed.values())
                  for c in committed.values())
    want = _expected(watch)
    wrong = sorted(w for w in set(want) | set(got)
                   if w not in got or w not in want or got[w][0] != want[w][0]
                   or not math.isclose(got[w][1], want[w][1], rel_tol=1e-12))
    if wrong:
        print(f"perfbench: {len(wrong)} stream windows differ from the oracle")

    first = min(batch_of[name] for name in gen.renamed)
    _progress_spans(ctx, progress, first)
    data = [p for p in progress if p["batchId"] >= first and p["numInputRows"] > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) / 1000.0 for p in data]  # noqa: E731
    state = [p["stateOperators"] for p in progress][-1]
    rows = sum(p["numInputRows"] for p in data)
    tail, pct, n = tr.tail(latencies)
    counts = {"streaming.batches": len(data)}
    return {
        "attempted": 1 + len(gen.renamed),
        "failed": int(bool(wrong)),
        "e2e": {
            "op_p50_s": tr.p50(latencies),
            "ops_per_s": rows / (max(committed.values()) - gen.t0),
        },
        "report": {
            "event_latency_p50_s": tr.p50(latencies),
            "event_latency_tail_s": tail,
            "event_latency_tail_percentile": pct,
            "files": n,
            "interval_s": cfg["interval_s"],
            "generator_lag_max_s": max(gen.lag),
            "windows_checked": len(want),
        },
        "counts": counts,
        "layer": {
            **counts,
            "streaming.trigger_execution_p50_s": tr.p50(dur("triggerExecution")),
            "streaming.add_batch_p50_s": tr.p50(dur("addBatch")),
            "streaming.query_planning_p50_s": tr.p50(dur("queryPlanning")),
            "streaming.wal_commit_p50_s": tr.p50(dur("walCommit")),
            "streaming.state_rows": sum(s["numRowsTotal"] for s in state),
            "streaming.state_bytes": sum(s["memoryUsedBytes"] for s in state),
            "streaming.backlog_files": backlog,
            "sources.files_in_table": tr.count_files(watch, ".parquet"),
        },
    }
