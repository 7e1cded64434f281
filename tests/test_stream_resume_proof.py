"""availableNow multi-batch checkpoint-resume proof at sf0.1
(VERDICT r10 item 6, carried from r9 item 7).

The registered entry `stream_checkpoint_resume` proves RESULT-level
exactly-once (final compacted state == the batch oracle) but cannot
discriminate "resumed from the recorded offsets" vs "ignored the
checkpoint and reprocessed everything" — a restart that re-read all
files would land on the same final aggregate. This test adds the
OFFSET-LOG-level property the entry can't express, at sf0.1 (the
full 100k-row events table, not the entry's user_id<40 slice):

- stage events as exactly 4 parquet files; drain 2 per leg with
  `maxFilesPerTrigger=1` under ONE shared checkpoint (availableNow
  honors read limits, so each file is its own micro-batch);
- leg 1's foreachBatch invocations must carry batch ids [0, 1];
- leg 2's must carry [2, 3] — a strict CONTINUATION, one batch per
  file that landed AFTER the restart. Reprocessing restarts ids at 0
  and/or runs 4 batches; offset loss runs fewer than 2.
- on top, append-mode row accounting: the sink holds each staged row
  exactly once, and per-user counts equal the batch aggregate
  (append mode turns any reprocess into visible duplicates).

At 100 TB this is the property that makes a nightly availableNow
ingest restartable mid-backlog: the offset log, not the sink
contents, is what guarantees the second run bills only new data.

`test_stateful_restart_matches_default_manager_and_batch` carries the
same continuation property to a stateful query (the `stream` benchmark
workload's shape), whose restart must also reload state deltas, and
checks that the local session's checkpoint manager writes the same
checkpoint files as Spark's default one.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.1"


def test_resume_processes_exactly_the_new_files(spark, tmp_path):
    from machine_telemetry_etl_ml_pipeline_spark.registry import _t

    stage = str(tmp_path / "stage")
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    events = _t(spark, SF, "events").select("event_id", "user_id")
    events.repartition(4).write.parquet(stage)
    files = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    assert len(files) == 4
    os.makedirs(src)

    def run_leg() -> list[int]:
        seen: list[int] = []

        def _write(batch, batch_id: int) -> None:
            seen.append(batch_id)
            batch.write.mode("append").parquet(sink)

        q = (
            spark.readStream.schema("event_id bigint, user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(_write)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(seen)

    for f in files[:2]:
        shutil.copy(f"{stage}/{f}", f"{src}/{f}")
    assert run_leg() == [0, 1]

    for f in files[2:]:
        shutil.copy(f"{stage}/{f}", f"{src}/{f}")
    # the discriminating assertion: ids CONTINUE and there are exactly
    # as many micro-batches as files that landed after the restart
    assert run_leg() == [2, 3]

    # append-mode row accounting: each staged row landed exactly once
    got = spark.read.parquet(sink)
    assert got.count() == events.count()
    want = {
        (r.user_id, r.n)
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    have = {
        (r.user_id, r.n)
        for r in got.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert have == want


# --- stateful restart: the stream workload's query shape --------------

WINDOW, WATERMARK = "5 minutes", "10 minutes"


def _event_file(src: str, i: int, rows: int = 60, dups: int = 6) -> None:
    """File ``i``: ``rows`` fresh events two minutes of event time after
    file ``i - 1`` plus ``dups`` exact re-sends of file ``i - 1``'s first
    events. Event time moves forward by less than the watermark delay,
    so no row is late and the streaming dedup drops exactly the
    re-sends. Values are quarter units, so every sum is exact."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    def fresh(j: int, n: int) -> dict:
        t0 = datetime(2024, 1, 1) + timedelta(minutes=2 * j)
        ids = [j * rows + k for k in range(n)]
        return {
            "event_id": ids,
            "ts": [t0 + timedelta(seconds=2 * k) for k in range(n)],
            "user_id": [k % 7 for k in ids],
            "event_type": ["click" if k % 3 else "view" for k in ids],
            "value": [(k % 40) / 4 for k in ids],
            "props": ["{}"] * n,
        }

    cols = fresh(i, rows)
    if i > 0:
        prev = fresh(i - 1, dups)
        cols = {k: v + prev[k] for k, v in cols.items()}
    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]
    )
    pq.write_table(pa.table(cols, schema=schema), os.path.join(src, f"events-{i:03d}.parquet"))


def _windowed(df):
    return (
        df.groupBy(F.window("ts", WINDOW).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


def _checkpoint_files(ckpt: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), ckpt) for d, _, fs in os.walk(ckpt) for f in fs
    }


def test_stateful_restart_matches_default_manager_and_batch(spark, tmp_path):
    """The stream workload's query (file_stream -> dedup_within_watermark
    -> 5-minute window count and value sum, complete-mode memory sink,
    default trigger, no-data batches off), stopped after N files and
    restarted on the same checkpoint for M more:

    - leg 2's micro-batch ids continue leg 1's, one batch per new file;
    - the final table equals a one-leg run over all files under Spark's
      default FileContext checkpoint manager (set for that query only),
      and a batch dedup plus window aggregate over every file;
    - both checkpoints hold the same file names: offset, commit and
      source logs, and one state delta per stateful partition and
      batch, each with its Spark ``<n>.delta.crc`` checksum and the
      Hadoop ``.<n>.crc`` files -- the local session's FileSystem
      manager writes every integrity file the default one does."""
    from machine_telemetry_etl_ml_pipeline_spark.session import LOCAL_CHECKPOINT_MANAGER
    from machine_telemetry_etl_ml_pipeline_spark.streaming.windows import (
        dedup_within_watermark,
        file_stream,
    )

    key, fs_manager = LOCAL_CHECKPOINT_MANAGER
    n_first, n_more = 3, 2
    src = str(tmp_path / "src")
    os.makedirs(src)

    def run(src_dir: str, ckpt: str, name: str) -> tuple[list[int], set]:
        deduped = dedup_within_watermark(file_stream(spark, src_dir), ["event_id"], WATERMARK)
        q = (
            _windowed(deduped).writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            batch_ids = sorted(p.batchId for p in q.recentProgress if p.numInputRows > 0)
        finally:
            q.stop()
        return batch_ids, {tuple(r) for r in spark.table(name).collect()}

    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    old_no_data = spark.conf.get(no_data, None)
    spark.conf.set(no_data, "false")
    try:
        assert spark.conf.get(key) == fs_manager
        ckpt = str(tmp_path / "ckpt")
        for i in range(n_first):
            _event_file(src, i)
        assert run(src, ckpt, "restart_leg1")[0] == list(range(n_first))
        for i in range(n_first, n_first + n_more):
            _event_file(src, i)
        ids, restarted = run(src, ckpt, "restart_leg2")
        assert ids == list(range(n_first, n_first + n_more))

        default_ckpt = str(tmp_path / "default_ckpt")
        spark.conf.unset(key)  # Spark's default manager, for this query only
        try:
            one_leg = run(src, default_ckpt, "restart_one_leg")[1]
        finally:
            spark.conf.set(key, fs_manager)
    finally:
        if old_no_data is None:
            spark.conf.unset(no_data)
        else:
            spark.conf.set(no_data, old_no_data)

    batch = {
        tuple(r) for r in _windowed(spark.read.parquet(src).dropDuplicates(["event_id"])).collect()
    }
    assert len(batch) > 1
    assert restarted == one_leg == batch

    files = _checkpoint_files(ckpt)
    assert files == _checkpoint_files(default_ckpt)
    last = n_first + n_more - 1
    for log in ("offsets", "commits", "sources/0"):
        assert {f"{log}/{last}", f"{log}/.{last}.crc"} <= files
    deltas = {f for f in files if f.endswith(f"/{last + 1}.delta")}
    assert deltas
    for d in deltas:
        head, name = os.path.split(d)
        assert {f"{d}.crc", f"{head}/.{name}.crc", f"{head}/.{name}.crc.crc"} <= files
