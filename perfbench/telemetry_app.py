"""``telemetry_app``: the reference application's own traffic through
``TelemetryEngine``.

Set-up writes a seeded reference-shaped CSV (machines x hourly
readings) and times ``TelemetryEngine.ingest_csv`` into an empty
table root; that ingest is reported on its own and kept out of
``setup_s``. A warm-up request and two reads per method follow.

The timed window is a closed loop with one client. Each request is one
seeded ``get_*`` read, collected, then ``log_user_query`` and
``log_prediction`` -- the call pattern of the reference's
``db.py:163-185``, assumed rather than measured. Every fourth request
also inserts a new reading with ``insert_telemetry``.

Every read is checked afterwards against DuckDB over the generator's
own ledger of the rows written up to that read; the two log tables
must hold one row per logging call. Counters and summed per-layer
times cover the first ``UNIT`` requests; per-method medians cover the
whole window.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa

import datagen
import spans as tr

UNIT = 8
INSERT_EVERY = 4


def _avg(col: str) -> str:
    """DuckDB mirror of operators.core.exact_avg at 4 dp."""
    return (f"round(CAST(sum(CAST(round({col} * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE)"
            f" / (count({col}) * 100)) / 10000.0")


def _latest(where: str = "TRUE") -> str:
    return (f"(SELECT * FROM t WHERE {where} QUALIFY row_number() OVER (PARTITION BY machineid"
            " ORDER BY timestamp_epoch DESC, enginetemperature DESC) = 1)")


# method -> (argument maker, oracle SQL maker, compared columns)
def _mix(machines, hours):
    def mid(rng):
        return machines[int(rng.integers(len(machines)))]

    def rng_range(rng):
        a = datagen.START_EPOCH + 3600 * int(rng.integers(0, hours - 72))
        return (mid(rng), a, a + 3600 * int(rng.integers(24, 72)))

    metrics3 = ["enginetemperature", "humidity", "vibrationlevel"]
    stats_cols = ["n"] + [f"{f}_{m}" for m in metrics3 for f in ("min", "max", "avg")]
    stats_sql = ", ".join(
        f"round(min({m}), 4) AS min_{m}, round(max({m}), 4) AS max_{m}, {_avg(m)} AS avg_{m}"
        for m in metrics3
    )
    return {
        "get_latest_telemetry": (
            lambda rng: (mid(rng), 3),
            lambda m, k: f"SELECT * FROM t WHERE machineid = '{m}' ORDER BY timestamp_epoch DESC LIMIT {k}",
            ["machineid", "timestamp_epoch", "enginetemperature", "status"],
        ),
        "get_telemetry_range": (
            rng_range,
            lambda m, a, b: (f"SELECT * FROM t WHERE machineid = '{m}' AND timestamp_epoch"
                             f" BETWEEN {a} AND {b} ORDER BY timestamp_epoch"),
            ["timestamp_epoch", "enginetemperature", "humidity"],
        ),
        "get_telemetry_stats": (
            lambda rng: (mid(rng),),
            lambda m: f"SELECT count(*) AS n, {stats_sql} FROM t WHERE machineid = '{m}'",
            stats_cols,
        ),
        "get_highest_temperature_machines": (
            lambda rng: (5,),
            lambda k: (f"SELECT machineid, enginetemperature AS temperature, timestamp_epoch, status"
                       f" FROM {_latest()} ORDER BY temperature DESC, machineid LIMIT {k}"),
            ["machineid", "temperature", "timestamp_epoch", "status"],
        ),
        "get_lowest_humidity_machines": (
            lambda rng: (5,),
            lambda k: (f"SELECT machineid, humidity AS humidity_v, timestamp_epoch, status"
                       f" FROM {_latest('humidity > 0 AND humidity <= 100')}"
                       f" ORDER BY humidity_v, machineid LIMIT {k}"),
            ["machineid", "humidity_v", "timestamp_epoch", "status"],
        ),
        "get_machines_by_status": (
            lambda rng: (("act", "fault", "idle", "maint")[int(rng.integers(4))],),
            lambda s: (f"SELECT * FROM {_latest()} WHERE status ILIKE '%{s}%' ORDER BY machineid"),
            ["machineid", "timestamp_epoch", "status"],
        ),
        "get_machine_comparison_stats": (
            lambda rng: (),
            lambda: (f"SELECT machineid, count(*) AS n, {_avg('enginetemperature')} AS avg_enginetemperature,"
                     " round(max(operatinghours), 4) AS max_operatinghours FROM t GROUP BY machineid"
                     " ORDER BY avg_enginetemperature DESC, machineid"),
            ["machineid", "n", "avg_enginetemperature", "max_operatinghours"],
        ),
        "get_machine_list": (
            lambda rng: (),
            lambda: "SELECT DISTINCT machineid FROM t ORDER BY machineid",
            ["machineid"],
        ),
    }


def _check(reads, ledger, mix) -> int:
    """Number of reads whose rows differ from DuckDB over the ledger
    prefix the read could see."""
    import duckdb

    con = duckdb.connect()
    table = pa.Table.from_pylist(ledger)
    bad = 0
    for method, args, rows, n in reads:
        con.register("t", table.slice(0, n))
        _, sql, cols = mix[method]
        want = con.execute(f"SELECT {', '.join(cols)} FROM ({sql(*args)})").fetchall()
        if rows != want:
            print(f"perfbench: {method}{args} differs from the oracle")
            bad += 1
        con.unregister("t")
    con.close()
    return bad


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


def run(ctx) -> dict:
    from machine_telemetry_etl_ml_pipeline_spark.engine import TelemetryEngine

    t = ctx.tracer
    cfg = ctx.manifest["telemetry_app"]
    machines = datagen.machine_ids(cfg["machines"])
    hours = cfg["hours"]
    csv_path = os.path.join(ctx.dir("data"), "telemetry.csv")
    ledger = datagen.telemetry_csv(csv_path, ctx.seed, cfg["machines"], hours)
    tables = os.path.join(ctx.root, "tables")
    eng = TelemetryEngine(tables, ctx.spark)

    with t.span("ingest_csv", "ingest", spark_group=True) as ing:
        n_ingested = eng.ingest_csv(csv_path)
    ingest_s = ing["end"] - ing["start"]
    failed = int(n_ingested != len(ledger))

    mix = _mix(machines, hours)
    methods = sorted(mix)
    rng = np.random.default_rng([ctx.seed, 1])
    next_hour = {m: hours for m in machines}
    reads, read_s, write_s, insert_s, log_s = [], [], [], [], []
    per_method: dict[str, list[float]] = {m: [] for m in methods}
    unit_groups: list[str] = []
    n_logs = 0
    unit = {"build_s": 0.0, "collect_s": 0.0, "user_bytes": 0}

    def read(method: str):
        args = mix[method][0](rng)
        cols = mix[method][2]
        with t.span(f"engine {method}", "engine", spark_group=True) as b:
            df = getattr(eng, method)(*args)
        with t.span(f"collect {method}", "exec", spark_group=True) as c:
            rows = df.collect()
        reads.append((method, args, [tuple(r[k] for k in cols) for r in rows], len(ledger)))
        return args, rows, b, c

    def request(i: int, method: str, timed: bool, in_unit: bool) -> None:
        nonlocal n_logs
        with t.span(f"request {method}", "bench", unit=in_unit):
            args, rows, b, c = read(method)
            m = args[0] if args and isinstance(args[0], str) and args[0] in machines else machines[0]
            q = {"role": "operator", "query": f"{method} {args}", "intent": "regression",
                 "confidence": round(float(rng.uniform(0, 1)), 2), "machine_id": m,
                 "target_time_epoch": int(ledger[-1]["timestamp_epoch"])}
            with t.span("log_user_query", "ingest", spark_group=True) as w1:
                eng.log_user_query(**q)
            p = {"machine_id": m, "intent": "regression", "numerical_answer": float(len(rows)),
                 "features": {"rows": float(len(rows))}}
            with t.span("log_prediction", "ingest", spark_group=True) as w2:
                eng.log_prediction(**p)
            n_logs += 1
            writes = [w1, w2]
            user_bytes = len(json.dumps(q)) + len(json.dumps(p))
            if i % INSERT_EVERY == INSERT_EVERY - 1:
                row, rec = datagen.telemetry_row(rng, m, next_hour[m])
                next_hour[m] += 1
                with t.span("insert_telemetry", "ingest", spark_group=True) as w3:
                    eng.insert_telemetry(row)
                ledger.append(rec)
                writes.append(w3)
                user_bytes += len(json.dumps(row))
                if timed:
                    insert_s.append(w3["end"] - w3["start"])
        if timed:
            read_s.append(c["end"] - b["start"])
            per_method[method].append(c["end"] - b["start"])
            write_s.extend(w["end"] - w["start"] for w in writes)
            log_s.extend(w["end"] - w["start"] for w in (w1, w2))
        if in_unit:
            unit_groups.extend(x["group"] for x in (b, c, *writes))
            unit["build_s"] += b["end"] - b["start"]
            unit["collect_s"] += c["end"] - c["start"]
            unit["user_bytes"] += user_bytes

    def guarded(op, *args) -> int:
        try:
            op(*args)
            return 0
        except Exception as exc:  # noqa: BLE001 — a failing request is counted, not fatal
            print(f"perfbench: {op.__name__}{args} failed: {exc!r}")
            return 1

    # warm-up: one full request (with an insert), then two untimed reads
    # per method, as the JVM is still warming after one
    failed += guarded(request, INSERT_EVERY - 1, methods[0], False, False)
    warm = methods[1:] + methods
    for method in warm:
        failed += guarded(read, method)
    ctx.setup_done(exclude=ingest_s)

    # the timed sequence visits every method once per round, in a seeded order
    order = []
    start = time.time()
    before = _dir_bytes(tables)
    n_req = 0
    while n_req < UNIT or time.time() - start < ctx.seconds:
        if not order:
            order = [methods[k] for k in rng.permutation(len(methods))]
        failed += guarded(request, n_req, order.pop(), True, n_req < UNIT)
        n_req += 1
        if n_req == UNIT:
            after = _dir_bytes(tables)
    wall = time.time() - start

    failed += _check(reads, ledger, mix)
    logged = [ctx.spark.read.parquet(os.path.join(tables, name)).count()
              for name in ("user_query_log", "predictions")]
    failed += sum(n != n_logs for n in logged)
    attempted = 1 + 1 + len(warm) + n_req + 2

    jobs = ctx.job_counts(unit_groups)
    counts = {
        "exec.jobs": jobs["jobs"],
        "exec.stages": jobs["stages"],
        "exec.tasks": jobs["tasks"],
        "ingest.files_written": after[0] - before[0],
    }
    read_tail, read_pct, n_reads = tr.tail(read_s)
    write_tail, write_pct, n_writes = tr.tail(write_s)
    return {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "op_p50_s": tr.geomean([tr.p50(v) for v in per_method.values() if v]),
            "ops_per_s": n_req / wall,
        },
        "report": {
            "read_p50_s": tr.p50(read_s),
            "read_tail_s": read_tail,
            "read_tail_percentile": read_pct,
            "reads": n_reads,
            "write_p50_s": tr.p50(write_s),
            "write_tail_s": write_tail,
            "write_tail_percentile": write_pct,
            "writes": n_writes,
            "requests_per_s": n_req / wall,
            "ingest_rows_per_s": n_ingested / ingest_s,
        },
        "counts": counts,
        "layer": {
            **counts,
            "engine.build_s": unit["build_s"],
            "engine.collect_s": unit["collect_s"],
            "exec.sink_s": unit["collect_s"],
            **{f"engine.{m}_p50_s": tr.p50(v) for m, v in per_method.items()},
            "ingest.ingest_csv_s": ingest_s,
            "ingest.ingest_rows_per_s": n_ingested / ingest_s,
            "ingest.insert_rows_p50_s": tr.p50(insert_s),
            "ingest.log_write_p50_s": tr.p50(log_s),
            "ingest.bytes_per_user_byte": (after[1] - before[1]) / unit["user_bytes"],
            "sources.files_in_table": _dir_bytes(os.path.join(tables, "telemetry"))[0],
        },
    }
