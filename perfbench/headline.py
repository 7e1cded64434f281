"""``headline``: registry entries written through the noop sink.

Set-up generates the registry's input tables from the seed, imports the
registry, and runs one checking pass: each measured entry is built,
collected and compared with its DuckDB ``oracle_sql`` under
``tools/check.py``'s canonicalization. That pass also writes the
bucketed tables ``ext_bucketed_join_colocated`` needs. A noop-sink pass
follows to finish warming the JVM.

The timed window cycles through the measured entries, closed loop, one
client, and finishes at least one full pass: build (the registry call),
then the noop sink, then ``ckpt.unpersist_all`` outside the entry's
time. Per-layer metrics and counters cover the first pass.
"""

from __future__ import annotations

import os
import time

import datagen
import spans as tr


def _oracle(data_dir: str):
    import duckdb

    from tools.check import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _answers_match(sdf, con, sql) -> bool:
    from tools.check import canon_rows

    srows = [tuple(r) for r in sdf.collect()]
    tbl = con.execute(sql).fetch_arrow_table()
    orows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
    return canon_rows(list(sdf.columns), srows) == canon_rows(list(tbl.column_names), orows)


def run(ctx) -> dict:
    spark, t = ctx.spark, ctx.tracer
    cfg = ctx.manifest["headline"]
    data_dir = os.path.join(ctx.root, "data")
    datagen.write_tables(data_dir, ctx.seed, cfg["sf"])

    with t.span("import registry", "registry") as imp:
        import __spark_entry__ as ent

        qs = ent.queries()
    import_s = imp["end"] - imp["start"]
    gone = [n for n in cfg["frozen"] if n not in qs]
    if gone:
        raise SystemExit(f"perfbench: headline entries left the registry: {gone}")
    oracles = ent.oracle_sql()

    from machine_telemetry_etl_ml_pipeline_spark.operators.ckpt import unpersist_all

    names = cfg["measured"]
    attempted = failed = 0
    con = _oracle(data_dir)
    check_start = time.time()
    for name in names:
        attempted += 1
        try:
            ok = _answers_match(qs[name](spark, data_dir), con, oracles[name])
        except Exception as exc:  # noqa: BLE001 — a failing entry is counted, not fatal
            print(f"perfbench: {name} failed in the check pass: {exc!r}")
            ok = False
        if not ok:
            print(f"perfbench: {name} does not match its oracle")
            failed += 1
        unpersist_all(spark)
    con.close()
    check_s = time.time() - check_start
    # one more untimed pass through the noop sink: after the checking
    # pass the JIT is still warming, and the first noop pass runs ~20%
    # slower than the ones after it
    for name in names:
        attempted += 1
        try:
            qs[name](spark, data_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            print(f"perfbench: {name} failed in the warm-up pass: {exc!r}")
            failed += 1
        unpersist_all(spark)

    samples: dict[str, list[float]] = {n: [] for n in names}
    run_groups: dict[str, list[list[str]]] = {n: [] for n in names}
    unit_groups: list[str] = []
    build_groups: list[str] = []
    released = 0
    build_s = sink_s = 0.0
    ctx.setup_done()
    start = time.time()
    k = 0
    while k < len(names) or time.time() - start < ctx.seconds:
        name, first = names[k % len(names)], k < len(names)
        k += 1
        attempted += 1
        try:
            with t.span(f"entry {name}", "bench", unit=first) as e:
                with t.span(f"build {name}", "registry", spark_group=True) as b:
                    df = qs[name](spark, data_dir)
                with t.span(f"sink {name}", "exec", spark_group=True) as s:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            print(f"perfbench: {name} failed: {exc!r}")
            failed += 1
            unpersist_all(spark)
            continue
        samples[name].append(e["end"] - e["start"])
        run_groups[name].append([b["group"], s["group"]])
        with t.span("unpersist_all", "ckpt"):
            n_released = unpersist_all(spark)
        if first:
            unit_groups += [b["group"], s["group"]]
            build_groups.append(b["group"])
            released += n_released
            build_s += b["end"] - b["start"]
            sink_s += s["end"] - s["start"]
    wall = time.time() - start

    medians = {n: tr.p50(v) for n, v in samples.items() if v}
    pooled = [x for v in samples.values() for x in v]
    tail, tail_pct, n = tr.tail(pooled)
    jobs = ctx.job_counts(unit_groups)
    # every run of one entry must launch the same number of jobs
    per_run_jobs = {n: [ctx.job_counts(g)["jobs"] for g in gs] for n, gs in run_groups.items()}
    varying = {n: js for n, js in per_run_jobs.items() if len(set(js)) > 1}
    counts = {
        "exec.jobs": jobs["jobs"],
        "exec.stages": jobs["stages"],
        "exec.tasks": jobs["tasks"],
        "registry.build_jobs": ctx.job_counts(build_groups)["jobs"],
        "ckpt.blocks_released": released,
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "op_p50_s": tr.geomean(list(medians.values())),
            "ops_per_s": len(pooled) / wall,
        },
        "report": {
            "suite_s": sum(medians.values()),
            "entry_geomean_s": tr.geomean(list(medians.values())),
            "check_pass_s": check_s,
            "entries": len(names),
            "runs": k,
            "samples": n,
            "op_tail_s": tail,
            "op_tail_percentile": tail_pct,
            "per_entry_median_s": medians,
            "jobs_vary_across_runs": varying,
        },
        "counts": counts,
        "layer": {
            **counts,
            "registry.import_s": import_s,
            "registry.build_s": build_s,
            "registry.build_share": build_s / (build_s + sink_s),
            "exec.sink_s": sink_s,
            "sources.files_in_table": tr.count_files(ctx.root, ".parquet"),
        },
    }
