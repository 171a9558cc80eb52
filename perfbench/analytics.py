"""`analytics` workload: one cold batch pass over catalog rows.

Set-up is a fresh session plus the warm-up every batch job pays once: a
first scan of each input table and a first shuffle. Then each row of
`plans.catalog.QUERIES` listed in ROWS is built (the catalog call,
including any eager Spark actions inside the operators), planned (the
frame's own `executedPlan`) and executed by collecting its result as
Arrow, which runs the plan just made rather than planning again. Rows
run in the order of ROWS: the first row to run pays one-off costs, so a
seeded order would move seconds between rows from seed to seed. The
seed sets the generated tables. After the pass, outside the timed
window, each row's collected result is checked against its
`plans.catalog.ORACLES` SQL run by DuckDB over the same tables.
"""

from __future__ import annotations

import time

from perfbench import datagen
from perfbench.harness import Run, median, percentile

# the plain-SQL control first, then the row ROADMAP direction 2 targets
ROWS = (
    "q1_pricing_summary",
    "stream_dedup_ingest_e2e",
)
ROW_LAYERS = {"build_s": "s", "build_jobs": "count", "plan_ms": "ms", "exec_s": "s",
              "exec_jobs": "count", "task_s": "s", "shuffle_mb": "MB",
              "spill_mb": "MB", "python_mb": "MB"}
LAYERS = {f"analytics.{row}.{name}": unit
          for row in ROWS for name, unit in ROW_LAYERS.items()}
TABLES = ("lineitem", "documents")


def _warm_up(run: Run, paths: dict[str, str]) -> None:
    """Session-level warm-up every batch job pays once: a first scan of
    each table and a first shuffle."""
    spark = run.spark
    spark.read.parquet(paths["documents"]).count()
    spark.read.parquet(paths["lineitem"]).groupBy("l_returnflag").count().collect()


def _mismatches(con, got, oracle_sql: str) -> int:
    """Rows in either of `got` (an Arrow table) and the oracle's result
    but not in the other, duplicates counted; a column-set difference
    counts as one."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {oracle_sql}")
    want_cols = [r[0] for r in con.execute("DESCRIBE want").fetchall()]
    if sorted(want_cols) != sorted(got.column_names):
        return 1
    con.register("got", got)
    cols = ", ".join('"' + c + '"' for c in sorted(want_cols))
    got_q, want_q = f"SELECT {cols} FROM got", f"SELECT {cols} FROM want"
    n = sum(con.execute(f"SELECT count(*) FROM ({x} EXCEPT ALL {y})").fetchone()[0]
            for x, y in ((got_q, want_q), (want_q, got_q)))
    con.unregister("got")
    return n


def run_workload(run: Run, plant_faults: int = 0) -> dict:
    import duckdb

    from maggma_spark.plans.catalog import ORACLES, QUERIES

    paths = datagen.write_tables(run.path("data"), run.seed, run.sf, TABLES)
    sf_dir = run.path("data")
    # four set-ups, not three: a warm one takes 1-3 s and gets faster
    # over the first four as the JVM warms, so the median of three sat
    # on that slope and moved by a quarter from run to run
    run.set_up(lambda: _warm_up(run, paths), times=4)

    spark = run.spark
    results, errors = {}, {}
    phases = {name: {} for name in ROWS}
    t_pass = time.perf_counter()
    for name in ROWS:
        ph = phases[name]
        try:
            run.group(f"row:{name}:build")
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            run.group(f"row:{name}:plan")
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            run.group(f"row:{name}:exec")
            # collects through the same QueryExecution, so the plan
            # made above is executed, not made again
            results[name] = df.toArrow()
            t3 = time.perf_counter()
            ph.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
        except Exception as exc:  # a failed row is counted, not fatal
            errors[name] = repr(exc)[:300]
    wall_s = time.perf_counter() - t_pass
    peak_mem = run.peak_mem_mb()

    # correctness, outside the timed window
    t_check = time.perf_counter()
    con = duckdb.connect()
    for table, path in paths.items():
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    failed, out_rows, mismatched = 0, 0, []
    for i, name in enumerate(ROWS):
        if name not in results:
            failed += 1
            continue
        got = results[name]
        out_rows += got.num_rows
        if i < plant_faults:               # plant a wrong answer: lose a row
            got = got.slice(1) if got.num_rows else None
        if got is None or _mismatches(con, got, ORACLES[name]):
            failed += 1
            mismatched.append(name)
    con.close()
    run.detail["check_s"] = time.perf_counter() - t_check

    op_s = [sum(phases[n].values()) for n in ROWS if n in results]
    metrics = {
        "setup_s": median(run.setup_s),
        "op_p50_ms": median(op_s) * 1000.0,
        "op_p90_ms": percentile(op_s, 0.9) * 1000.0,
        "docs_per_s": out_rows / wall_s,
        "build_full_s": sum(ph.get("build_s", 0.0) for ph in phases.values()),
        "wall_s": wall_s,
        "peak_mem_mb": peak_mem,
        "ok_ratio": (len(ROWS) - failed) / len(ROWS),
    }
    run.detail.update({"phases_s": phases, "errors": errors,
                       "mismatched": mismatched, "setup_s_all": run.setup_s})
    layers = {}
    if run.trace:
        layers = _layer_metrics(run, phases, op_s)
    return {"metrics": metrics, "layers": layers, "attempted": len(ROWS),
            "failed": failed}


def _layer_metrics(run: Run, phases, op_s) -> dict:
    from perfbench import eventlog

    groups = run.event_log()
    rows = eventlog.total(groups, "row:")
    n = len(ROWS)
    out = {
        "spark.jobs_per_op": rows.jobs / n,
        "spark.stages_per_op": rows.stages / n,
        "spark.tasks_per_op": rows.tasks / n,
        "spark.python_rows_per_op": rows.python_rows / n,
        "spark.shuffle_mb_per_op": rows.shuffle_write_bytes / n / 1e6,
        "trace.op_p50_ms": median(op_s) * 1000.0,
    }
    for name, ph in phases.items():
        build = eventlog.total(groups, f"row:{name}:build")
        execute = eventlog.total(groups, f"row:{name}:exec")
        every = eventlog.total(groups, f"row:{name}:")
        p = f"analytics.{name}."
        out.update({
            p + "build_s": ph.get("build_s", 0.0),
            p + "build_jobs": build.jobs,
            p + "plan_ms": ph.get("plan_s", 0.0) * 1000.0,
            p + "exec_s": ph.get("exec_s", 0.0),
            p + "exec_jobs": execute.jobs,
            p + "task_s": every.task_ms / 1000.0,
            p + "shuffle_mb": every.shuffle_write_bytes / 1e6,
            p + "spill_mb": every.spill_bytes / 1e6,
            p + "python_mb": every.python_bytes / 1e6,
        })
    return out
