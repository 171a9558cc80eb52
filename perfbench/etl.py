"""`etl` workload: an incremental Builder cycle.

Set-up, repeated in fresh sessions, stages a source ParquetStore from
`orders` plus `last_updated`. The last session then builds a MapBuilder
target (Python ufn, declared `output_schema`) from empty, once: that is
`build_full_s`. Then one client runs a closed loop of batches: each batch
upserts seeded docs into the source (about 1% of the table; 90% updates
skewed towards recent keys, 10% new keys) and runs `builder.run()`.
After every batch, outside the timed window, the target is checked
against the expected state computed in DuckDB from the staged source
and the batches so far.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.harness import Run, median, percentile

BATCH_SHARE = 0.01
UPDATE_SHARE = 0.9
PASS_OPS = 2          # wall_s: the first PASS_OPS timed batches
STAGED_AT = dt.datetime(2024, 1, 1)
LAYERS = {"sources.update_source_s": "s", "builders.get_items_s": "s",
          "builders.process_items_s": "s", "builders.update_targets_s": "s",
          "builders.stale_rows_per_batch_row": "ratio",
          "sources.write_amplification": "ratio"}
OUTPUT_SCHEMA = ("price_band int, status_prio string, price_x2 double, "
                 "last_updated timestamp")


def derive(doc: dict) -> dict:
    """The builder's Python ufn: a few derived fields per order."""
    cents = int(round(doc["o_totalprice"] * 100))
    return {"price_band": cents // 1_000_000,
            "status_prio": f"{doc['o_orderstatus']}:{doc['o_orderpriority']}",
            "price_x2": doc["o_totalprice"] * 2,
            "last_updated": doc["last_updated"]}


EXPECTED_SQL = """
    SELECT o_orderkey,
           CAST(CAST(round(o_totalprice * 100) AS BIGINT) // 1000000 AS INTEGER) AS price_band,
           o_orderstatus || ':' || o_orderpriority AS status_prio,
           o_totalprice * 2 AS price_x2,
           last_updated
    FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                       ORDER BY last_updated DESC) AS rn
          FROM read_parquet({sources})) WHERE rn = 1
"""


def batch_table(seed: int, index: int, n_rows: int, n_batch: int,
                n_cust: int) -> pa.Table:
    """Batch `index` of the seeded stream: distinct keys, UPDATE_SHARE
    of them existing keys skewed towards the most recent ones, the rest
    new keys after every key handed out so far."""
    rng = np.random.default_rng([seed, 1000 + index])
    n_new = n_batch - int(n_batch * UPDATE_SHARE)
    top = n_rows + index * n_new            # keys in use before this batch
    recency = np.exp((np.arange(top) - top) / (0.2 * top))
    upd = rng.choice(top, size=n_batch - n_new, replace=False, p=recency / recency.sum())
    keys = np.concatenate([np.sort(upd), np.arange(top, top + n_new)]).astype(np.int64)
    t = datagen.orders_table(rng, len(keys), n_cust).set_column(
        0, "o_orderkey", pa.array(keys))
    stamp = STAGED_AT + dt.timedelta(minutes=index + 1)
    return t.append_column("last_updated",
                           pa.array([stamp] * len(keys), type=pa.timestamp("us")))


class Etl:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.orders_path = datagen.write_tables(
            run.path("data"), run.seed, run.sf, ("orders",))["orders"]
        sizes = datagen.table_sizes(run.sf)
        self.n_rows, self.n_cust = sizes["orders"], sizes["customer"]
        self.n_batch = max(10, int(self.n_rows * BATCH_SHARE))
        self.source = self.target = self.builder = None

    def staged_path(self) -> str:
        """The staged source as the benchmark hands it to the store:
        orders plus a last_updated column."""
        path = self.run.path("data", "staged.parquet")
        if not os.path.exists(path):
            t = pq.read_table(self.orders_path)
            t = t.append_column("last_updated", pa.array(
                [STAGED_AT] * t.num_rows, type=pa.timestamp("us")))
            pq.write_table(t, path)
        return path

    def stage_source(self) -> None:
        """One set-up: the source store, staged into an empty directory."""
        from maggma_spark.sources.parquet import ParquetStore

        spark = self.run.spark
        shutil.rmtree(self.run.path("source"), ignore_errors=True)
        self.source = ParquetStore(spark, self.run.path("source"), key="o_orderkey")
        self.source.update(spark.read.parquet(self.staged_path()))

    def build_full(self) -> float:
        """The builder's first run, into an empty target; returns its
        time."""
        from maggma_spark.operators.builders import MapBuilder
        from maggma_spark.sources.parquet import ParquetStore

        self.target = ParquetStore(self.run.spark, self.run.path("target"),
                                   key="o_orderkey")
        self.builder = MapBuilder(self.source, self.target, ufn=derive,
                                  output_schema=OUTPUT_SCHEMA)
        self.run.group("build_full")
        t0 = time.perf_counter()
        self.builder.run()
        return time.perf_counter() - t0

    def batch_path(self, index: int) -> str:
        return self.run.path("data", f"batch{index}.parquet")

    def write_batch(self, index: int) -> str:
        path = self.batch_path(index)
        pq.write_table(batch_table(self.run.seed, index, self.n_rows, self.n_batch,
                                   self.n_cust), path)
        return path

    def mismatches(self, con, n_batches: int, planted: bool = False) -> int:
        """Rows where the target differs from the expected state after
        the first `n_batches` batches (both directions). `planted`
        corrupts one target row as read, to test this check."""
        sources = [self.staged_path()] + [self.batch_path(i) for i in range(n_batches)]
        expected = EXPECTED_SQL.format(sources=repr(sources))
        bump = "+ CASE WHEN o_orderkey = 0 THEN 1 ELSE 0 END" if planted else ""
        got = f"""SELECT o_orderkey, price_band, status_prio, price_x2 {bump} AS price_x2,
                         last_updated
                  FROM read_parquet('{self.run.path('target')}/*.parquet')
                  WHERE state = 'successful'"""
        n = con.execute(f"SELECT count(*) FROM (({expected}) EXCEPT ({got}))").fetchone()[0]
        n += con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ({expected}))").fetchone()[0]
        n += con.execute(f"SELECT count(*) - count(DISTINCT o_orderkey) FROM ({got})").fetchone()[0]
        return int(n)

    def install_spans(self, op_index: list[int]) -> None:
        run, spans, b = self.run, self.run.spans, self.builder

        def phase(name):
            return lambda: run.group(f"op:{op_index[0]}:{name}")

        spans.wrap(self.source, "update", "sources.update_source", phase("update_source"))
        spans.wrap(b, "get_items", "builders.get_items", phase("get_items"))
        spans.wrap(b, "process_items", "builders.process_items", phase("process_items"))
        spans.wrap(b, "update_targets", "builders.update_targets", phase("update_targets"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


def run_workload(run: Run, plant_faults: int = 0) -> dict:
    import duckdb

    w = Etl(run)
    w.staged_path()
    run.set_up(w.stage_source)
    build_full_s = w.build_full()
    con = duckdb.connect()
    failed = int(w.mismatches(con, 0) > 0)     # the full build is op 0

    op_index = [0]
    if run.trace:
        w.install_spans(op_index)
    spark = run.spark
    lat_ms, per_op_spans, batch_rows, stale_rows, store_rows, store_bytes = [], [], [], [], [], []
    loop_s = 0.0
    pass_s = None
    i = 0
    while loop_s < run.seconds or i < PASS_OPS:
        path = w.write_batch(i)
        batch = spark.read.parquet(path)
        op_index[0] = i
        run.group(f"op:{i}:update_source")
        started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        t0 = time.perf_counter()
        w.source.update(batch)
        w.builder.run()
        dt_s = time.perf_counter() - t0
        run.group("check")
        lat_ms.append(dt_s * 1000.0)
        loop_s += dt_s
        if i + 1 == PASS_OPS:
            pass_s = loop_s
        per_op_spans.append(run.spans.take())
        batch_rows.append(pq.read_metadata(path).num_rows)
        if run.trace:
            stale_rows.append(_rows_built_since(w, started))
            store_rows.append(w.n_rows + (i + 1) * (w.n_batch - int(w.n_batch * UPDATE_SHARE)))
            store_bytes.append(_dir_bytes(run.path("source")) + _dir_bytes(run.path("target")))
        i += 1
        # correctness, outside the timed window
        failed += int(w.mismatches(con, i, planted=i <= plant_faults) > 0)
    run.spans.undo_all()
    peak_mem = run.peak_mem_mb()
    con.close()
    docs = sum(batch_rows)
    attempted = 1 + len(lat_ms)
    metrics = {
        "setup_s": median(run.setup_s),
        "op_p50_ms": median(lat_ms),
        "op_p90_ms": percentile(lat_ms, 0.9),
        "docs_per_s": docs / loop_s,
        "build_full_s": build_full_s,
        "wall_s": pass_s,
        "peak_mem_mb": peak_mem,
        "ok_ratio": (attempted - failed) / attempted,
    }
    run.detail.update({"batches": len(lat_ms), "batch_docs": w.n_batch,
                       "batch_ms": lat_ms, "setup_s_all": run.setup_s})
    layers = {}
    if run.trace:
        layers = _layer_metrics(run, lat_ms, per_op_spans, batch_rows, stale_rows,
                                store_rows, store_bytes)
    return {"metrics": metrics, "layers": layers, "attempted": attempted,
            "failed": failed}


def _rows_built_since(w: Etl, since: dt.datetime) -> int:
    """Target rows the last builder run (re)processed: their build time
    `_bt` is not older than the batch start."""
    from pyspark.sql import functions as F

    return w.target.df.filter(F.col("_bt") >= F.lit(since)).count()


def _layer_metrics(run, lat_ms, per_op_spans, batch_rows, stale_rows, store_rows,
                   store_bytes) -> dict:
    from perfbench import eventlog

    n = len(lat_ms)
    groups = run.event_log()
    ops = eventlog.total(groups, "op:")
    share_bytes = sum(b / s * sb for b, s, sb in zip(batch_rows, store_rows, store_bytes))

    def span_s(name):
        return median([s.get(name, 0.0) for s in per_op_spans]) / 1000.0

    return {
        "sources.update_source_s": span_s("sources.update_source"),
        "builders.get_items_s": span_s("builders.get_items"),
        "builders.process_items_s": span_s("builders.process_items"),
        "builders.update_targets_s": span_s("builders.update_targets"),
        "builders.stale_rows_per_batch_row": sum(stale_rows) / sum(batch_rows),
        "sources.write_amplification": ops.output_bytes / share_bytes,
        "spark.jobs_per_op": ops.jobs / n,
        "spark.stages_per_op": ops.stages / n,
        "spark.tasks_per_op": ops.tasks / n,
        "spark.python_rows_per_op": ops.python_rows / n,
        "spark.shuffle_mb_per_op": ops.shuffle_write_bytes / n / 1e6,
        "trace.op_p50_ms": median(lat_ms),
    }
