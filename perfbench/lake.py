"""``lambda_lake``: the paper's lambda architecture, one landing per cycle.

Each cycle the generator lands a fixed batch of events as micro-files in
``live/``; event time advances from cycle to cycle. The engine then runs
the reference's three job families:

- speed: ``file_stream`` -> ``fused_stream_join`` (errors x clicks, +-30 s,
  1-minute watermark) -> ``run_foreach_batch`` + ``serving_batch_writer``,
  one availableNow drain on a checkpoint kept across cycles;
- batch: ``scan`` of live plus the retained historical cycles ->
  ``hourly_rollup`` (avg + mode) -> ``write_serving_table``;
- merge: ``compact`` live -> historical with ``purge_live``.

After the merge the benchmark drops historical cycles older than the
retention window, so every cycle does the same work.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from base import Workload, size_of

SIZES = {
    "full": {"events": 3000, "files": 4, "retention": 3, "cycle_hours": 6},
    "smoke": {"events": 400, "files": 2, "retention": 2, "cycle_hours": 6},
}
BASE_US = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
HOUR_US = 3600 * 1_000_000


def _events_schema():
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)
    return StructType([
        StructField("event_id", LongType()), StructField("ts", TimestampType()),
        StructField("user_id", LongType()), StructField("event_type", StringType()),
        StructField("value", DoubleType()), StructField("props", StringType())])


class LambdaLake(Workload):
    spans = ("speed", "rollup", "compact")
    no_python_spans = spans
    layer_metrics = ("rollup.build_s", "rollup.exec_s", "rollup.rows_out",
                     "serving.bytes", "compact.s", "compact.files_in",
                     "compact.bytes_written", "speed.drain_s", "speed.batches",
                     "speed.rows_out", "speed.state_rows", "speed.planning_ms",
                     "speed.wal_commit_ms", "speed.add_batch_ms")
    SIZES = SIZES

    def __init__(self, spark, gen_mod, size: str, seed: int):
        super().__init__(spark, gen_mod, size, seed)
        self.schema = _events_schema()
        self.cycles: list[pa.Table] = []

    # ---------------------------------------------------------------- inputs
    def generate(self, gen_dir: Path, n_cycles: int) -> None:
        """Every cycle's events, written once as micro-files."""
        n, span_us = self.cfg["events"], self.cfg["cycle_hours"] * HOUR_US
        self.gen_dir = gen_dir
        for c in range(n_cycles):
            rng = np.random.default_rng([self.seed, c])
            t = self.gen.gen_events(n, 1, rng)
            # gen_events spreads its rows over 30 days from BASE; squeeze
            # them into this cycle's slice of event time
            ts = t["ts"].cast(pa.int64()).to_numpy() - BASE_US
            ts = BASE_US + c * span_us + (ts * (span_us / (30 * 24 * HOUR_US))).astype(np.int64)
            t = t.set_column(1, "ts", pa.array(ts.astype("datetime64[us]"),
                                               pa.timestamp("us")))
            t = t.set_column(0, "event_id", pa.array(
                np.arange(c * n, (c + 1) * n, dtype=np.int64)))
            self.cycles.append(t)
            d = gen_dir / f"cycle={c:05d}"
            d.mkdir(parents=True)
            step = -(-n // self.cfg["files"])
            for j in range(self.cfg["files"]):
                pq.write_table(t.slice(j * step, step),
                               d / f"c{c:05d}-{j:02d}.parquet")

    # ----------------------------------------------------------------- state
    def reset(self, out: Path) -> None:
        super().reset(out)
        self.live, self.hist = out / "live", out / "historical"
        self.serving, self.speed = out / "serving", out / "speed"
        self.ckpt = out / "checkpoint"
        for d in (self.live, self.hist, self.speed):
            d.mkdir(parents=True)
        self._speed_seen: set[str] = set()

    def engine_dirs(self) -> list[Path]:
        return [self.serving, self.speed, self.hist, self.ckpt]

    # ----------------------------------------------------------------- cycle
    def cycle(self, c: int, spans) -> int:
        from bda_spadochrony_spark.plans.pipelines import hourly_rollup
        from bda_spadochrony_spark.plans.stream_fused import (
            fused_stream_join, serving_batch_writer)
        from bda_spadochrony_spark.sources.readers import scan, union_by_name
        from bda_spadochrony_spark.sources.writers import (
            compact, serving_key, write_serving_table)
        from bda_spadochrony_spark.streaming.runner import run_foreach_batch
        from bda_spadochrony_spark.streaming.sources import file_stream
        from pyspark.sql import functions as F

        self.cur = c
        landed = 0
        for f in sorted((self.gen_dir / f"cycle={c:05d}").iterdir()):
            shutil.copyfile(f, self.live / f.name)
            landed += f.stat().st_size
        self.landed.append(landed)

        with spans.span("speed"):
            t0 = time.perf_counter()
            side = {}
            for kind, p in (("error", "err"), ("click", "click")):
                side[kind] = (file_stream(self.spark, str(self.live), self.schema)
                              .where(F.col("event_type") == kind)
                              .select(F.col("event_id").alias(f"{p}_id"),
                                      F.col("user_id").alias(f"{p}_user"),
                                      F.col("ts").alias(f"{p}_ts")))
            joined = fused_stream_join(side["error"], side["click"],
                                       "err_ts", "click_ts",
                                       tolerance_seconds=30.0,
                                       watermark="1 minutes", how="fullOuter")
            q = run_foreach_batch(joined, serving_batch_writer(str(self.speed)),
                                  available_now=True, checkpoint=str(self.ckpt))
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("speed-leg drain did not finish in 120 s")
            self.record("speed.drain_s", time.perf_counter() - t0)
        prog = q.recentProgress
        self.record("speed.batches", len(prog))
        for key, field in (("speed.planning_ms", "queryPlanning"),
                           ("speed.wal_commit_ms", "walCommit"),
                           ("speed.add_batch_ms", "addBatch")):
            self.record(key, sum(p["durationMs"].get(field, 0) for p in prog))
        self.record("speed.state_rows", sum(
            s["numRowsTotal"] for s in prog[-1]["stateOperators"]) if prog else 0)

        with spans.span("rollup"):
            t0 = time.perf_counter()
            frames = [scan(self.spark, str(self.live), self.schema)]
            if any(self.hist.iterdir()):
                frames.append(scan(self.spark, f"{self.hist}/*/*.parquet",
                                   self.schema))
            rolled = hourly_rollup(union_by_name(*frames), "ts",
                                   avg_cols=["value"], mode_cols=["event_type"])
            t1 = time.perf_counter()
            write_serving_table(rolled, str(self.serving),
                                key=serving_key("date", "hour"))
            t2 = time.perf_counter()
        self.record("rollup.build_s", t1 - t0)
        self.record("rollup.exec_s", t2 - t1)

        target = self.hist / f"cycle={c:05d}"
        with spans.span("compact"):
            t0 = time.perf_counter()
            n_files = compact(self.spark, str(self.live), str(target),
                              target_files=1, purge_live=True)
            self.record("compact.s", time.perf_counter() - t0)
        self.record("compact.files_in", n_files)
        old = c - self.cfg["retention"]
        if old >= 0:
            shutil.rmtree(self.hist / f"cycle={old:05d}")
        return self.cfg["events"]

    def account(self) -> None:
        super().account()
        self.record("serving.bytes", size_of(self.serving))
        self.record("compact.bytes_written",
                    size_of(self.hist / f"cycle={self.cur:05d}"))
        new = [d for d in self.speed.iterdir() if d.name not in self._speed_seen]
        self._speed_seen.update(d.name for d in new)
        self.record("speed.rows_out", sum(
            pq.ParquetFile(f).metadata.num_rows
            for d in new for f in d.glob("*.parquet")))
        self.record("rollup.rows_out",
                     pq.ParquetDataset(self.serving).read().num_rows)

    # ---------------------------------------------------------------- checks
    def check(self, c: int) -> list[tuple[str, str, bool]]:
        """The batch serving table and the historical zone after cycle ``c``."""
        r = self.cfg["retention"]
        con = duckdb.connect()
        con.register("ev", pa.concat_tables(self.cycles[max(0, c - r):c + 1]))
        want = con.execute("""
            WITH k AS (SELECT CAST(ts AS DATE) AS d, hour(ts) AS h, * FROM ev),
            m AS (SELECT d, h, event_type, row_number() OVER (
                      PARTITION BY d, h ORDER BY count(*) DESC, event_type DESC) AS rn
                  FROM k GROUP BY d, h, event_type)
            SELECT strftime(k.d, '%Y-%m-%d') || '_' || CAST(k.h AS VARCHAR) AS row_key,
                   count(*) AS cnt, round(avg(value) + 1e-06, 2) AS avg_value,
                   any_value(m.event_type) AS mode_event_type
            FROM k JOIN m ON k.d = m.d AND k.h = m.h AND m.rn = 1
            GROUP BY 1 ORDER BY 1""").fetchall()
        got = con.execute(f"""
            SELECT row_key, CAST(cnt AS BIGINT), CAST(avg_value AS DOUBLE),
                   mode_event_type
            FROM read_parquet('{self.serving}/*.parquet') ORDER BY 1""").fetchall()
        batch_ok = got == want
        hist_ids = con.execute(f"""
            SELECT event_id FROM read_parquet('{self.hist}/*/*.parquet')
            ORDER BY 1""").fetchnumpy()["event_id"]
        kept = np.concatenate([t["event_id"].to_numpy()
                               for t in self.cycles[max(0, c - r + 1):c + 1]])
        hist_ok = np.array_equal(hist_ids, np.sort(kept))
        return [("rollup", "batch_serving_equals_duckdb", batch_ok),
                ("compact", "historical_equals_retained_landing", hist_ok)]

    def final_check(self, last: int) -> list[tuple[str, str, bool]]:
        """Speed-leg rows below the flush horizon equal the batch interval
        full-outer join over every event landed so far."""
        con = duckdb.connect()
        con.register("events", pa.concat_tables(self.cycles[:last + 1]))
        cols = "err_id, err_user, err_ts, click_id, click_user, click_ts"
        cutoff = """(SELECT least(max(CASE WHEN event_type = 'error' THEN ts END),
                                  max(CASE WHEN event_type = 'click' THEN ts END))
                            - INTERVAL 2 MINUTE FROM events)"""
        want = con.execute(f"""
            WITH errors AS (SELECT event_id AS err_id, user_id AS err_user,
                                   ts AS err_ts FROM events WHERE event_type = 'error'),
                 clicks AS (SELECT event_id AS click_id, user_id AS click_user,
                                   ts AS click_ts FROM events WHERE event_type = 'click')
            SELECT {cols} FROM errors FULL OUTER JOIN clicks
              ON CAST(err_ts AS DATE) = CAST(click_ts AS DATE)
             AND click_ts BETWEEN err_ts - INTERVAL 30 SECOND
                              AND err_ts + INTERVAL 30 SECOND
            WHERE coalesce(err_ts, click_ts) <= {cutoff}
            ORDER BY ALL""").fetchall()
        # Spark writes UTC-adjusted timestamps; read them back as UTC
        con.execute("SET TimeZone = 'UTC'")
        got = con.execute(f"""
            WITH s AS (SELECT err_id, err_user, CAST(err_ts AS TIMESTAMP) AS err_ts,
                              click_id, click_user,
                              CAST(click_ts AS TIMESTAMP) AS click_ts
                       FROM read_parquet('{self.speed}/*/*.parquet'))
            SELECT {cols} FROM s WHERE coalesce(err_ts, click_ts) <= {cutoff}
            ORDER BY ALL""").fetchall()
        return [("speed", "speed_rows_equal_duckdb_outer_join", got == want)]

    # --------------------------------------------------------------- metrics
    def extra_e2e(self, first: int) -> dict[str, float]:
        return self.amplification(first, size_of(*self.engine_dirs(), self.live),
                                  sum(self.landed[-self.cfg["retention"]:]))
