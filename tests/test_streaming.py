"""Streaming tests (SURVEY §5.2(3)): file-source pipelines driven to
completion with availableNow/processAllAvailable, golden asserts."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

from bda_spadochrony_spark.streaming.sources import file_stream
from bda_spadochrony_spark.streaming.ops import (stream_dedup, stream_interval_join,
                                                 windowed_agg)
from bda_spadochrony_spark.streaming.runner import run_available_now, run_to_memory

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


@pytest.fixture()
def events_stream_dir():
    d = tempfile.mkdtemp(prefix="bda_stream_src_")
    shutil.copy("/root/testdata/sf0.001/events.parquet", os.path.join(d, "part-0.parquet"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_windowed_agg_matches_batch(spark, events_stream_dir):
    stream = file_stream(spark, events_stream_dir, EVENTS_SCHEMA)
    agg = windowed_agg(stream, "ts", "1 hour", keys=["event_type"],
                       measures=[F.count(F.lit(1)).alias("cnt")])
    got = run_available_now(spark, agg)
    # batch twin over the same file
    from bda_spadochrony_spark.sources.readers import scan
    batch = scan(spark, "/root/testdata/sf0.001/events.parquet")
    want = (batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                 .agg(F.count(F.lit(1)).alias("cnt"))
                 .select(F.col("w.start").alias("window_start"), "event_type", "cnt"))
    got_set = {(r["window_start"], r["event_type"], r["cnt"]) for r in got.collect()}
    want_set = {(r["window_start"], r["event_type"], r["cnt"]) for r in want.collect()}
    # append mode only emits windows sealed by the final watermark; everything
    # emitted must match the batch result, and most windows must have sealed
    assert got_set <= want_set
    assert len(got_set) >= 0.9 * len(want_set)


def test_stream_dedup_drops_in_batch_duplicates(spark):
    d = tempfile.mkdtemp(prefix="bda_dedup_src_")
    try:
        rows = [(1, datetime(2024, 1, 1, 0, 0, 0), "a"),
                (1, datetime(2024, 1, 1, 0, 0, 1), "a-dup"),
                (2, datetime(2024, 1, 1, 0, 0, 2), "b")]
        schema = StructType([StructField("k", LongType()),
                             StructField("ts", TimestampType()),
                             StructField("tag", StringType())])
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d, mode="overwrite")
        stream = file_stream(spark, d, schema)
        out = run_available_now(spark, stream_dedup(stream, ["k"], "ts"))
        got = sorted((r["k"]) for r in out.collect())
        assert got == [1, 2]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_interval_join_inner(spark):
    base = tempfile.mkdtemp(prefix="bda_ssj_")
    left_dir, right_dir = os.path.join(base, "l"), os.path.join(base, "r")
    try:
        lschema = StructType([StructField("lid", LongType()),
                              StructField("lts", TimestampType())])
        rschema = StructType([StructField("rid", LongType()),
                              StructField("rts", TimestampType())])
        lrows = [(1, datetime(2024, 1, 1, 0, 1, 0)),
                 (2, datetime(2024, 1, 1, 1, 0, 0))]  # far-future row advances watermark
        rrows = [(10, datetime(2024, 1, 1, 0, 1, 10)),   # within +30s of lid=1
                 (11, datetime(2024, 1, 1, 0, 5, 0)),    # no match
                 (12, datetime(2024, 1, 1, 1, 0, 5))]    # within +30s of lid=2
        spark.createDataFrame(lrows, lschema).coalesce(1).write.parquet(left_dir)
        spark.createDataFrame(rrows, rschema).coalesce(1).write.parquet(right_dir)
        l = file_stream(spark, left_dir, lschema)
        r = file_stream(spark, right_dir, rschema)
        joined = stream_interval_join(l, r, "lts", "rts", 30.0, how="inner")
        out = run_available_now(spark, joined)
        pairs = sorted((r["lid"], r["rid"]) for r in out.collect())
        assert pairs == [(1, 10), (2, 12)]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_stream_full_outer_emits_unmatched_after_watermark(spark):
    """fullOuter interval join: unmatched rows emit once the watermark passes
    their bound (SURVEY §7.4 risk 1). availableNow runs the final batch with
    the watermark advanced to max(event time) − delay, flushing everything
    older; rows near the end of input stay in state and do NOT emit."""
    base = tempfile.mkdtemp(prefix="bda_ssfo_")
    left_dir, right_dir = os.path.join(base, "l"), os.path.join(base, "r")
    try:
        lschema = StructType([StructField("lid", LongType()),
                              StructField("lts", TimestampType())])
        rschema = StructType([StructField("rid", LongType()),
                              StructField("rts", TimestampType())])
        lrows = [(1, datetime(2024, 1, 1, 0, 1, 0)),    # matches rid=10
                 (2, datetime(2024, 1, 1, 0, 2, 0)),    # unmatched → emits null-right
                 (3, datetime(2024, 1, 1, 2, 0, 0))]    # watermark pusher
        rrows = [(10, datetime(2024, 1, 1, 0, 1, 10)),
                 (99, datetime(2024, 1, 1, 4, 0, 0))]   # watermark pusher (≠ lid=3's time)
        spark.createDataFrame(lrows, lschema).coalesce(1).write.parquet(left_dir)
        spark.createDataFrame(rrows, rschema).coalesce(1).write.parquet(right_dir)
        l = file_stream(spark, left_dir, lschema)
        r = file_stream(spark, right_dir, rschema)
        joined = stream_interval_join(l, r, "lts", "rts", 30.0, how="fullOuter",
                                      watermark="1 minutes")
        out = run_available_now(spark, joined, timeout_s=180)
        rows = out.collect()
        matched = sorted((r["lid"], r["rid"]) for r in rows
                         if r["lid"] is not None and r["rid"] is not None)
        left_only = sorted(r["lid"] for r in rows if r["rid"] is None)
        assert matched == [(1, 10)]
        assert 2 in left_only  # sealed unmatched left row emitted with null right
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_dedup_multi_batch_drain_matches_batch(spark):
    """r5 stretch #8: the one untested streaming property was watermark
    advancement across REAL micro-batch boundaries (availableNow over a
    single file collapses to one batch). Three source files +
    maxFilesPerTrigger=1 force >=3 micro-batches; duplicates SPAN
    batches, so dedup state must survive watermark advancement between
    them; final output must equal the batch dropDuplicates."""
    base = tempfile.mkdtemp(prefix="bda_mbatch_")
    schema = StructType([StructField("k", LongType()),
                         StructField("ts", TimestampType())])
    # one file per hour; intra-file disorder of minutes; duplicates of
    # hour-h keys re-appear in hour h+1 (inside the 2h watermark horizon)
    files = {
        "a": [(1, datetime(2024, 1, 1, 0, 5)), (2, datetime(2024, 1, 1, 0, 2)),
              (3, datetime(2024, 1, 1, 0, 9))],
        "b": [(1, datetime(2024, 1, 1, 0, 5)),   # cross-batch duplicate
              (4, datetime(2024, 1, 1, 1, 7)), (5, datetime(2024, 1, 1, 1, 1))],
        "c": [(4, datetime(2024, 1, 1, 1, 7)),   # cross-batch duplicate
              (6, datetime(2024, 1, 1, 2, 3))],
    }
    try:
        for name, rows in files.items():
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.parquet(os.path.join(base, "src", name))
        stream = file_stream(spark, os.path.join(base, "src", "*"), schema,
                             max_files_per_trigger=1)
        deduped = stream_dedup(stream, ["k", "ts"], "ts", delay="2 hours")
        query, name = run_to_memory(deduped, available_now=True)
        assert query.awaitTermination(120)
        n_batches = len([p for p in query.recentProgress
                         if p["numInputRows"] > 0])
        assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
        got = sorted((r["k"], r["ts"]) for r in spark.table(name).collect())
        exp = sorted(set(t for rows in files.values() for t in rows))
        assert got == exp
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_join_outer_multi_batch_drain_matches_single_batch(spark):
    """r5 stretch #8, part 2: the full-outer interval join must produce
    the SAME sealed output whether the input arrives as one availableNow
    batch or as three file-per-batch micro-batches with the watermark
    advancing between them (outer rows flush exactly when the watermark
    passes their bound, regardless of batch boundaries)."""
    base = tempfile.mkdtemp(prefix="bda_mbjoin_")
    lschema = StructType([StructField("lid", LongType()),
                          StructField("lts", TimestampType())])
    rschema = StructType([StructField("rid", LongType()),
                          StructField("rts", TimestampType())])
    lparts = {"a": [(1, datetime(2024, 1, 1, 0, 1, 0)),
                    (2, datetime(2024, 1, 1, 0, 2, 0))],
              "b": [(3, datetime(2024, 1, 1, 1, 0, 0))],
              "c": [(4, datetime(2024, 1, 1, 2, 0, 0))]}
    rparts = {"a": [(10, datetime(2024, 1, 1, 0, 1, 10))],
              "b": [(11, datetime(2024, 1, 1, 1, 30, 0))],
              "c": [(99, datetime(2024, 1, 1, 4, 0, 0))]}

    def drain(mfpt):
        l = file_stream(spark, os.path.join(base, "l", "*"), lschema,
                        max_files_per_trigger=mfpt)
        r = file_stream(spark, os.path.join(base, "r", "*"), rschema,
                        max_files_per_trigger=mfpt)
        joined = stream_interval_join(l, r, "lts", "rts", 30.0,
                                      how="fullOuter", watermark="1 minutes")
        query, name = run_to_memory(joined, available_now=True)
        assert query.awaitTermination(180)
        batches = len([p for p in query.recentProgress
                       if p["numInputRows"] > 0])
        rows = sorted(((x["lid"], x["rid"])
                       for x in spark.table(name).collect()),
                      key=lambda t: (t[0] is None, t[0] or 0,
                                     t[1] is None, t[1] or 0))
        return batches, rows

    try:
        for side, parts, schema in [("l", lparts, lschema),
                                    ("r", rparts, rschema)]:
            for name, rows in parts.items():
                spark.createDataFrame(rows, schema).coalesce(1) \
                    .write.parquet(os.path.join(base, side, name))
        single_batches, single = drain(None)
        multi_batches, multi = drain(1)
        assert multi_batches >= 3 > single_batches
        assert multi == single and (1, 10) in multi
        assert (2, None) in multi          # sealed unmatched left row
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_dedup_under_rocksdb_state_store(spark):
    """Stateful op under the RocksDB state store provider (the
    heap-independent provider for large state): same results as default."""
    from bda_spadochrony_spark.streaming.runner import (use_rocksdb_state,
                                                        ROCKSDB_PROVIDER)
    from bda_spadochrony_spark.streaming.runner import CHANGELOG_KEY
    d = tempfile.mkdtemp(prefix="bda_rocks_")
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = use_rocksdb_state(spark)
    try:
        assert spark.conf.get(key) == ROCKSDB_PROVIDER
        # r9 (VERDICT r8 #7): changelog checkpointing is the measured
        # default (24-batch drain 28.4 vs 31.2 s, wash on giant batches)
        assert spark.conf.get(CHANGELOG_KEY) == "true"
        rows = [(1, datetime(2024, 1, 1, 0, 0, 0), "a"),
                (1, datetime(2024, 1, 1, 0, 0, 1), "a-dup"),
                (2, datetime(2024, 1, 1, 0, 0, 2), "b")]
        schema = StructType([StructField("k", LongType()),
                             StructField("ts", TimestampType()),
                             StructField("tag", StringType())])
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d, mode="overwrite")
        stream = file_stream(spark, d, schema)
        out = run_available_now(spark, stream_dedup(stream, ["k"], "ts"))
        assert sorted(r["k"] for r in out.collect()) == [1, 2]
    finally:
        use_rocksdb_state(spark, False)
        if prev:
            spark.conf.set(key, prev)
        shutil.rmtree(d, ignore_errors=True)


def test_console_sink_smoke(spark, events_stream_dir):
    """S10 — console sink starts, processes the available input, stops
    (reference ``stream_stock.py:72-74``). Output goes to driver stdout;
    the assert is on reported progress, not captured text."""
    from bda_spadochrony_spark.streaming.runner import run_console
    stream = file_stream(spark, events_stream_dir, EVENTS_SCHEMA)
    q = run_console(stream.select("event_id", "event_type"))
    try:
        q.processAllAvailable()
        assert any(p["numInputRows"] > 0 for p in q.recentProgress)
    finally:
        q.stop()


def test_stream_static_join_matches_batch_and_broadcasts(spark, events_stream_dir):
    from bda_spadochrony_spark.streaming.ops import stream_static_join
    from bda_spadochrony_spark.sources.readers import scan
    stream = file_stream(spark, events_stream_dir, EVENTS_SCHEMA)
    dim = scan(spark, "/root/testdata/sf0.001/customer.parquet").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"))
    agg = (stream_static_join(stream, dim, ["user_id"])
           .groupBy("segment").agg(F.count(F.lit(1)).alias("cnt")))
    got = {r["segment"]: r["cnt"]
           for r in run_available_now(spark, agg,
                                      output_mode="complete").collect()}
    batch = scan(spark, "/root/testdata/sf0.001/events.parquet")
    exp = {r["segment"]: r["cnt"]
           for r in batch.join(dim, "user_id").groupBy("segment")
           .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got == exp and sum(got.values()) == batch.count()
    # the static dim carries the broadcast hint into the logical plan, so
    # every micro-batch plans a broadcast join — the fact stream never
    # shuffles for the join (physical plans exist only per micro-batch;
    # the analyzed plan is the pre-batch contract)
    plan = (stream_static_join(stream, dim, ["user_id"])
            ._jdf.queryExecution().analyzed().toString())
    assert "ResolvedHint (strategy=broadcast)" in plan


def test_stream_windowed_distinct_is_exact(spark, events_stream_dir):
    from bda_spadochrony_spark.streaming.ops import stream_windowed_distinct
    from bda_spadochrony_spark.sources.readers import scan
    stream = file_stream(spark, events_stream_dir, EVENTS_SCHEMA)
    agg = stream_windowed_distinct(stream, "ts", "user_id", "1 hour")
    got = {r["window_start"]: r["distinct_keys"]
           for r in run_available_now(spark, agg,
                                      output_mode="complete").collect()}
    batch = scan(spark, "/root/testdata/sf0.001/events.parquet")
    exp = {r["h"]: r["n"] for r in
           batch.select(F.date_trunc("hour", "ts").alias("h"), "user_id")
           .groupBy("h").agg(F.count_distinct("user_id").alias("n"))
           .collect()}
    assert got == exp and len(got) > 0


def test_stream_windowed_distinct_skips_null_keys(spark):
    """ADVICE r5: count(DISTINCT key) semantics — a NULL key is not a
    key. Before the fix dropDuplicates kept one NULL row per window and
    count(*) counted it."""
    from bda_spadochrony_spark.streaming.ops import stream_windowed_distinct
    base = tempfile.mkdtemp(prefix="bda_nulldistinct_")
    schema = StructType([StructField("ts", TimestampType()),
                         StructField("user_id", LongType())])
    rows = [(datetime(2024, 1, 1, 0, 1), 1),
            (datetime(2024, 1, 1, 0, 2), 1),
            (datetime(2024, 1, 1, 0, 3), None),
            (datetime(2024, 1, 1, 0, 4), 2),
            (datetime(2024, 1, 1, 1, 1), None)]   # hour 1: only NULLs
    try:
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(os.path.join(base, "src"))
        stream = file_stream(spark, os.path.join(base, "src"), schema)
        agg = stream_windowed_distinct(stream, "ts", "user_id", "1 hour")
        got = {r["window_start"]: r["distinct_keys"]
               for r in run_available_now(spark, agg,
                                          output_mode="complete").collect()}
        assert got == {datetime(2024, 1, 1, 0, 0): 2}  # hour-1 window absent
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_restart_resumes_from_checkpoint_exactly_once(spark):
    """S12's real contract: a restarted query with the SAME checkpoint
    directory resumes from committed offsets — earlier input is never
    reprocessed, new input is processed once."""
    from bda_spadochrony_spark.streaming.runner import run_foreach_batch
    base = tempfile.mkdtemp(prefix="bda_resume_")
    src, sink, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    os.makedirs(src)
    schema = StructType([StructField("k", LongType()),
                         StructField("ts", TimestampType())])
    try:
        def write_batch(batch_df, batch_id):
            batch_df.write.mode("append").parquet(sink)

        rows_a = [(i, datetime(2024, 1, 1, 0, i)) for i in range(5)]
        spark.createDataFrame(rows_a, schema).coalesce(1) \
            .write.parquet(os.path.join(src, "a"))
        q = run_foreach_batch(file_stream(spark, src + "/*", schema),
                              write_batch, available_now=True,
                              checkpoint=ckpt)
        assert q.awaitTermination(120)
        first = sorted(r["k"] for r in spark.read.parquet(sink).collect())
        assert first == [0, 1, 2, 3, 4]

        rows_b = [(i, datetime(2024, 1, 1, 1, i)) for i in range(10, 13)]
        spark.createDataFrame(rows_b, schema).coalesce(1) \
            .write.parquet(os.path.join(src, "b"))
        q2 = run_foreach_batch(file_stream(spark, src + "/*", schema),
                               write_batch, available_now=True,
                               checkpoint=ckpt)
        assert q2.awaitTermination(120)
        final = sorted(r["k"] for r in spark.read.parquet(sink).collect())
        # exactly once: the first five appear ONCE, the new three appended
        assert final == [0, 1, 2, 3, 4, 10, 11, 12]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_out_of_order_batches_late_data_rules_pinned(spark):
    """r7 edge program (VERDICT r6 #6), out-of-order multi-batch streams.
    Pins the two late-data rules the streaming contract queries rely on:

    1. COMPLETE mode + availableNow drain equals the exact batch
       aggregate regardless of arrival order or watermark delay — the
       watermark never evicts state in complete mode, so late batches
       merge into their windows (why stream_hourly/stream_distinct use
       complete + a delay sized to the data's spread).
    2. APPEND mode drops a window's late rows once the watermark has
       passed the window end, silently: with files arriving OUT of
       event-time order and a 1-minute delay, only the first-arrived
       (newest-time) window survives; with the same data the rule is
       'size delay to the source's disorder horizon'. Order is made
       deterministic via checkpoint-resumed sequential drains (one file
       per drain — the restart-resume contract persists the watermark).
    """
    import os as _os
    from datetime import datetime
    from bda_spadochrony_spark.streaming.ops import windowed_agg
    from bda_spadochrony_spark.streaming.runner import run_foreach_batch

    schema = StructType([StructField("k", LongType()),
                         StructField("ts", TimestampType())])
    files = [
        ("a", [(1, datetime(2024, 1, 1, 2, 10)),
               (2, datetime(2024, 1, 1, 2, 50))]),      # hour 2 FIRST
        ("b", [(3, datetime(2024, 1, 1, 0, 5)),
               (4, datetime(2024, 1, 1, 0, 20))]),      # hour 0 — late
        ("c", [(5, datetime(2024, 1, 1, 1, 30))]),      # hour 1 — late
        ("d", [(6, datetime(2024, 1, 1, 3, 40))]),      # hour 3: seals h2
    ]

    def sequential_append_drain(base, delay):
        got = []
        ckpt = _os.path.join(base, f"ckpt_{delay.replace(' ', '_')}")
        for i, (name, rows) in enumerate(files):
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.parquet(_os.path.join(base, "src", name))
            stream = file_stream(spark, _os.path.join(base, "src", "*"),
                                 schema)
            agg = windowed_agg(stream, "ts", "1 hour", keys=[],
                               measures=[F.count(F.lit(1)).alias("cnt")],
                               delay=delay)
            q = run_foreach_batch(
                agg, lambda bdf, bid: got.extend(
                    (str(r["window_start"]), r["cnt"]) for r in bdf.collect()),
                output_mode="append", available_now=True, checkpoint=ckpt)
            assert q.awaitTermination(120)
        return sorted(got)

    base = tempfile.mkdtemp(prefix="bda_ooo_")
    try:
        # rule 2: short delay -> ONLY the hour-2 window survives (hour 0/1
        # arrived after the watermark passed them; hour 3 never seals)
        assert sequential_append_drain(base, "1 minutes") == \
            [("2024-01-01 02:00:00", 2)]

        # rule 1: complete-mode drain over the SAME (now complete) source
        # equals the batch aggregate exactly, short delay or long
        batch = sorted(
            (str(r["ws"]), r["cnt"])
            for r in spark.read.parquet(_os.path.join(base, "src", "*"))
            .groupBy(F.date_trunc("hour", "ts").alias("ws"))
            .agg(F.count(F.lit(1)).alias("cnt")).collect())
        for delay in ["1 minutes", "6 hours"]:
            stream = file_stream(spark, _os.path.join(base, "src", "*"),
                                 schema, max_files_per_trigger=1)
            agg = windowed_agg(stream, "ts", "1 hour", keys=[],
                               measures=[F.count(F.lit(1)).alias("cnt")],
                               delay=delay)
            out = run_available_now(spark, agg, output_mode="complete")
            got = sorted((str(r["window_start"]), r["cnt"])
                         for r in out.collect())
            assert got == batch, delay
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_state_partitions_for_scales_with_volume():
    """r7 (measured at 10x: sp=8 -> 134 s vs sp=32 -> 67 s on the sf1
    join drain): state partitions derive from input volume, clamped so
    the small driver scales keep the proven low-churn 8."""
    from bda_spadochrony_spark.streaming.ops import state_partitions_for
    assert state_partitions_for(1_000) == 8          # sf0.001-0.01 floor
    assert state_partitions_for(100_000) == 8        # sf0.1 stays at 8
    assert state_partitions_for(1_000_000) == 32     # the measured win
    assert state_partitions_for(10 ** 9) == 200      # capped


def test_stream_admission_dedup_accumulates_corpus(spark):
    """r9: streaming near-dup admission control — sequential drains over a
    growing file set classify each batch against the ACCUMULATED admitted
    corpus (exact digest + MinHash bands + exact Jaccard verify), and a
    re-drain with no new input is a no-op (checkpoint resume)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bda_spadochrony_spark.streaming.admission import (
        read_admission_results, stream_admission_dedup)
    base = tempfile.mkdtemp(prefix="bda_admit_")
    in_dir = os.path.join(base, "in")
    corpus, results = os.path.join(base, "corpus"), os.path.join(base, "res")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir)
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])

    def stage(name, rows):
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), os.path.join(in_dir, name))

    def drain():
        stream = file_stream(spark, f"{in_dir}/*.parquet", schema)
        stream_admission_dedup(stream, "doc_id", "text", corpus, results,
                               checkpoint=ckpt, min_jaccard=0.5)

    try:
        stage("f1.parquet", [(1, "alpha beta gamma delta epsilon"),
                             (2, "one two three four five six")])
        drain()
        flags = {r["doc_id"]: r for r in
                 read_admission_results(spark, results).collect()}
        assert {k: (v["dup_exact"], v["dup_near"], v["admitted"])
                for k, v in flags.items()} == {1: (0, 0, 1), 2: (0, 0, 1)}

        # batch 2: an exact dup of doc 1, a near dup (3 shingles vs 3,
        # intersection 2 -> jaccard 0.5), and a fresh document
        stage("f2.parquet", [(3, "alpha beta gamma delta epsilon"),
                             (4, "alpha beta gamma delta zeta"),
                             (5, "totally different text entirely here")])
        drain()
        flags = {r["doc_id"]: (r["dup_exact"], r["dup_near"], r["admitted"])
                 for r in read_admission_results(spark, results).collect()}
        assert flags == {1: (0, 0, 1), 2: (0, 0, 1),
                         3: (1, 1, 0),       # exact implies near (J=1.0)
                         4: (0, 1, 0), 5: (0, 0, 1)}
        admitted = {r["doc_id"] for r in
                    spark.read.parquet(corpus).collect()}
        assert admitted == {1, 2, 5}

        # no new files: the checkpoint-resumed drain is a no-op
        drain()
        again = {r["doc_id"]: (r["dup_exact"], r["dup_near"], r["admitted"])
                 for r in read_admission_results(spark, results).collect()}
        assert again == flags
        assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} \
            == {1, 2, 5}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_admission_replay_same_batch_id_is_idempotent(spark):
    """r9: foreachBatch is at-least-once — a crashed epoch replays with
    the SAME batch_id. The admission writer must not see its own earlier
    half-write as 'existing corpus' (every document would flag as a
    self-dup and the replay would overwrite the partition with an EMPTY
    admitted set — silent data loss on recovery). Pinned by invoking the
    callback twice with one batch_id and asserting flags and corpus are
    byte-identical."""
    from bda_spadochrony_spark.streaming.admission import (
        admission_batch_writer, read_admission_results)
    base = tempfile.mkdtemp(prefix="bda_admit_replay_")
    corpus, results = os.path.join(base, "corpus"), os.path.join(base, "res")
    try:
        writer = admission_batch_writer(corpus, results, "doc_id", "text")
        batch = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "one two three four")],
            "doc_id: long, text: string")
        writer(batch, 0)
        flags1 = sorted(map(tuple, read_admission_results(spark, results)
                            .drop("batch_id").collect()))
        corpus1 = sorted(map(tuple, spark.read.parquet(corpus)
                             .drop("batch_id").collect()))
        writer(batch, 0)                       # the replayed epoch
        flags2 = sorted(map(tuple, read_admission_results(spark, results)
                            .drop("batch_id").collect()))
        corpus2 = sorted(map(tuple, spark.read.parquet(corpus)
                             .drop("batch_id").collect()))
        assert flags2 == flags1
        assert corpus2 == corpus1 and len(corpus1) == 2   # nothing lost
        # and a true NEXT batch still dedups against the corpus
        writer(spark.createDataFrame([(3, "alpha beta gamma delta")],
                                     "doc_id: long, text: string"), 1)
        flags = {r["doc_id"]: (r["dup_exact"], r["admitted"]) for r in
                 read_admission_results(spark, results).collect()}
        assert flags[3] == (1, 0)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_bucketed_sketch_layout_matches_flat(spark):
    """r11 (VERDICT r10 #3): the bucketed sketch layout — digest-bucket
    partitions + the pre-banded sidecar — must classify EXACTLY like the
    flat layout across a multi-batch drain (the pruning predicates are
    equality-safe, so no flag may move), and the classify path must
    actually PRUNE: the pruned gate frames' physical plans carry
    non-empty PartitionFilters on dbucket/bucket."""
    from bda_spadochrony_spark.streaming.admission import (
        admission_batch_writer, default_bands_path, default_sketch_path,
        read_admission_results)
    batches = [
        [(1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five six"),
         (3, "hi")],                                   # short: empty sig
        [(4, "alpha beta gamma delta epsilon"),        # exact dup of 1
         (5, "alpha beta gamma delta zeta"),           # near dup of 1
         (6, "totally different text entirely here"),
         (7, "hi")],                                   # short exact dup
    ]
    flags_by_layout = {}
    for layout in ("flat", "bucketed"):
        base = tempfile.mkdtemp(prefix=f"bda_admit_{layout}_")
        corpus = os.path.join(base, "corpus")
        results = os.path.join(base, "res")
        try:
            writer = admission_batch_writer(
                corpus, results, "doc_id", "text", min_jaccard=0.5,
                layout=layout, n_buckets=16)
            for i, rows in enumerate(batches):
                writer(spark.createDataFrame(
                    rows, "doc_id: long, text: string"), i)
            flags_by_layout[layout] = {
                r["doc_id"]: (r["dup_exact"], r["dup_near"], r["admitted"])
                for r in read_admission_results(spark, results).collect()}
            if layout == "bucketed":
                sketch_path = default_sketch_path(corpus)
                bands_path = default_bands_path(sketch_path)
                # layout on disk: partition dirs for both tables
                assert glob.glob(f"{sketch_path}/batch_id=0/dbucket=*")
                assert glob.glob(f"{bands_path}/batch_id=0/bucket=*")
                # plan assertion: the pruned reads push PartitionFilters
                from bda_spadochrony_spark.operators.dedup import (
                    _sketch_band_rows, admission_sketch)
                from bda_spadochrony_spark.streaming.admission import (
                    _pruned_gate_frames)
                probe = admission_sketch(
                    spark.createDataFrame(batches[1],
                                          "doc_id: long, text: string"),
                    "doc_id", "text").localCheckpoint()
                ex_dig, ex_bands = _pruned_gate_frames(
                    spark, probe, 1, sketch_path, bands_path, "doc_id",
                    16, 1, 16, _sketch_band_rows)
                for frame, col in ((ex_dig, "dbucket"),
                                   (ex_bands, "bucket")):
                    plan = frame._jdf.queryExecution().executedPlan() \
                        .toString()
                    import re
                    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
                    assert pf and col in pf.group(1), \
                        f"no {col} PartitionFilters in:\n{plan[:2000]}"
        finally:
            shutil.rmtree(base, ignore_errors=True)
    assert flags_by_layout["bucketed"] == flags_by_layout["flat"]
    assert flags_by_layout["flat"][4] == (1, 1, 0)  # exact dup is near too
    assert flags_by_layout["flat"][5][2] == 0      # near dup rejected
    assert flags_by_layout["flat"][7] == (1, 0, 0)  # short exact dup


def test_bucketed_layout_missing_bands_sidecar_fails_loudly(spark):
    """r11: a bucketed classify against a sketch whose bands sidecar is
    missing (e.g. the table was written flat) must FAIL the drain — the
    corrupt-sketch loud-failure contract extended to layout mismatch."""
    from bda_spadochrony_spark.streaming.admission import (
        admission_batch_writer, default_bands_path, default_sketch_path)
    base = tempfile.mkdtemp(prefix="bda_admit_nobands_")
    corpus, results = os.path.join(base, "corpus"), os.path.join(base, "res")
    try:
        flat = admission_batch_writer(corpus, results, "doc_id", "text",
                                      layout="flat")
        flat(spark.createDataFrame([(1, "alpha beta gamma delta")],
                                   "doc_id: long, text: string"), 0)
        bucketed = admission_batch_writer(corpus, results, "doc_id",
                                          "text", layout="bucketed")
        with pytest.raises(RuntimeError, match="bands sidecar"):
            bucketed(spark.createDataFrame(
                [(2, "alpha beta gamma delta")],
                "doc_id: long, text: string"), 1)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_sketch_classifier_matches_incremental_dedup(spark):
    """r10: the sketch-only classifier must produce the EXACT flags of the
    self-contained text-path ``incremental_dedup`` — the stream_near_dup
    contract oracle restates the text path, so the sketch path's parity
    with it is what keeps the contract green. Checked on the real
    documents table (both hash halves, both hash families)."""
    from bda_spadochrony_spark.operators.dedup import (
        admission_sketch, incremental_dedup, sketch_incremental_dedup)
    from bda_spadochrony_spark.operators.sampling import hash_bucket
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    is_existing = hash_bucket("doc_id") < F.lit(2147483648)
    new, existing = docs.where(~is_existing), docs.where(is_existing)
    for hash_fn in ("xxhash64", "md5"):
        want = sorted(map(tuple, incremental_dedup(
            new, existing, "doc_id", "text", min_jaccard=0.5,
            hash_fn=hash_fn).collect()))
        got = sorted(map(tuple, sketch_incremental_dedup(
            admission_sketch(new, "doc_id", "text", hash_fn=hash_fn),
            admission_sketch(existing, "doc_id", "text", hash_fn=hash_fn),
            "doc_id", min_jaccard=0.5).collect()))
        assert got == want, f"sketch/text divergence under {hash_fn}"


def test_admission_never_rereads_corpus_text(spark):
    """r10 (VERDICT #1 acceptance): after a batch is admitted, its raw
    text is NEVER read again — classification joins the persisted sketch
    only. Proven behaviorally: corrupt every corpus-text parquet file
    after batch 0, then drain batch 1; the drain must succeed with the
    correct flags (it would die on the corrupt footer if the corpus text
    were scanned)."""
    import glob

    from bda_spadochrony_spark.streaming.admission import (
        read_admission_results, stream_admission_dedup)
    base = tempfile.mkdtemp(prefix="bda_admit_notext_")
    in_dir = os.path.join(base, "in")
    corpus, results = os.path.join(base, "corpus"), os.path.join(base, "res")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir)
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])

    def stage(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(os.path.join(in_dir, name))

    def drain():
        stream = file_stream(spark, f"{in_dir}/*/*.parquet", schema)
        stream_admission_dedup(stream, "doc_id", "text", corpus, results,
                               checkpoint=ckpt, min_jaccard=0.5)

    try:
        stage("b0", [(1, "alpha beta gamma delta epsilon"),
                     (2, "one two three four five six")])
        drain()
        # poison the admitted corpus's raw text: any scan now throws
        poisoned = glob.glob(f"{corpus}/batch_id=0/*.parquet")
        assert poisoned, "batch 0 wrote no corpus files"
        for f in poisoned:
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file")
        stage("b1", [(3, "alpha beta gamma delta epsilon"),   # exact dup
                     (4, "alpha beta gamma delta zeta"),      # near dup
                     (5, "totally different text entirely here")])
        drain()
        flags = {r["doc_id"]: (r["dup_exact"], r["dup_near"], r["admitted"])
                 for r in read_admission_results(spark, results).collect()}
        assert flags == {1: (0, 0, 1), 2: (0, 0, 1),
                         3: (1, 1, 0), 4: (0, 1, 0), 5: (0, 0, 1)}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_admission_corrupt_sketch_fails_loudly(spark):
    """r10 (VERDICT #2): a corrupt sketch table must FAIL the drain, not
    be silently classified against an empty corpus (which would admit
    every true duplicate — silent data loss). The old bare
    ``except Exception`` did exactly that; the existence probe + raising
    read closes it."""
    import glob

    from bda_spadochrony_spark.streaming.admission import (
        default_sketch_path, stream_admission_dedup)
    base = tempfile.mkdtemp(prefix="bda_admit_corrupt_")
    in_dir = os.path.join(base, "in")
    corpus, results = os.path.join(base, "corpus"), os.path.join(base, "res")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir)
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])

    def drain():
        stream = file_stream(spark, f"{in_dir}/*/*.parquet", schema)
        stream_admission_dedup(stream, "doc_id", "text", corpus, results,
                               checkpoint=ckpt, min_jaccard=0.5)

    try:
        spark.createDataFrame([(1, "alpha beta gamma delta")], schema) \
            .coalesce(1).write.parquet(os.path.join(in_dir, "b0"))
        drain()
        for f in glob.glob(f"{default_sketch_path(corpus)}/batch_id=0/*.parquet"):
            with open(f, "wb") as fh:
                fh.write(b"garbage")
        spark.createDataFrame([(2, "alpha beta gamma delta")], schema) \
            .coalesce(1).write.parquet(os.path.join(in_dir, "b1"))
        with pytest.raises(Exception) as exc_info:
            drain()
        # the failure is the corrupt read surfacing, not a timeout
        assert not isinstance(exc_info.value, TimeoutError)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_sketch_classifier_multi_row_bands_knob(spark):
    """r10: rows_per_band>1 is the candidacy-explosion lever (per-band
    collision rate J^r instead of J). Exact duplicates survive ANY band
    width (identical signatures collide in every band, and the digest
    gate is band-independent); candidate volume must strictly shrink on
    a boilerplate-heavy corpus; weak near-dups MAY lose candidacy — the
    documented recall trade, not a bug.

    r11 (ADVICE): BOTH sides carry short/empty docs whose sketches hold
    EMPTY sig arrays. r>1 banding must skip them (element_at on an empty
    array raises under ANSI — one persisted short doc was a poison pill
    crashing every later drain) while the digest gate still catches a
    short exact dup, and must NOT bucket all short docs together (the
    hash-of-'' collision the naive fix would introduce)."""
    from bda_spadochrony_spark.operators.dedup import (
        _sketch_band_rows, admission_sketch, sketch_incremental_dedup)
    shared = "the quick brown fox jumps over the lazy dog again and again"
    corpus = [(i, f"{shared} tail{i} {'filler' * (i % 3)}")
              for i in range(30)]
    corpus += [(60, "hi"), (61, "")]               # short/empty: empty sig
    batch = [(100, corpus[5][1]),                  # exact dup
             (101, "completely unrelated fresh text body here"),
             (102, "hi"),                          # short exact dup of 60
             (103, "yo")]                          # short fresh doc
    cdf = spark.createDataFrame(corpus, "doc_id: long, text: string")
    bdf = spark.createDataFrame(batch, "doc_id: long, text: string")
    cs = admission_sketch(cdf, "doc_id", "text", num_hashes=16)
    bs = admission_sketch(bdf, "doc_id", "text", num_hashes=16)

    def cand_count(r):
        nb = _sketch_band_rows(bs, "doc_id", "id_a", r, 16)
        eb = _sketch_band_rows(cs, "doc_id", "id_b", r, 16)
        return (nb.join(eb, ["band_id", "band_hash"])
                .select("id_a", "id_b").distinct().count())

    n1, n4 = cand_count(1), cand_count(4)
    assert n4 < n1, f"wider bands must shrink candidacy ({n4} !< {n1})"
    # empty-sig docs emit no band rows at ANY width (no ANSI crash, no
    # short-doc collision bucket)
    for r in (1, 4):
        for side, frame in (("batch", bs), ("corpus", cs)):
            short_ids = {60, 61, 102, 103}
            banded = {row["x"] for row in _sketch_band_rows(
                frame, "doc_id", "x", r, 16).select("x").collect()}
            assert not (banded & short_ids), \
                f"short docs banded at r={r} on {side}: {banded & short_ids}"
    for r in (1, 4):
        flags = {row["doc_id"]: (row["dup_exact"], row["admitted"])
                 for row in sketch_incremental_dedup(
                     bs, cs, "doc_id", min_jaccard=0.5,
                     rows_per_band=r, num_hashes=16).collect()}
        assert flags[100] == (1, 0), f"exact dup lost at r={r}"
        assert flags[101] == (0, 1), f"fresh doc flagged at r={r}"
        assert flags[102] == (1, 0), f"short exact dup lost at r={r}"
        assert flags[103] == (0, 1), f"short fresh doc flagged at r={r}"


def test_incremental_dedup_accepts_existing_sketch(spark):
    """r10: the batch operator takes the persisted sketch frame directly
    (existing_sketch=) — the corpus side never re-tokenizes — and the
    flags equal the raw-text path's exactly."""
    from bda_spadochrony_spark.operators.dedup import (admission_sketch,
                                                       incremental_dedup)
    from bda_spadochrony_spark.operators.sampling import hash_bucket
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    is_existing = hash_bucket("doc_id") < F.lit(2147483648)
    new, existing = docs.where(~is_existing), docs.where(is_existing)
    want = sorted(map(tuple, incremental_dedup(
        new, existing, "doc_id", "text", min_jaccard=0.5).collect()))
    sk = admission_sketch(existing, "doc_id", "text")
    got = sorted(map(tuple, incremental_dedup(
        new, None, "doc_id", "text", min_jaccard=0.5,
        existing_sketch=sk).collect()))
    assert got == want


def test_stream_ann_index_matches_one_shot_and_prunes(spark):
    """r11: the streamed-in, cell-partitioned IVF index is
    semantics-preserving — searching it equals the one-shot ivf_topk
    with the same quantizer — and the search scan actually PRUNES: its
    physical plan carries a non-empty PartitionFilters on cell. Also
    pins the idempotent-replay contract: re-appending the same batch_id
    overwrites, never double-counts."""
    import re

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_topk, ivf_topk)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_t_")
    index = os.path.join(base, "index")
    try:
        halves = [emb.where(F.col("vec_id") % 2 == 0),
                  emb.where(F.col("vec_id") % 2 == 1)]
        for i, half in enumerate(halves):
            ann_index_append(half, i, index, centers, "vec_id")
        # replay batch 1 (at-least-once epoch): must overwrite, not dup
        ann_index_append(halves[1], 1, index, centers, "vec_id")
        got_df = ann_index_topk(spark, index, emb, "vec_id",
                                centers=centers, k=3, n_probe=4)
        got = sorted((r["query_id"], r["corpus_id"],
                      round(r["cosine"], 9)) for r in got_df.collect())
        want = sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ivf_topk(emb, emb, "vec_id", "vec_id", k=3,
                               n_lists=16, n_probe=4,
                               centers=centers).collect())
        assert got == want
        # no duplicate corpus hits per query (the replay would show here)
        seen = {}
        for q, c, _ in got:
            assert c not in seen.setdefault(q, set())
            seen[q].add(c)
        # plan assertion: the index scan is partition-pruned on cell
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        pf = [m for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
              if "cell" in m]
        assert pf, f"no cell PartitionFilters in:\n{plan[:3000]}"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_topk_sub_tiling_preserves_values(spark):
    """r11: corpus_blocks/query_blocks sub-tile a cell whose corpus or
    probe side outgrows one executor's memory (the 100 TB knob on the
    BLAS tile scoring). Tiling must be value-INVISIBLE: every (cell,
    corpus row, probe row) pair still meets exactly once, and the
    global top-k (with its tie-break) is byte-identical to the
    untiled search."""
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_topk)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_blk_")
    index = os.path.join(base, "index")
    try:
        ann_index_append(emb, 0, index, centers, "vec_id")
        def run(cb, qb):
            return sorted(
                (r["query_id"], r["corpus_id"], round(r["cosine"], 9))
                for r in ann_index_topk(spark, index, emb, "vec_id",
                                        centers=centers, k=3, n_probe=2,
                                        corpus_blocks=cb,
                                        query_blocks=qb).collect())
        base_rows = run(1, 1)
        assert base_rows == run(3, 2)
        assert base_rows == run(2, 4)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_topk_requires_centers(spark):
    """r11: searching an index with a different (or no) quantizer than
    the one that laid out the cells silently misses neighbors — the
    operator refuses instead."""
    from bda_spadochrony_spark.operators.similarity import ann_index_topk
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="persisted quantizer"):
        ann_index_topk(spark, "/nonexistent", emb, "vec_id")


def test_stream_ann_index_pq_matches_one_shot_and_prunes(spark):
    """r12 (VERDICT r11 #1): the CODES-ONLY streamed index is
    semantics-preserving — appending PQ codes per batch and searching
    via the ADC tile + bounded exact rerank equals the one-shot
    ivf_pq_topk with the same quantizer and codebooks — the search scan
    partition-prunes on cell, the replay contract holds, and the
    at-rest layout really is codes-only: the index files carry
    (corpus_id, codes, rnm, cell) and NO vector column."""
    import re

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append_pq, ann_index_pq_topk, ivf_pq_topk, pq_codebooks)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    cbs = pq_codebooks(emb, "vec_id")
    base = tempfile.mkdtemp(prefix="bda_annidx_pq_t_")
    index = os.path.join(base, "index")
    try:
        halves = [emb.where(F.col("vec_id") % 2 == 0),
                  emb.where(F.col("vec_id") % 2 == 1)]
        for i, half in enumerate(halves):
            ann_index_append_pq(half, i, index, centers, cbs, "vec_id")
        # replay batch 1 (at-least-once epoch): must overwrite, not dup
        ann_index_append_pq(halves[1], 1, index, centers, cbs, "vec_id")
        # the at-rest contract: codes + stored norm, never the vectors
        idx_cols = set(spark.read.parquet(index).columns)
        assert idx_cols == {"corpus_id", "codes", "rnm", "cell",
                            "batch_id"}
        got_df = ann_index_pq_topk(spark, index, emb, "vec_id",
                                   vectors=emb, centers=centers,
                                   codebooks=cbs, k=3, n_candidates=10,
                                   n_probe=2)
        got = sorted((r["query_id"], r["corpus_id"],
                      round(r["cosine"], 9)) for r in got_df.collect())
        want = sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ivf_pq_topk(emb, "vec_id", k=3, n_candidates=10,
                                  n_probe=2, centers=centers).collect())
        assert got == want
        seen = {}
        for q, c, _ in got:
            assert c not in seen.setdefault(q, set())
            seen[q].add(c)
        # plan assertion: the index scan is partition-pruned on cell
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        pf = [m for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
              if "cell" in m]
        assert pf, f"no cell PartitionFilters in:\n{plan[:3000]}"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_compact_folds_batches_and_recovers(spark):
    """r12: compaction folds per-batch append dirs into one batch_id=-1
    generation with identical search results and pruning, is
    idempotent, keeps absorbing later appends, and its recovery step
    completes a crashed purge (a folded dir resurrected next to a live
    manifest is removed, never double-counted)."""
    import json

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_topk)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_cmp_t_")
    index = os.path.join(base, "index")

    def search():
        return sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ann_index_topk(spark, index, emb, "vec_id",
                                     centers=centers, k=3,
                                     n_probe=4).collect())

    try:
        thirds = [emb.where(F.col("vec_id") % 3 == i) for i in range(3)]
        ann_index_append(thirds[0], 0, index, centers, "vec_id")
        ann_index_append(thirds[1], 1, index, centers, "vec_id")
        ann_index_append(thirds[1], 1, index, centers, "vec_id")  # replay
        before = search()
        assert ann_index_compact(spark, index) == 2
        dirs = sorted(d for d in os.listdir(index)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-1"]
        assert search() == before
        # idempotent: nothing left to fold
        assert ann_index_compact(spark, index) == 0
        # later appends keep folding into the same generation
        ann_index_append(thirds[2], 2, index, centers, "vec_id")
        full = search()
        assert ann_index_compact(spark, index) == 1
        assert search() == full
        # crashed-purge recovery: resurrect a folded dir and name it in
        # the live generation's manifest — the next compact removes it
        # without double-counting
        ann_index_append(thirds[2], 3, index, centers, "vec_id")
        json.dump(["batch_id=3"],
                  open(os.path.join(index, "batch_id=-1",
                                    "_folded.json"), "w"))
        assert ann_index_compact(spark, index) == 0
        assert not os.path.exists(os.path.join(index, "batch_id=3"))
        assert search() == full
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_search_isolated_from_crashed_compaction(spark):
    """r13 (VERDICT r12 #1): a compaction crash can never double-count
    or lose rows for a READER. Both crash windows are built by hand:
    (a) promote→purge — folded batch dirs resurrected next to the live
    generation whose _folded.json names them: the search excludes them;
    (b) mid-promote — the prior generation moved aside, the staged one
    complete, the pending sidecar on disk and batch_id=-1 MISSING: the
    search reads the staged generation and still excludes its folded
    dirs. The next maintenance call recovers each state to exactly one
    generation with identical results."""
    import json

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_topk)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_crash_")
    index = os.path.join(base, "index")
    gen = os.path.join(index, "batch_id=-1")

    def search():
        return sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ann_index_topk(spark, index, emb, "vec_id",
                                     centers=centers, k=3,
                                     n_probe=4).collect())

    try:
        halves = [emb.where(F.col("vec_id") % 2 == i) for i in range(2)]
        ann_index_append(halves[0], 0, index, centers, "vec_id")
        ann_index_append(halves[1], 1, index, centers, "vec_id")
        want = search()
        pre = os.path.join(base, "pre")  # pre-compaction snapshot
        shutil.copytree(index, pre)
        assert ann_index_compact(spark, index) == 2
        # (a) crashed PURGE: resurrect a folded dir; the generation's
        # manifest still names it — a search must not double-count
        shutil.copytree(os.path.join(pre, "batch_id=0"),
                        os.path.join(index, "batch_id=0"))
        assert search() == want
        # recovery (any maintenance call) removes the leftover
        assert ann_index_compact(spark, index) == 0
        assert not os.path.exists(os.path.join(index, "batch_id=0"))
        assert search() == want
        # (b) crashed mid-PROMOTE: move the generation aside as the
        # staged copy, restore the pre-compaction generation state
        # (batch dirs back, no batch_id=-1), write the pending sidecar
        staging = f"{index}__compact_stage"
        old = f"{index}__oldgen_crashed"
        os.replace(gen, staging)
        for d in ("batch_id=0", "batch_id=1"):
            shutil.copytree(os.path.join(pre, d), os.path.join(index, d))
        json.dump({"staging": staging, "old": old},
                  open(os.path.join(index, "_compact_pending.json"), "w"))
        assert search() == want  # reads staging, excludes its folded dirs
        # recovery completes the promote and the purge
        assert ann_index_compact(spark, index) == 0
        dirs = sorted(d for d in os.listdir(index)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-1"]
        assert not os.path.exists(staging)
        assert not os.path.exists(
            os.path.join(index, "_compact_pending.json"))
        assert search() == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_compact_crash_matrix(spark, monkeypatch):
    """r13 — the definitive crash test: fault-inject EVERY filesystem
    mutation ann_index_compact performs (each os.replace, each
    shutil.rmtree, the sidecar os.remove), one run per injection point,
    and prove that at every crash point (a) a search over the crashed
    index returns exactly the pre-crash results — the manifest/sidecar
    read isolation, (b) the next ann_index_compact call recovers to
    exactly one generation with unchanged results and no leftover
    sidecars or siblings. The final iteration (fault beyond the last
    mutation) is the clean run and closes the matrix."""
    import os as os_mod
    import shutil as shutil_mod

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_topk)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_matrix_")

    def build(idx):
        ann_index_append(emb.where(F.col("vec_id") % 3 == 0), 0, idx,
                         centers, "vec_id")
        ann_index_append(emb.where(F.col("vec_id") % 3 != 0), 1, idx,
                         centers, "vec_id")

    def search(idx):
        return sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ann_index_topk(spark, idx, emb, "vec_id",
                                     centers=centers, k=3,
                                     n_probe=4).collect())

    proto = os.path.join(base, "proto")
    build(proto)
    want = search(proto)

    real_replace = os_mod.replace
    real_rmtree = shutil_mod.rmtree
    real_remove = os_mod.remove
    state = {"budget": None, "count": 0}

    def spend():
        if state["budget"] is not None:
            if state["count"] >= state["budget"]:
                raise RuntimeError("injected crash")
            state["count"] += 1

    def patched_replace(src, dst):
        if "annidx_matrix" in str(src) or "annidx_matrix" in str(dst):
            spend()
        return real_replace(src, dst)

    def patched_rmtree(path, *a, **kw):
        if "annidx_matrix" in str(path):
            spend()
        return real_rmtree(path, *a, **kw)

    def patched_remove(path):
        if "annidx_matrix" in str(path) and str(path).endswith(".json"):
            spend()
        return real_remove(path)

    monkeypatch.setattr(os_mod, "replace", patched_replace)
    monkeypatch.setattr(shutil_mod, "rmtree", patched_rmtree)
    monkeypatch.setattr(os_mod, "remove", patched_remove)

    clean_seen = False
    for k in range(0, 12):
        idx = os.path.join(base, f"run{k}")
        state["budget"] = None
        real_rmtree(idx, ignore_errors=True)
        shutil_mod.copytree(proto, idx)
        state["budget"], state["count"] = k, 0
        try:
            folded = ann_index_compact(spark, idx)
            crashed = False
        except RuntimeError:
            crashed = True
        state["budget"] = None
        # (a) read isolation at this crash point
        assert search(idx) == want, f"crash point {k}: search diverged"
        # (b) recovery converges to one clean generation
        ann_index_compact(spark, idx)
        dirs = sorted(d for d in os.listdir(idx)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-1"], (k, dirs)
        assert not os.path.exists(os.path.join(idx,
                                               "_compact_pending.json"))
        assert not [d for d in os.listdir(base)
                    if d.startswith(f"run{k}__")], k
        assert search(idx) == want, f"crash point {k}: post-recovery"
        if not crashed:
            assert folded == 2
            clean_seen = True
            break
    assert clean_seen, "fault budget never exceeded the mutation count"
    real_rmtree(base, ignore_errors=True)


def test_ann_index_double_crash_matrix(spark, monkeypatch):
    """r14 — one proof level up from the r13 single-crash matrices:
    RECOVERY ITSELF is a sequence of filesystem mutations, so a crash
    during recovery of a crashed compaction leaves a second-order
    state. For EVERY compaction crash point k1 × every recovery crash
    point k2: crash the compact at k1, crash the recovering compact at
    k2, then run one unfaulted maintenance call — the index must
    converge to exactly one clean generation with unchanged search
    results. This pins that recovery is IDEMPOTENT under partial
    execution (each step re-derives from on-disk state, never from
    memory of prior steps)."""
    import os as os_mod
    import shutil as shutil_mod

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_topk)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_dmatrix_")

    proto = os.path.join(base, "proto")
    ann_index_append(emb.where(F.col("vec_id") % 3 == 0), 0, proto,
                     centers, "vec_id")
    ann_index_append(emb.where(F.col("vec_id") % 3 != 0), 1, proto,
                     centers, "vec_id")

    def search(idx):
        return sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ann_index_topk(spark, idx, emb, "vec_id",
                                     centers=centers, k=3,
                                     n_probe=4).collect())

    want = search(proto)

    real_replace = os_mod.replace
    real_rmtree = shutil_mod.rmtree
    real_remove = os_mod.remove
    state = {"budget": None, "count": 0}

    def spend(path):
        if state["budget"] is not None and "annidx_dmatrix" in str(path):
            if state["count"] >= state["budget"]:
                raise RuntimeError("injected crash")
            state["count"] += 1

    monkeypatch.setattr(os_mod, "replace",
                        lambda s, d: (spend(s), real_replace(s, d))[1])
    monkeypatch.setattr(shutil_mod, "rmtree",
                        lambda p, *a, **kw: (spend(p),
                                             real_rmtree(p, *a, **kw))[1])
    monkeypatch.setattr(
        os_mod, "remove",
        lambda p: (spend(p) if str(p).endswith(".json") else None,
                   real_remove(p))[1])

    covered = 0
    for k1 in range(0, 10):
        k2_crashed_any = False
        for k2 in range(0, 10):
            idx = os.path.join(base, f"run{k1}_{k2}")
            state["budget"] = None
            real_rmtree(idx, ignore_errors=True)
            shutil_mod.copytree(proto, idx)
            # first-order crash: the compaction dies at point k1
            state["budget"], state["count"] = k1, 0
            try:
                ann_index_compact(spark, idx)
                crashed1 = False
            except RuntimeError:
                crashed1 = True
            # second-order crash: the RECOVERING call dies at point k2
            state["budget"], state["count"] = k2, 0
            try:
                ann_index_compact(spark, idx)
                crashed2 = False
            except RuntimeError:
                crashed2 = True
            state["budget"] = None
            # read isolation even in the second-order state
            assert search(idx) == want, f"({k1},{k2}): search diverged"
            # one unfaulted call converges from ANY double-crash state
            ann_index_compact(spark, idx)
            dirs = sorted(d for d in os.listdir(idx)
                          if d.startswith("batch_id="))
            assert dirs == ["batch_id=-1"], (k1, k2, dirs)
            assert not os.path.exists(
                os.path.join(idx, "_compact_pending.json"))
            assert not [d for d in os.listdir(base)
                        if d.startswith(f"run{k1}_{k2}__")], (k1, k2)
            assert search(idx) == want, f"({k1},{k2}): post-recovery"
            covered += 1
            k2_crashed_any = k2_crashed_any or crashed2
            if not crashed2:
                break          # k2 beyond this recovery's mutation count
        if not crashed1:
            break              # k1 beyond the compaction's mutation count
    assert covered >= 12, f"matrix too small to mean anything: {covered}"
    real_rmtree(base, ignore_errors=True)


def test_ann_index_compact_crash_matrix_hadoop_fs(spark, monkeypatch):
    """r14 (VERDICT r13 #1, the stronger form): the compact crash
    matrix re-proved THROUGH THE HADOOP-FS BRANCH — fault-inject every
    HadoopFS mutation (replace / rmtree / remove) of a file:// index,
    one run per injection point, and assert read isolation at the
    crash point plus convergent recovery, exactly like the local
    matrix. The local matrix cannot cover this branch: its injection
    seams are os.replace/shutil.rmtree, which the JVM-gateway calls
    never touch."""
    import json

    from bda_spadochrony_spark import fs as fsmod
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_topk)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_hmatrix_")

    def build(idx):
        ann_index_append(emb.where(F.col("vec_id") % 3 == 0), 0, idx,
                         centers, "vec_id")
        ann_index_append(emb.where(F.col("vec_id") % 3 != 0), 1, idx,
                         centers, "vec_id")

    def search(idx):
        return sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ann_index_topk(spark, idx, emb, "vec_id",
                                     centers=centers, k=3,
                                     n_probe=4).collect())

    proto = os.path.join(base, "proto")
    build(proto)
    want = search(proto)

    state = {"budget": None, "count": 0}

    def spend(path):
        if state["budget"] is not None and "annidx_hmatrix" in str(path):
            if state["count"] >= state["budget"]:
                raise RuntimeError("injected crash")
            state["count"] += 1

    real_replace = fsmod.HadoopFS.replace
    real_rmtree = fsmod.HadoopFS.rmtree
    real_remove = fsmod.HadoopFS.remove
    monkeypatch.setattr(
        fsmod.HadoopFS, "replace",
        lambda self, s, d: (spend(s), real_replace(self, s, d))[1])
    monkeypatch.setattr(
        fsmod.HadoopFS, "rmtree",
        lambda self, p: (spend(p), real_rmtree(self, p))[1])
    monkeypatch.setattr(
        fsmod.HadoopFS, "remove",
        lambda self, p: (spend(p) if str(p).endswith(".json") else None,
                         real_remove(self, p))[1])

    clean_seen = False
    for k in range(0, 12):
        real = os.path.join(base, f"run{k}")
        uri = f"file://{real}"
        state["budget"] = None
        shutil.rmtree(real, ignore_errors=True)
        shutil.copytree(proto, real)
        state["budget"], state["count"] = k, 0
        try:
            folded = ann_index_compact(spark, uri)
            crashed = False
        except RuntimeError:
            crashed = True
        state["budget"] = None
        # (a) read isolation at this crash point, through HadoopFS
        assert search(uri) == want, f"hfs crash point {k}: search diverged"
        # (b) recovery converges to one clean generation
        ann_index_compact(spark, uri)
        dirs = sorted(d for d in os.listdir(real)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-1"], (k, dirs)
        assert not os.path.exists(
            os.path.join(real, "_compact_pending.json"))
        assert not [d for d in os.listdir(base)
                    if d.startswith(f"run{k}__")], k
        assert search(uri) == want, f"hfs crash point {k}: post-recovery"
        if not crashed:
            assert folded == 2
            clean_seen = True
            break
    assert clean_seen, "fault budget never exceeded the mutation count"
    shutil.rmtree(base, ignore_errors=True)


def test_ann_index_rebuild_crash_matrix(spark, monkeypatch):
    """r13 — the rebuild twin of the compact crash matrix, pinning the
    ROLLBACK policy the matrix itself surfaced: a crashed rebuild never
    returned its refit artifacts, so the staged new-quantizer layout is
    unreadable to every caller still holding the old centers — at every
    crash point where the pre-rebuild copy survives, BOTH the
    manifest-aware search and the next maintenance call must serve/
    restore the ORIGINAL (old-centers reads stay exactly correct); only
    the terminal window (old already purged, sidecar not yet removed)
    stands forward, where re-running the rebuild refits idempotently.
    Fault-injects every filesystem mutation of the promote (the two
    renames, the old purge, the sidecar remove), one run per point."""
    import os as os_mod
    import shutil as shutil_mod

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_rebuild,
        ann_index_topk, ivf_topk, kmeans_centers)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers_old = kmeans_centers(emb, "embedding", n_cells=4, seed=7) \
        .localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_rebmx_")
    proto = os.path.join(base, "proto")
    ann_index_append(emb, 0, proto, centers_old, "vec_id", profile=True)

    def search(idx, cents):
        return sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ann_index_topk(spark, idx, emb, "vec_id",
                                     centers=cents, k=2,
                                     n_probe=2).collect())

    want_old = search(proto, centers_old)

    real_replace, real_rmtree = os_mod.replace, shutil_mod.rmtree
    real_remove = os_mod.remove
    state = {"budget": None, "count": 0}

    def spend(path):
        if state["budget"] is not None and "annidx_rebmx" in str(path):
            if state["count"] >= state["budget"]:
                raise RuntimeError("injected crash")
            state["count"] += 1

    monkeypatch.setattr(os_mod, "replace",
                        lambda s, d: (spend(s), real_replace(s, d))[1])
    monkeypatch.setattr(shutil_mod, "rmtree",
                        lambda p, *a, **kw: (spend(p),
                                             real_rmtree(p, *a, **kw))[1])

    def patched_remove(p):
        if str(p).endswith(".json"):
            spend(p)
        return real_remove(p)

    monkeypatch.setattr(os_mod, "remove", patched_remove)

    clean_seen = False
    for k in range(0, 8):
        idx = os.path.join(base, f"run{k}")
        state["budget"] = None
        real_rmtree(idx, ignore_errors=True)
        shutil_mod.copytree(proto, idx)
        state["budget"], state["count"] = k, 0
        try:
            ann_index_rebuild(spark, idx, n_cells=4, seed=42)
            crashed = False
        except RuntimeError:
            crashed = True
        state["budget"] = None
        import json as _json
        pending = f"{idx}__pending.json"
        old_dir = (_json.load(open(pending)).get("old")
                   if os.path.exists(pending) else None)
        rolled_back = bool(old_dir and os.path.isdir(old_dir))
        if crashed and rolled_back:
            # the pre-rebuild copy survives somewhere: an old-centers
            # reader must get EXACTLY the original results pre-recovery
            assert search(idx, centers_old) == want_old, \
                f"crash point {k}: old-centers read diverged"
        # recovery (any maintenance call) converges to one live index
        ann_index_compact(spark, idx)
        assert os.path.isdir(idx), k
        assert not os.path.exists(pending), k
        assert not [d for d in os.listdir(base)
                    if d.startswith(f"run{k}__")], k
        if crashed and rolled_back:
            # rollback restored the ORIGINAL layout
            assert search(idx, centers_old) == want_old, k
        # redo/complete: a (re-)run rebuild returns artifacts that are
        # self-consistent with one-shot ivf_topk over the same rows
        c2, _ = ann_index_rebuild(spark, idx, n_cells=4, seed=42)
        got = search(idx, c2)
        want_new = sorted((r["query_id"], r["corpus_id"],
                           round(r["cosine"], 9)) for r in
                          ivf_topk(emb, emb, "vec_id", "vec_id", k=2,
                                   n_lists=4, n_probe=2,
                                   centers=c2).collect())
        assert got == want_new, f"crash point {k}: redo diverged"
        if not crashed:
            clean_seen = True
            break
    assert clean_seen, "fault budget never exceeded the mutation count"
    real_rmtree(base, ignore_errors=True)


def test_ann_index_rebuild_crash_matrix_hadoop_fs(spark, monkeypatch):
    """r14: the rebuild crash matrix through the Hadoop-FS branch —
    fault-inject every HadoopFS mutation of a file:// index's
    whole-index promote (sidecar write rename, the two promote renames,
    the old purge, the sidecar remove) and pin the same ROLLBACK policy
    the local matrix proves: wherever the pre-rebuild copy survives,
    old-centers reads stay exactly correct and recovery restores the
    original; a (re-)run rebuild then converges."""
    import json

    from bda_spadochrony_spark import fs as fsmod
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_rebuild,
        ann_index_topk, ivf_topk, kmeans_centers)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers_old = kmeans_centers(emb, "embedding", n_cells=4, seed=7) \
        .localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_hrebmx_")
    proto = os.path.join(base, "proto")
    ann_index_append(emb, 0, proto, centers_old, "vec_id", profile=True)

    def search(idx, cents):
        return sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ann_index_topk(spark, idx, emb, "vec_id",
                                     centers=cents, k=2,
                                     n_probe=2).collect())

    want_old = search(proto, centers_old)

    state = {"budget": None, "count": 0}

    def spend(path):
        if state["budget"] is not None and "annidx_hrebmx" in str(path):
            if state["count"] >= state["budget"]:
                raise RuntimeError("injected crash")
            state["count"] += 1

    real_replace = fsmod.HadoopFS.replace
    real_rmtree = fsmod.HadoopFS.rmtree
    real_remove = fsmod.HadoopFS.remove
    monkeypatch.setattr(
        fsmod.HadoopFS, "replace",
        lambda self, s, d: (spend(s), real_replace(self, s, d))[1])
    monkeypatch.setattr(
        fsmod.HadoopFS, "rmtree",
        lambda self, p: (spend(p), real_rmtree(self, p))[1])
    monkeypatch.setattr(
        fsmod.HadoopFS, "remove",
        lambda self, p: (spend(p) if str(p).endswith(".json") else None,
                         real_remove(self, p))[1])

    clean_seen = False
    for k in range(0, 10):
        real = os.path.join(base, f"run{k}")
        uri = f"file://{real}"
        state["budget"] = None
        shutil.rmtree(real, ignore_errors=True)
        shutil.copytree(proto, real)
        state["budget"], state["count"] = k, 0
        try:
            ann_index_rebuild(spark, uri, n_cells=4, seed=42)
            crashed = False
        except RuntimeError:
            crashed = True
        state["budget"] = None
        pending = f"{real}__pending.json"
        old_dir = None
        if os.path.exists(pending):
            try:
                meta = json.load(open(pending))
                od = meta.get("old")
                # sidecar paths are file:// URIs here
                od_real = od.replace("file://", "") if od else None
                old_dir = od_real if od_real and os.path.isdir(od_real) \
                    else None
            except ValueError:
                pass
        rolled_back = old_dir is not None
        if crashed and rolled_back:
            assert search(uri, centers_old) == want_old, \
                f"hfs crash point {k}: old-centers read diverged"
        ann_index_compact(spark, uri)
        assert os.path.isdir(real), k
        assert not os.path.exists(pending), k
        assert not [d for d in os.listdir(base)
                    if d.startswith(f"run{k}__")], k
        if crashed and rolled_back:
            assert search(uri, centers_old) == want_old, k
        c2, _ = ann_index_rebuild(spark, uri, n_cells=4, seed=42)
        got = search(uri, c2)
        want_new = sorted((r["query_id"], r["corpus_id"],
                           round(r["cosine"], 9)) for r in
                          ivf_topk(emb, emb, "vec_id", "vec_id", k=2,
                                   n_lists=4, n_probe=2,
                                   centers=c2).collect())
        assert got == want_new, f"hfs crash point {k}: redo diverged"
        if not crashed:
            clean_seen = True
            break
    assert clean_seen, "fault budget never exceeded the mutation count"
    shutil.rmtree(base, ignore_errors=True)


def test_ann_index_rebuild_recovers_mid_promote(spark):
    """r13 (r12 ADVICE): a crash between ann_index_rebuild's two
    renames (index moved aside, staging not yet promoted) leaves NO
    directory at index_path — the pending sidecar lets a search read
    the staged copy in the window and lets the next maintenance call
    complete the promote; nothing is stranded or lost."""
    import json

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_rebuild,
        ann_index_topk, kmeans_centers)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = kmeans_centers(emb, "embedding", n_cells=4, seed=42) \
        .localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_rebcrash_")
    index = os.path.join(base, "index")
    try:
        ann_index_append(emb, 0, index, centers, "vec_id", profile=True)
        centers2, _ = ann_index_rebuild(spark, index, n_cells=4, seed=42)

        def search():
            return sorted((r["query_id"], r["corpus_id"],
                           round(r["cosine"], 9)) for r in
                          ann_index_topk(spark, index, emb, "vec_id",
                                         centers=centers2, k=2,
                                         n_probe=2).collect())

        want = search()
        # hand-build the mid-promote crash state: index moved aside as
        # old, a complete staged copy, the sidecar naming both
        staging = f"{index}__rebuild_stage"
        old = f"{index}__old_crashed"
        shutil.copytree(index, staging)
        os.replace(index, old)
        json.dump({"staging": staging, "old": old},
                  open(f"{index}__pending.json", "w"))
        assert not os.path.isdir(index)
        assert search() == want  # the search reads through the sidecar
        # any maintenance call completes the promote
        assert ann_index_compact(spark, index) == 0
        assert os.path.isdir(index)
        assert not os.path.exists(staging)
        assert not os.path.exists(old)
        assert not os.path.exists(f"{index}__pending.json")
        assert search() == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_encode_with_loaded_tokenizer_artifact(spark):
    """r14 (VERDICT r13 #4): a streaming encode drain using a LOADED
    tokenizer artifact — train once, save, load, then foreachBatch-
    encode micro-batches arriving as files, with the drained output
    equal to the one-shot batch encode. This is the production shape:
    the trainer runs rarely, the artifact is what the always-on encode
    stream holds."""
    from bda_spadochrony_spark.operators.corpus import (
        bpe_encode, bpe_load, bpe_save, bpe_train)
    from bda_spadochrony_spark.streaming.runner import run_foreach_batch
    from bda_spadochrony_spark.streaming.sources import file_stream
    texts = [(i, t) for i, t in enumerate(
        ["low low low lower lowest", "new newer newest news",
         "aaa banana bandana", "low newer banana low",
         "üü rocket 🚀 banana", "newest lowest news low"])]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    base = tempfile.mkdtemp(prefix="bda_bpe_stream_")
    art, in_dir, out, ckpt = (f"{base}/tok", f"{base}/in",
                              f"{base}/out", f"{base}/ckpt")
    try:
        trained = bpe_train(df, "text", n_merges=8, alphabet="bytes")
        bpe_save(trained, art, alphabet="bytes")
        tok = bpe_load(spark, art)
        want = sorted((r["doc_id"], tuple(r["symbols"])) for r in
                      bpe_encode(df, "doc_id", "text", tok.merges,
                                 alphabet="bytes").collect())
        # two staged epochs drained with the SAME loaded artifact
        for i, half in enumerate(
                [df.where(F.col("doc_id") % 2 == 0),
                 df.where(F.col("doc_id") % 2 == 1)]):
            half.write.parquet(f"{in_dir}/b{i}")
            q = run_foreach_batch(
                file_stream(spark, f"{in_dir}/*/*.parquet", df.schema),
                lambda b, bid: tok.encode(b, "doc_id", "text")
                .write.mode("append").parquet(out),
                available_now=True, checkpoint=ckpt)
            assert q.awaitTermination(120)
        got = sorted((r["doc_id"], tuple(r["symbols"]))
                     for r in spark.read.parquet(out).collect())
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_hadoop_fs_branch(spark):
    """r14 (VERDICT r13 #1): a ``file://`` index path routes every
    maintenance promote/purge/scan through the Hadoop FileSystem of its
    scheme (the JVM gateway — the reference's own S7 mechanism) instead
    of the local stdlib, so the crash-proved maintenance story survives
    off a local disk. Drives the full loop through the HadoopFS branch:
    primitive ops, append → search → compact → crashed-purge recovery →
    rebuild, with results equal to the same index on a plain local
    path."""
    import json

    from bda_spadochrony_spark.fs import HadoopFS, LocalFS, index_fs
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_rebuild,
        ann_index_topk)
    from bda_spadochrony_spark.sources.readers import scan
    base = tempfile.mkdtemp(prefix="bda_annidx_hfs_")
    uri = f"file://{base}/index"          # HadoopFS branch
    local = os.path.join(base, "plain")   # LocalFS control
    try:
        # resolution + primitive ops through the JVM gateway
        assert isinstance(index_fs(uri, spark), HadoopFS)
        assert isinstance(index_fs(local), LocalFS)
        fs = index_fs(uri, spark)
        probe = f"file://{base}/probe.json"
        fs.write_text_atomic(probe, json.dumps({"a": 1}))
        assert json.loads(fs.read_text(probe)) == {"a": 1}
        assert fs.exists(probe) and not fs.isdir(probe)
        fs.replace(probe, f"file://{base}/probe2.json")
        assert not os.path.exists(f"{base}/probe.json")
        assert fs.exists(f"file://{base}/probe2.json")
        fs.remove(f"file://{base}/probe2.json")

        emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
        centers = emb.where(F.col("vec_id") < 16).select(
            F.col("vec_id").cast("int").alias("cell"),
            F.col("embedding").alias("centroid")).localCheckpoint()
        halves = [emb.where(F.col("vec_id") % 2 == i) for i in range(2)]
        for path in (uri, local):
            ann_index_append(halves[0], 0, path, centers, "vec_id",
                             profile=True)
            ann_index_append(halves[1], 1, path, centers, "vec_id",
                             profile=True)

        def search(path, cents):
            return sorted((r["query_id"], r["corpus_id"],
                           round(r["cosine"], 9)) for r in
                          ann_index_topk(spark, path, emb, "vec_id",
                                         centers=cents, k=3,
                                         n_probe=4).collect())

        want = search(local, centers)
        assert search(uri, centers) == want
        assert fs.has_parquet(f"{uri}/batch_id=0")
        # compact through HadoopFS: promote + strict purge
        assert ann_index_compact(spark, uri) == 2
        assert search(uri, centers) == want
        real = f"{base}/index"
        dirs = sorted(d for d in os.listdir(real)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-1"], dirs
        # crashed-purge recovery: resurrect a folded dir named by the
        # live generation's manifest — the scan excludes it, the next
        # maintenance call deletes it, all through HadoopFS
        ann_index_append(halves[0], 0, local, centers, "vec_id")
        shutil.copytree(os.path.join(local, "batch_id=0"),
                        os.path.join(real, "batch_id=0"))
        # write the resurrection manifest THROUGH the shim: file:// is a
        # checksummed Hadoop filesystem, so a bare python write would
        # leave a stale .crc behind
        fs.write_text_atomic(f"{uri}/batch_id=-1/_folded.json",
                             json.dumps(["batch_id=0"]))
        assert search(uri, centers) == want
        assert ann_index_compact(spark, uri) == 0
        assert not os.path.exists(os.path.join(real, "batch_id=0"))
        assert search(uri, centers) == want
        # rebuild: the sidecar-guarded whole-index promote through
        # HadoopFS rename/delete
        c2, _ = ann_index_rebuild(spark, uri, n_cells=4, seed=42)
        assert not os.path.exists(f"{real}__pending.json")
        got = {r["corpus_id"] for r in
               spark.read.parquet(uri).select("corpus_id").collect()}
        assert got == {r["vec_id"] for r in
                       emb.select("vec_id").collect()}
        assert len(search(uri, c2)) == len(want)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_search_racing_compaction_semantics(spark):
    """r14 (VERDICT r13 #2) — pins the concurrency contract in the
    similarity module docstring. ``_ann_index_scan`` enumerates files at
    PLAN time, so a search planned before a compaction promote and
    executed after it must FAIL LOUD (Spark FAILED_READ_FILE) — never
    silently return partial/empty rows (which is why the scan must not
    set ignoreMissingFiles). The carve-out:
    ``ann_index_compact(retain_folded=True)`` keeps the folded batch
    dirs on disk until the next maintenance call, so the same stale
    plan returns exactly its pre-compaction snapshot, while fresh plans
    exclude the folded dirs through the manifest."""
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_topk)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_race_")

    def build(idx):
        # profile=True so the drift-check leg of the grace test below
        # has its _profile sidecars
        ann_index_append(emb.where(F.col("vec_id") % 2 == 0), 0, idx,
                         centers, "vec_id", profile=True)
        ann_index_append(emb.where(F.col("vec_id") % 2 == 1), 1, idx,
                         centers, "vec_id", profile=True)

    def rows(df):
        return sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in df.collect())

    def plan(idx):
        return ann_index_topk(spark, idx, emb, "vec_id", centers=centers,
                              k=3, n_probe=4)

    try:
        # (a) default: fail loud, never silently wrong
        idx = os.path.join(base, "strict")
        build(idx)
        want = rows(plan(idx))
        stale = plan(idx)                     # file listing captured now
        assert ann_index_compact(spark, idx) == 2
        with pytest.raises(Exception, match="FAILED_READ_FILE|does not exist"):
            stale.collect()
        assert rows(plan(idx)) == want        # fresh plan: fine
        # (b) retain_folded: one maintenance interval of reader grace
        idx2 = os.path.join(base, "grace")
        build(idx2)
        stale2 = plan(idx2)
        assert ann_index_compact(spark, idx2, retain_folded=True) == 2
        assert rows(stale2) == want           # pre-compaction snapshot
        assert rows(plan(idx2)) == want       # manifest excludes folded
        kept = sorted(d for d in os.listdir(idx2)
                      if d.startswith("batch_id="))
        assert kept == ["batch_id=-1", "batch_id=0", "batch_id=1"], kept
        # the drift check runs inside the same maintain call as the
        # fold and reads only _profile sidecars — it must NOT sweep the
        # grace dirs (purge_folded=False, r14), or retain_folded would
        # be cancelled milliseconds after it was granted
        from bda_spadochrony_spark.operators.similarity import (
            ann_index_drift, quantizer_profile)
        ref = quantizer_profile(emb, centers, "vec_id").localCheckpoint()
        ann_index_drift(spark, idx2, centers, ref).collect()
        still = sorted(d for d in os.listdir(idx2)
                       if d.startswith("batch_id="))
        assert still == ["batch_id=-1", "batch_id=0", "batch_id=1"], still
        assert rows(stale2) == want           # grace survives the check
        # the NEXT maintenance call sweeps the retained dirs (recovery's
        # manifest purge — also what makes an immediate re-compact safe
        # from double-folding them)
        assert ann_index_compact(spark, idx2) == 0
        left = sorted(d for d in os.listdir(idx2)
                      if d.startswith("batch_id="))
        assert left == ["batch_id=-1"], left
        assert rows(plan(idx2)) == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_maintenance_lease(spark):
    """r14: opt-in enforcement of the single-writer contract — the
    advisory lease acquires via exclusive-create, blocks a live
    second maintainer, breaks stale leases (torn / dead same-host pid /
    past TTL), always releases, and plumbs through the one-call
    maintain loop via lease_ttl_s."""
    import json
    import time

    import numpy as np

    from bda_spadochrony_spark.fs import LocalFS, index_fs
    from bda_spadochrony_spark.operators.similarity import (
        MaintenanceLeaseHeld, ann_index_lease, kmeans_centers,
        quantizer_profile)
    base = tempfile.mkdtemp(prefix="bda_lease_")
    idx = os.path.join(base, "idx")
    lease = f"{idx}__lease.json"
    try:
        # acquire / contention / release
        with ann_index_lease(idx):
            assert os.path.exists(lease)
            with pytest.raises(MaintenanceLeaseHeld):
                with ann_index_lease(idx):
                    pass
        assert not os.path.exists(lease)
        # torn lease breaks
        with open(lease, "w") as fh:
            fh.write('{"pid": ')
        with ann_index_lease(idx):
            assert json.load(open(lease))["pid"] == os.getpid()
        # dead same-host pid breaks immediately (TTL not yet expired)
        import socket
        json.dump({"pid": 2 ** 22 + 77, "host": socket.gethostname(),
                   "acquired_at": time.time()}, open(lease, "w"))
        with ann_index_lease(idx, ttl_s=3600):
            pass
        # live FOREIGN lease inside TTL blocks
        json.dump({"pid": os.getpid(), "host": "another-host",
                   "acquired_at": time.time()}, open(lease, "w"))
        with pytest.raises(MaintenanceLeaseHeld):
            with ann_index_lease(idx, ttl_s=3600):
                pass
        # ...but breaks once past TTL
        json.dump({"pid": os.getpid(), "host": "another-host",
                   "acquired_at": time.time() - 120}, open(lease, "w"))
        with ann_index_lease(idx, ttl_s=60):
            pass
        assert not os.path.exists(lease)
        # exclusive-create through the HadoopFS branch (file://)
        hfs = index_fs(f"file://{base}/h.json", spark)
        hfs.create_exclusive(f"file://{base}/h.json", "x")
        with pytest.raises(FileExistsError):
            hfs.create_exclusive(f"file://{base}/h.json", "y")
        assert isinstance(index_fs(idx), LocalFS)
        # plumbing: the one-call maintain loop under a lease (quiet
        # path) acquires, runs, releases
        from bda_spadochrony_spark.streaming.ann_index import (
            stream_ann_index_maintain)
        from bda_spadochrony_spark.streaming.sources import file_stream
        rng = np.random.RandomState(5)
        fit = spark.createDataFrame(
            [(i, (rng.randn(8) + (i % 2) * 4.0).tolist())
             for i in range(40)], "vec_id: long, embedding: array<double>")
        centers = kmeans_centers(fit, "embedding", n_cells=2, seed=1) \
            .localCheckpoint()
        ref = quantizer_profile(fit, centers, "vec_id").localCheckpoint()
        in_dir, index2, ckpt = (f"{base}/in", f"{base}/index2",
                                f"{base}/ck")
        fit.write.parquet(f"{in_dir}/b0")
        c, r, rebuilt = stream_ann_index_maintain(
            file_stream(spark, f"{in_dir}/*/*.parquet", fit.schema),
            index2, centers, ref, "vec_id", checkpoint=ckpt,
            lease_ttl_s=300.0)
        assert not rebuilt
        assert not os.path.exists(f"{index2}__lease.json")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_sidecar_read_errors_are_not_torn_writes():
    """r14 (narrow-except rule): only torn-WRITE evidence — invalid
    JSON, a checksum mismatch, a vanished file — may read as 'promote
    never started'. Any other read failure (permission, network,
    missing class) must RAISE: if an environment problem were treated
    as a missing sidecar, recovery would drop the sidecar and the
    orphan sweep could delete the moved-aside copy it still names."""
    from bda_spadochrony_spark.operators.similarity import _load_sidecar

    class FakeFS:
        def __init__(self, exc=None, text=None):
            self.exc, self.text = exc, text

        def exists(self, p):
            return True

        def read_text(self, p):
            if self.exc:
                raise self.exc
            return self.text

    assert _load_sidecar(FakeFS(text='{"a": 1}'), "x") == {"a": 1}
    assert _load_sidecar(FakeFS(text='{"a": '), "x") is None   # torn
    assert _load_sidecar(
        FakeFS(exc=RuntimeError("ChecksumException: at 0")), "x") is None
    assert _load_sidecar(FakeFS(exc=FileNotFoundError()), "x") is None
    with pytest.raises(PermissionError):
        _load_sidecar(FakeFS(exc=PermissionError("denied")), "x")
    with pytest.raises(RuntimeError, match="quota"):
        _load_sidecar(FakeFS(exc=RuntimeError("quota exceeded")), "x")


def test_gc_orphans_never_deletes_sole_surviving_copy():
    """r14 (defense in depth): the orphan sweep deletes staging-type
    siblings unconditionally (they are never data), but a moved-ASIDE
    sibling (__old_/__oldgen_) is only swept when the live target it
    would restore exists — if the index (or its generation) is missing,
    the 'orphan' may be the only surviving copy and must be kept."""
    import json

    from bda_spadochrony_spark.fs import LocalFS
    from bda_spadochrony_spark.operators.similarity import _gc_orphans
    fs = LocalFS()
    base = tempfile.mkdtemp(prefix="bda_gc_guard_")
    index = os.path.join(base, "idx")
    try:
        # index MISSING: old/oldgen kept, staging-type still swept
        os.makedirs(f"{index}__old_x")
        os.makedirs(f"{index}__oldgen_y")
        os.makedirs(f"{index}__rebuild_z")
        _gc_orphans(fs, index)
        assert os.path.isdir(f"{index}__old_x")
        assert os.path.isdir(f"{index}__oldgen_y")
        assert not os.path.exists(f"{index}__rebuild_z")
        # index present but NO generation: old swept, oldgen kept
        os.makedirs(index)
        _gc_orphans(fs, index)
        assert not os.path.exists(f"{index}__old_x")
        assert os.path.isdir(f"{index}__oldgen_y")
        # generation present too: everything reclaimable
        os.makedirs(os.path.join(index, "batch_id=-1"))
        _gc_orphans(fs, index)
        assert not os.path.exists(f"{index}__oldgen_y")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_torn_sidecar_tolerated(spark):
    """r14 (r13 ADVICE, medium): sidecars are now written atomically
    (temp + rename), and a TORN sidecar — only possible on filesystems
    without atomic rename — reads as 'promote never started' instead of
    raising on every search and every recovery. Searches over an index
    with shredded pending/compact sidecars return the plain-view
    results; the next maintenance call drops the shreds and sweeps any
    orphaned staging sibling."""
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_topk)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_torn_")
    index = os.path.join(base, "index")

    def search():
        return sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ann_index_topk(spark, index, emb, "vec_id",
                                     centers=centers, k=3,
                                     n_probe=4).collect())

    try:
        ann_index_append(emb, 0, index, centers, "vec_id")
        want = search()
        # torn whole-index pending sidecar + an orphaned staging sibling
        # (the state a crash during the sidecar write leaves behind)
        orphan = f"{index}__rebuild_orphan"
        shutil.copytree(index, orphan)
        with open(f"{index}__pending.json", "w") as fh:
            fh.write('{"staging": "' )  # torn mid-write
        # torn compact sidecar + a stray atomic-write temp
        with open(os.path.join(index, "_compact_pending.json"), "w") as fh:
            fh.write("{not json")
        with open(os.path.join(index,
                               "_compact_pending.json.tmp"), "w") as fh:
            fh.write("{half")
        assert search() == want  # reads the plain pre-promote view
        assert ann_index_compact(spark, index) == 1  # folds batch 0
        assert not os.path.exists(f"{index}__pending.json")
        assert not os.path.exists(
            os.path.join(index, "_compact_pending.json"))
        assert not os.path.exists(
            os.path.join(index, "_compact_pending.json.tmp"))
        assert not os.path.exists(orphan)  # GC swept the orphan
        assert search() == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_drain_recovers_crashed_rebuild_before_append(spark):
    """r14 (r13 ADVICE, high): a rebuild crash between its two renames
    followed by a DRAIN of new micro-batches must lose nothing. Before
    the fix, the drain appended batch dirs into a fresh index_path (the
    real index was still moved aside as __old) and committed them to
    the stream checkpoint; the next maintenance call's recovery then
    rolled the rebuild back with ``rmtree(index_path)`` — deleting the
    just-drained batches the checkpoint will never replay. The drains
    now run ``_ann_index_recover`` BEFORE draining, so the appends land
    on the restored index and every checkpointed row survives."""
    import json

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact)
    from bda_spadochrony_spark.sources.readers import scan
    from bda_spadochrony_spark.streaming.ann_index import (
        stream_ann_index_build)
    from bda_spadochrony_spark.streaming.sources import file_stream
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    base = tempfile.mkdtemp(prefix="bda_annidx_drainrec_")
    in_dir, index, ckpt = f"{base}/in", f"{base}/index", f"{base}/ckpt"
    staged = emb.select("vec_id", "embedding")
    schema = staged.schema
    try:
        # epoch 0: first half drained normally
        staged.where(F.col("vec_id") % 2 == 0).write.parquet(f"{in_dir}/b0")
        stream_ann_index_build(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, "vec_id", checkpoint=ckpt)
        # hand-build the crashed-rebuild state: index moved aside as
        # old, a complete staged new layout, the pending sidecar on disk
        staging = f"{index}__rebuild_stage"
        old = f"{index}__old_crashed"
        shutil.copytree(index, staging)
        os.replace(index, old)
        json.dump({"staging": staging, "old": old},
                  open(f"{index}__pending.json", "w"))
        # epoch 1: second half arrives and is drained + checkpointed
        staged.where(F.col("vec_id") % 2 == 1).write.parquet(f"{in_dir}/b1")
        stream_ann_index_build(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, "vec_id", checkpoint=ckpt)
        # maintenance after the drain must keep BOTH halves
        ann_index_compact(spark, index)
        got = {r["corpus_id"] for r in
               spark.read.parquet(index).select("corpus_id").collect()}
        assert got == all_ids, (
            f"lost {len(all_ids - got)} checkpointed rows")
        assert not os.path.exists(f"{index}__pending.json")
        assert not os.path.exists(staging) and not os.path.exists(old)
        # idempotence: a replayed drain call on the same checkpoint
        # neither duplicates nor drops anything
        stream_ann_index_build(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, "vec_id", checkpoint=ckpt)
        got2 = {r["corpus_id"] for r in
                spark.read.parquet(index).select("corpus_id").collect()}
        assert got2 == all_ids
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_pq_drain_recovers_crashed_rebuild_before_append(spark):
    """r14: the PQ drain's twin of the recovery-before-drain data-loss
    pin — stream_ann_index_build_pq has its own recovery call, so a
    regression there would not be caught by the raw drain's test. Same
    scenario: crashed rebuild state, then a checkpointed PQ drain of
    new rows, then maintenance — every checkpointed row must survive."""
    import json

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append_pq, ann_index_compact, pq_codebooks)
    from bda_spadochrony_spark.sources.readers import scan
    from bda_spadochrony_spark.streaming.ann_index import (
        stream_ann_index_build_pq)
    from bda_spadochrony_spark.streaming.sources import file_stream
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    cbs = pq_codebooks(emb, "vec_id")
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    base = tempfile.mkdtemp(prefix="bda_annidx_pqdrainrec_")
    in_dir, index, ckpt = f"{base}/in", f"{base}/index", f"{base}/ckpt"
    staged = emb.select("vec_id", "embedding")
    schema = staged.schema
    try:
        staged.where(F.col("vec_id") % 2 == 0).write.parquet(f"{in_dir}/b0")
        stream_ann_index_build_pq(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, cbs, "vec_id", checkpoint=ckpt)
        staging = f"{index}__rebuild_stage"
        old = f"{index}__old_crashed"
        shutil.copytree(index, staging)
        os.replace(index, old)
        json.dump({"staging": staging, "old": old},
                  open(f"{index}__pending.json", "w"))
        staged.where(F.col("vec_id") % 2 == 1).write.parquet(f"{in_dir}/b1")
        stream_ann_index_build_pq(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, cbs, "vec_id", checkpoint=ckpt)
        ann_index_compact(spark, index)
        got = {r["corpus_id"] for r in
               spark.read.parquet(index).select("corpus_id").collect()}
        assert got == all_ids, (
            f"lost {len(all_ids - got)} checkpointed rows")
        assert not os.path.exists(f"{index}__pending.json")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_ann_index_auto_compacts(spark):
    """r13 (VERDICT r12 #5): compact_every=N wired into the drain loop
    — three drains with compact_every=2 leave exactly one compacted
    generation plus one fresh batch directory (the third drain lands
    after the fold and stays under threshold), with search results
    identical to the uncompacted index."""
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_topk, ivf_topk)
    from bda_spadochrony_spark.sources.readers import scan
    from bda_spadochrony_spark.streaming.ann_index import (
        stream_ann_index_build)
    from bda_spadochrony_spark.streaming.sources import file_stream
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_autoc_")
    in_dir, index, ckpt = f"{base}/in", f"{base}/index", f"{base}/ckpt"
    staged = emb.select("vec_id", "embedding")
    schema = staged.schema
    try:
        for i in range(3):
            staged.where(F.col("vec_id") % 3 == i) \
                  .write.parquet(f"{in_dir}/b{i}")
            stream_ann_index_build(
                file_stream(spark, f"{in_dir}/*/*.parquet", schema),
                index, centers, "vec_id", checkpoint=ckpt,
                compact_every=2)
        dirs = sorted(d for d in os.listdir(index)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-1", "batch_id=2"], dirs
        got = sorted((r["query_id"], r["corpus_id"],
                      round(r["cosine"], 9)) for r in
                     ann_index_topk(spark, index, emb, "vec_id",
                                    centers=centers, k=3,
                                    n_probe=4).collect())
        want = sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ivf_topk(emb, emb, "vec_id", "vec_id", k=3,
                               n_lists=16, n_probe=4,
                               centers=centers).collect())
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_search_exclude_self_namespaces(spark):
    """r13 (r12 ADVICE): exclude_self=False serves query frames whose
    ids live in a DIFFERENT namespace than the corpus — an id collision
    must not drop a legitimate nearest neighbor. With the default
    (self-search) the row with the query's own id is excluded; with
    exclude_self=False the colliding corpus row ranks normally (here:
    the query IS corpus row 0's vector, so corpus row 0 is its top hit
    at cosine 1.0). Covers both layouts (raw BLAS tile and PQ ADC
    tile)."""
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_append_pq, ann_index_pq_topk,
        ann_index_topk, pq_codebooks)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    # external queries: ids 0..2 in their OWN namespace, vectors copied
    # from corpus rows 0..2 — every id "collides" with an unrelated row
    queries = emb.where(F.col("vec_id") < 3)
    base = tempfile.mkdtemp(prefix="bda_annidx_selfx_")
    raw_idx = os.path.join(base, "raw")
    pq_idx = os.path.join(base, "pq")
    try:
        ann_index_append(emb, 0, raw_idx, centers, "vec_id")
        with_self = {
            (r["query_id"], r["corpus_id"]) for r in
            ann_index_topk(spark, raw_idx, queries, "vec_id",
                           centers=centers, k=1, n_probe=4,
                           exclude_self=False).collect()}
        # the colliding row is each query's own vector: top-1 at 1.0
        assert with_self == {(i, i) for i in range(3)}
        without = {
            (r["query_id"], r["corpus_id"]) for r in
            ann_index_topk(spark, raw_idx, queries, "vec_id",
                           centers=centers, k=1, n_probe=4).collect()}
        assert all(q != c for q, c in without)
        cbs = pq_codebooks(emb, "vec_id")
        ann_index_append_pq(emb, 0, pq_idx, centers, cbs, "vec_id")
        pq_with_self = {
            (r["query_id"], r["corpus_id"]) for r in
            ann_index_pq_topk(spark, pq_idx, queries, "vec_id",
                              vectors=emb, centers=centers, codebooks=cbs,
                              k=1, n_candidates=5, n_probe=4,
                              exclude_self=False).collect()}
        assert pq_with_self == {(i, i) for i in range(3)}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_ann_index_drift_trigger(spark):
    """r12: the streamed index's rebuild trigger end to end — appends
    with profile=True leave quantizer-census sidecars, and
    ann_index_drift folds them against the fit-time profile without
    reading the index or any corpus: an index fed data like the fit
    corpus stays quiet; draining a DRIFTED batch on top fires the
    decision. The sidecar survives compaction (underscore dir,
    invisible to the index's own readers)."""
    import numpy as np

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_drift,
        kmeans_centers, quantizer_profile)
    rng = np.random.RandomState(11)
    fit = spark.createDataFrame(
        [(i, (rng.randn(64) * 0.3 + (i % 4) * 5.0).tolist())
         for i in range(120)], "vec_id: long, embedding: array<double>")
    centers = kmeans_centers(fit, "embedding", n_cells=4, seed=42) \
        .localCheckpoint()
    ref = quantizer_profile(fit, centers, "vec_id").localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_drift_t_")
    index = os.path.join(base, "index")
    try:
        ann_index_append(fit.where(F.col("vec_id") % 2 == 0), 0, index,
                         centers, "vec_id", profile=True)
        ann_index_append(fit.where(F.col("vec_id") % 2 == 1), 1, index,
                         centers, "vec_id", profile=True)
        quiet = ann_index_drift(spark, index, centers, ref).collect()[0]
        assert not quiet["rebuild"], quiet
        # compaction must not disturb the monitor's sidecars
        assert ann_index_compact(spark, index) == 2
        still = ann_index_drift(spark, index, centers, ref).collect()[0]
        assert not still["rebuild"]
        # a drifted batch lands: occupancy shifts + cells loosen
        drifted = spark.createDataFrame(
            [(1000 + i, (rng.randn(64) * 0.3 + (i % 2) * 11.0 + 2.5)
              .tolist()) for i in range(240)],
            "vec_id: long, embedding: array<double>")
        ann_index_append(drifted, 2, index, centers, "vec_id",
                         profile=True)
        fired = ann_index_drift(spark, index, centers, ref).collect()[0]
        assert fired["rebuild"], fired
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_ann_index_rebuild_closes_loop(spark):
    """r12: the full maintenance loop — monitor fires on drift,
    ann_index_rebuild refits on the index's own stored vectors and
    rewrites it as one generation under the new quantizer, the new
    reference profile reads clean, and searching the rebuilt index
    equals one-shot ivf_topk over the same rows with the new centers."""
    import numpy as np

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_drift, ann_index_rebuild,
        ann_index_topk, ivf_topk, kmeans_centers, quantizer_profile)
    rng = np.random.RandomState(13)
    fit = spark.createDataFrame(
        [(i, (rng.randn(64) * 0.3 + (i % 4) * 5.0).tolist())
         for i in range(120)], "vec_id: long, embedding: array<double>")
    drifted = spark.createDataFrame(
        [(1000 + i, (rng.randn(64) * 0.3 + (i % 2) * 11.0 + 2.5)
          .tolist()) for i in range(240)],
        "vec_id: long, embedding: array<double>")
    centers = kmeans_centers(fit, "embedding", n_cells=4, seed=42) \
        .localCheckpoint()
    ref = quantizer_profile(fit, centers, "vec_id").localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_reb_t_")
    index = os.path.join(base, "index")
    try:
        ann_index_append(fit, 0, index, centers, "vec_id", profile=True)
        ann_index_append(drifted, 1, index, centers, "vec_id",
                         profile=True)
        fired = ann_index_drift(spark, index, centers, ref).collect()[0]
        assert fired["rebuild"]
        centers2, ref2 = ann_index_rebuild(spark, index, n_cells=4,
                                           seed=42)
        # one generation, sidecar replaced, monitor quiet again
        dirs = sorted(d for d in os.listdir(index)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-1"]
        calm = ann_index_drift(spark, index, centers2, ref2).collect()[0]
        assert not calm["rebuild"], calm
        # the rebuilt index searches identically to the one-shot
        # operator over the same rows under the new quantizer
        union = fit.unionByName(drifted)
        got = sorted((r["query_id"], r["corpus_id"],
                      round(r["cosine"], 9)) for r in
                     ann_index_topk(spark, index, union, "vec_id",
                                    centers=centers2, k=2,
                                    n_probe=2).collect())
        want = sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ivf_topk(union, union, "vec_id", "vec_id", k=2,
                               n_lists=4, n_probe=2,
                               centers=centers2).collect())
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_ann_index_maintain_full_loop(spark):
    """r13: the whole maintenance loop as ONE call — drain →
    auto-compact → drift-check → rebuild-if-fired. Call 1 drains
    fit-like data: monitor quiet, artifacts unchanged, index compacted
    at the threshold. Call 2 drains a drifted batch: the decision
    fires, the index rebuilds under freshly-fit centers, and searching
    it equals the one-shot ivf_topk over all indexed rows with the
    returned quantizer. The checkpoint survives the whole loop (the
    second call never re-reads call 1's input)."""
    import numpy as np

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_topk, ivf_topk, kmeans_centers, quantizer_profile)
    from bda_spadochrony_spark.streaming.ann_index import (
        stream_ann_index_maintain)
    from bda_spadochrony_spark.streaming.sources import file_stream
    rng = np.random.RandomState(29)
    fit = spark.createDataFrame(
        [(i, (rng.randn(64) * 0.3 + (i % 4) * 5.0).tolist())
         for i in range(120)], "vec_id: long, embedding: array<double>")
    drifted = spark.createDataFrame(
        [(1000 + i, (rng.randn(64) * 0.3 + (i % 2) * 11.0 + 2.5)
          .tolist()) for i in range(240)],
        "vec_id: long, embedding: array<double>")
    centers = kmeans_centers(fit, "embedding", n_cells=4, seed=42) \
        .localCheckpoint()
    ref = quantizer_profile(fit, centers, "vec_id").localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_maint_")
    in_dir, index, ckpt = f"{base}/in", f"{base}/index", f"{base}/ckpt"
    schema = fit.schema
    try:
        fit.where(F.col("vec_id") % 2 == 0).write.parquet(f"{in_dir}/b0")
        fit.where(F.col("vec_id") % 2 == 1).write.parquet(f"{in_dir}/b1")
        c1, r1, rebuilt1 = stream_ann_index_maintain(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, ref, "vec_id", checkpoint=ckpt,
            compact_every=1, n_cells=4, seed=42)
        assert not rebuilt1
        assert c1 is centers and r1 is ref
        dirs = sorted(d for d in os.listdir(index)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-1"], dirs   # compacted at threshold
        drifted.write.parquet(f"{in_dir}/b2")
        c2, r2, rebuilt2 = stream_ann_index_maintain(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, c1, r1, "vec_id", checkpoint=ckpt,
            compact_every=1, n_cells=4, seed=42)
        assert rebuilt2
        # the rebuilt index searches identically to the one-shot
        # operator over ALL indexed rows under the new quantizer
        union = fit.unionByName(drifted)
        got = sorted((r["query_id"], r["corpus_id"],
                      round(r["cosine"], 9)) for r in
                     ann_index_topk(spark, index, union, "vec_id",
                                    centers=c2, k=2,
                                    n_probe=2).collect())
        want = sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ivf_topk(union, union, "vec_id", "vec_id", k=2,
                               n_lists=4, n_probe=2,
                               centers=c2).collect())
        assert got == want
        # the loop's monitor reads clean under the new artifacts
        c3, r3, rebuilt3 = stream_ann_index_maintain(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, c2, r2, "vec_id", checkpoint=ckpt,
            compact_every=1, n_cells=4, seed=42)
        assert not rebuilt3                    # nothing new, no drift
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_ann_index_maintain_pq_full_loop(spark):
    """r14: the codes-only layout's one-call maintenance loop — the
    structural twin of test_stream_ann_index_maintain_full_loop with
    the PQ difference pinned: the rebuild refits quantizer AND
    codebooks from the corpus SOURCE table (codes are lossy; the index
    cannot refit from itself). Call 1: quiet, compacted, artifacts
    unchanged. Call 2 (drifted batch): fires, rebuilds from source,
    and the rebuilt index's ADC search equals the one-shot ivf_pq_topk
    under the returned artifacts. Call 3: quiet again under the new
    artifacts; checkpoint survives the whole loop."""
    import numpy as np

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_pq_topk, ivf_pq_topk, kmeans_centers, pq_codebooks,
        quantizer_profile)
    from bda_spadochrony_spark.streaming.ann_index import (
        stream_ann_index_maintain_pq)
    from bda_spadochrony_spark.streaming.sources import file_stream
    rng = np.random.RandomState(31)
    fit = spark.createDataFrame(
        [(i, (rng.randn(64) * 0.3 + (i % 4) * 5.0).tolist())
         for i in range(120)], "vec_id: long, embedding: array<double>")
    drifted = spark.createDataFrame(
        [(1000 + i, (rng.randn(64) * 0.3 + (i % 2) * 11.0 + 2.5)
          .tolist()) for i in range(240)],
        "vec_id: long, embedding: array<double>")
    centers = kmeans_centers(fit, "embedding", n_cells=4, seed=42) \
        .localCheckpoint()
    cbs = pq_codebooks(fit, "vec_id")
    ref = quantizer_profile(fit, centers, "vec_id").localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_annidx_maintpq_")
    in_dir, index, ckpt = f"{base}/in", f"{base}/index", f"{base}/ckpt"
    schema = fit.schema
    try:
        fit.where(F.col("vec_id") % 2 == 0).write.parquet(f"{in_dir}/b0")
        fit.where(F.col("vec_id") % 2 == 1).write.parquet(f"{in_dir}/b1")
        c1, cb1, r1, rebuilt1 = stream_ann_index_maintain_pq(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, centers, cbs, ref, fit, "vec_id", checkpoint=ckpt,
            compact_every=1, n_cells=4, seed=42)
        assert not rebuilt1
        assert c1 is centers and cb1 is cbs and r1 is ref
        dirs = sorted(d for d in os.listdir(index)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-1"], dirs   # compacted at threshold
        # codes-only at rest: no vector column in the index
        assert "cvec" not in spark.read.parquet(index).columns
        union = fit.unionByName(drifted).localCheckpoint()
        drifted.write.parquet(f"{in_dir}/b2")
        c2, cb2, r2, rebuilt2 = stream_ann_index_maintain_pq(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, c1, cb1, r1, union, "vec_id", checkpoint=ckpt,
            compact_every=1, n_cells=4, seed=42)
        assert rebuilt2
        got = sorted((r["query_id"], r["corpus_id"],
                      round(r["cosine"], 9)) for r in
                     ann_index_pq_topk(spark, index, union, "vec_id",
                                       vectors=union, centers=c2,
                                       codebooks=cb2, k=2,
                                       n_candidates=8,
                                       n_probe=2).collect())
        # ivf_pq_topk refits its own codebooks internally with the same
        # deterministic-subset convention rebuild_pq used over the same
        # source rows, so cb2 and the one-shot fit coincide
        want = sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ivf_pq_topk(union, "vec_id", k=2, n_probe=2,
                                  centers=c2,
                                  n_candidates=8).collect())
        assert got == want
        c3, cb3, r3, rebuilt3 = stream_ann_index_maintain_pq(
            file_stream(spark, f"{in_dir}/*/*.parquet", schema),
            index, c2, cb2, r2, union, "vec_id", checkpoint=ckpt,
            compact_every=1, n_cells=4, seed=42)
        assert not rebuilt3                    # nothing new, no drift
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ann_index_initial_build_crash_promotes_forward(spark):
    """r13: the one whole-index promote that stands FORWARD — the
    initial bulk build (ann_index_rebuild_pq with no pre-existing
    index) has no old-artifact readers to protect, so a crash between
    staging completion and the single promote rename recovers by
    completing it; the manifest-aware scan reads the staged copy even
    before recovery runs."""
    import json

    from bda_spadochrony_spark.operators.similarity import (
        _ann_index_scan, ann_index_compact, ann_index_rebuild_pq)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    base = tempfile.mkdtemp(prefix="bda_annidx_init_")
    index = os.path.join(base, "index")
    try:
        # build the staged copy by bulk-building elsewhere, then
        # hand-construct the pre-promote crash state
        donor = os.path.join(base, "donor")
        centers, cbs, _ = ann_index_rebuild_pq(spark, donor, emb,
                                               "vec_id", n_cells=4)
        staging = f"{index}__rebuild_crash"
        shutil.copytree(donor, staging)
        json.dump({"staging": staging, "old": f"{index}__old_never"},
                  open(f"{index}__pending.json", "w"))
        assert not os.path.isdir(index)
        # pre-recovery: the scan reads the staged copy
        n = _ann_index_scan(spark, index,
                            ["corpus_id", "cell", "codes", "rnm"]).count()
        assert n > 0
        # recovery completes the promote
        ann_index_compact(spark, index)
        assert os.path.isdir(index)
        assert not os.path.exists(staging)
        assert not os.path.exists(f"{index}__pending.json")
        m = _ann_index_scan(spark, index,
                            ["corpus_id", "cell", "codes", "rnm"]).count()
        assert m == n
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_ann_index_rebuild_pq_from_source(spark):
    """r12: the codes layout's rebuild — lossy codes cannot refit from
    themselves, so ann_index_rebuild_pq refits centers and codebooks
    from the corpus source, rewrites the index as one generation, and
    the rebuilt index's search equals the one-shot ivf_pq_topk over the
    same source under the new quantizer (identical subset codebooks by
    construction). The drift monitor reads clean against the returned
    reference."""
    import numpy as np

    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append_pq, ann_index_drift, ann_index_rebuild_pq,
        ann_index_pq_topk, ivf_pq_topk, kmeans_centers, pq_codebooks)
    rng = np.random.RandomState(17)
    fit = spark.createDataFrame(
        [(i, (rng.randn(64) * 0.3 + (i % 4) * 5.0).tolist())
         for i in range(120)], "vec_id: long, embedding: array<double>")
    drifted = spark.createDataFrame(
        [(1000 + i, (rng.randn(64) * 0.3 + (i % 2) * 11.0 + 2.5)
          .tolist()) for i in range(120)],
        "vec_id: long, embedding: array<double>")
    source = fit.unionByName(drifted).localCheckpoint()
    centers0 = kmeans_centers(fit, "embedding", n_cells=4, seed=42) \
        .localCheckpoint()
    cbs0 = pq_codebooks(fit, "vec_id")
    base = tempfile.mkdtemp(prefix="bda_annidx_rebpq_t_")
    index = os.path.join(base, "index")
    try:
        ann_index_append_pq(fit, 0, index, centers0, cbs0, "vec_id",
                            profile=True)
        ann_index_append_pq(drifted, 1, index, centers0, cbs0, "vec_id",
                            profile=True)
        c2, cbs2, ref2 = ann_index_rebuild_pq(spark, index, source,
                                              "vec_id", n_cells=4,
                                              seed=42)
        dirs = sorted(d for d in os.listdir(index)
                      if d.startswith("batch_id="))
        assert dirs == ["batch_id=-1"]
        calm = ann_index_drift(spark, index, c2, ref2).collect()[0]
        assert not calm["rebuild"], calm
        got = sorted((r["query_id"], r["corpus_id"],
                      round(r["cosine"], 9)) for r in
                     ann_index_pq_topk(spark, index, source, "vec_id",
                                       vectors=source, centers=c2,
                                       codebooks=cbs2, k=2,
                                       n_candidates=10,
                                       n_probe=2).collect())
        want = sorted((r["query_id"], r["corpus_id"],
                       round(r["cosine"], 9)) for r in
                      ivf_pq_topk(source, "vec_id", k=2,
                                  n_candidates=10, n_probe=2,
                                  centers=c2).collect())
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_lease_break_by_rename_closes_breaker_race():
    """r15 (ADVICE r14, medium): breaking a stale lease is by RENAME to
    a breaker-unique sibling, never by delete — delete-then-create let
    two maintainers that both judged the same lease stale interleave so
    one's remove destroyed the FRESH lease the other had already
    re-created, after which BOTH acquired. With rename arbitration the
    loser of the race restores the fresh lease it mis-grabbed and
    defers; a breaker whose target vanished first falls back to the
    create race."""
    import json
    import time

    from bda_spadochrony_spark.fs import LocalFS
    from bda_spadochrony_spark.operators.similarity import (
        MaintenanceLeaseHeld, ann_index_lease)

    base = tempfile.mkdtemp(prefix="bda_lease_race_")
    idx = os.path.join(base, "idx")
    lease = f"{idx}__lease.json"

    def write_lease(payload):
        with open(lease, "w") as fh:
            json.dump(payload, fh)

    stale = {"pid": os.getpid(), "host": "another-host",
             "acquired_at": time.time() - 9999, "token": "stale"}

    class RivalWinsFS(LocalFS):
        """Between this breaker's read and its rename, a rival breaks
        the stale lease and re-acquires — the exact interleaving the
        delete-based break lost."""

        def replace(self, src, dst):
            if src == lease:
                write_lease({"pid": 12345, "host": "rival-host",
                             "acquired_at": time.time(),
                             "token": "fresh"})
            super().replace(src, dst)

    try:
        # (a) parseable stale lease: the raced breaker must DEFER and
        # restore the rival's fresh lease, leaving no break sibling
        write_lease(stale)
        with pytest.raises(MaintenanceLeaseHeld):
            with ann_index_lease(idx, fs=RivalWinsFS(), ttl_s=60):
                pass
        assert json.load(open(lease))["token"] == "fresh"
        assert [f for f in os.listdir(base) if ".break." in f] == []
        os.remove(lease)
        # (b) torn stale lease, same race: same outcome
        with open(lease, "w") as fh:
            fh.write('{"pid": ')
        with pytest.raises(MaintenanceLeaseHeld):
            with ann_index_lease(idx, fs=RivalWinsFS(), ttl_s=60):
                pass
        assert json.load(open(lease))["token"] == "fresh"
        os.remove(lease)

        # (c) the stale lease vanishes before our rename (the rival
        # broke it first and has not yet re-created): fall back to the
        # create race and win it
        class VanishFS(LocalFS):
            def replace(self, src, dst):
                if src == lease and os.path.exists(lease):
                    os.remove(lease)
                super().replace(src, dst)

        write_lease(stale)
        with ann_index_lease(idx, fs=VanishFS(), ttl_s=60):
            assert json.load(open(lease))["pid"] == os.getpid()
        assert not os.path.exists(lease)

        # (d) no race at all: stale lease is broken and re-acquired,
        # and the break sibling is cleaned up
        write_lease(stale)
        with ann_index_lease(idx, ttl_s=60):
            assert json.load(open(lease))["pid"] == os.getpid()
        assert [f for f in os.listdir(base) if ".break." in f] == []
    finally:
        shutil.rmtree(base, ignore_errors=True)


class _JClass:
    def __init__(self, name):
        self._name = name

    def getName(self):
        return self._name


class _JEx:
    """Shape of a py4j java_exception: getClass().getName() + a cause
    chain."""

    def __init__(self, name, cause=None):
        self._cls, self._cause = _JClass(name), cause

    def getClass(self):
        return self._cls

    def getCause(self):
        return self._cause


class _PyJErr(Exception):
    def __init__(self, je, msg="opaque localized message"):
        super().__init__(msg)
        self.java_exception = je


def test_hadoop_exception_mapping_by_class_name():
    """r15 (VERDICT r14 #7 / ADVICE r14): Hadoop exception mapping keys
    on the Java exception CLASS (walked through the py4j cause chain),
    with the message substring only as fallback — py4j message formats
    vary across Hadoop versions, stores, and locales."""
    from bda_spadochrony_spark.fs import HadoopFS, java_exception_classes
    from bda_spadochrony_spark.operators.similarity import _load_sidecar

    assert java_exception_classes(_PyJErr(_JEx(
        "org.apache.hadoop.fs.FileAlreadyExistsException"))) == \
        ["FileAlreadyExistsException"]
    assert java_exception_classes(_PyJErr(_JEx(
        "java.io.IOException",
        _JEx("org.apache.hadoop.fs.ChecksumException")))) == \
        ["IOException", "ChecksumException"]
    assert java_exception_classes(RuntimeError("plain")) == []

    class _FakeJFS:
        def __init__(self, ex):
            self._ex = ex

        def create(self, p, overwrite):
            raise self._ex

    def hfs(ex):
        h = object.__new__(HadoopFS)
        h._fs = _FakeJFS(ex)
        h._p = lambda p: p
        return h

    # class-name match with a message no substring test would catch
    with pytest.raises(FileExistsError):
        hfs(_PyJErr(_JEx("org.apache.hadoop.fs.FileAlreadyExistsException"),
                    msg="Datei existiert bereits")).create_exclusive("x", "t")
    # ...including the java.nio flavor, nested as a cause? No — only the
    # direct class or the substring; the nio flavor surfaces directly
    with pytest.raises(FileExistsError):
        hfs(_PyJErr(_JEx("java.nio.file.FileAlreadyExistsException"),
                    msg="localized")).create_exclusive("x", "t")
    # substring fallback for shapes the walker cannot reach
    with pytest.raises(FileExistsError):
        hfs(RuntimeError("path already exists")).create_exclusive("x", "t")
    # unrelated failures still raise as themselves
    with pytest.raises(_PyJErr, match="disk full"):
        hfs(_PyJErr(_JEx("java.io.IOException"),
                    msg="disk full")).create_exclusive("x", "t")

    # _load_sidecar's torn-write evidence: class-name first, substring
    # fallback, everything else raises (the narrow-except rule)
    class _FakeFS:
        def __init__(self, exc):
            self._exc = exc

        def exists(self, p):
            return True

        def read_text(self, p):
            raise self._exc

    assert _load_sidecar(_FakeFS(_PyJErr(_JEx(
        "org.apache.hadoop.fs.ChecksumException"),
        msg="localized checksum text")), "x") is None
    assert _load_sidecar(_FakeFS(_PyJErr(_JEx(
        "java.io.FileNotFoundException"), msg="localized")), "x") is None
    with pytest.raises(_PyJErr, match="quota"):
        _load_sidecar(_FakeFS(_PyJErr(_JEx("java.io.IOException"),
                                      msg="quota exceeded")), "x")


def test_retain_folded_keeps_oldgen_through_drift(spark):
    """r15 (ADVICE r14): ann_index_compact(retain_folded=True) documents
    that the superseded generation sibling (__oldgen_*) survives until
    the NEXT maintenance call — but the drift check runs _ann_index_recover
    (purge_folded=False) inside the SAME maintain call, and its orphan
    sweep used to delete the sibling immediately. The sweep now keeps
    __oldgen_* when purge_folded=False, so behavior matches the
    documented one-maintenance-interval retention; the next FULL
    recover (purge_folded=True) still reclaims it."""
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append, ann_index_compact, ann_index_drift,
        quantizer_profile)
    from bda_spadochrony_spark.sources.readers import scan

    emb = scan(spark, "/root/testdata/sf0.001/embeddings.parquet")
    centers = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid")).localCheckpoint()
    base = tempfile.mkdtemp(prefix="bda_oldgen_grace_")
    idx = os.path.join(base, "idx")

    def oldgens():
        return [d for d in os.listdir(base) if "__oldgen_" in d]

    try:
        ann_index_append(emb.where(F.col("vec_id") % 2 == 0), 0, idx,
                         centers, "vec_id", profile=True)
        assert ann_index_compact(spark, idx) == 1   # generation exists now
        ann_index_append(emb.where(F.col("vec_id") % 2 == 1), 1, idx,
                         centers, "vec_id", profile=True)
        assert ann_index_compact(spark, idx, retain_folded=True) == 1
        assert len(oldgens()) == 1, oldgens()       # grace granted
        ref = quantizer_profile(emb, centers, "vec_id").localCheckpoint()
        ann_index_drift(spark, idx, centers, ref).collect()
        assert len(oldgens()) == 1, oldgens()       # grace SURVIVES drift
        # next full maintenance call reclaims both the folded batch dir
        # and the generation sibling
        assert ann_index_compact(spark, idx) == 0
        assert oldgens() == []
        left = sorted(d for d in os.listdir(idx)
                      if d.startswith("batch_id="))
        assert left == ["batch_id=-1"], left
    finally:
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("via_uri", [False, True],
                         ids=["localfs", "hadoopfs"])
def test_lease_contention_across_real_processes(spark, via_uri):
    """r15 (VERDICT r14 #6): lease contention proved across two REAL
    processes, not monkeypatches — a second OS process acquires and
    HOLDS the index's advisory lease, a real maintain(lease_ttl_s=...)
    in this process must raise MaintenanceLeaseHeld without touching
    the index, and after the holder is killed with SIGKILL (kill -9)
    the next maintainer breaks the dead-same-host-pid lease and
    completes, leaving the index consistent and the lease released.
    The hadoopfs variant runs the maintain through the file:// Hadoop
    branch while the holder contends through LocalFS on the same
    physical file — cross-branch mutual exclusion on one lease."""
    import signal
    import subprocess
    import sys
    import time

    import numpy as np

    from bda_spadochrony_spark.operators.similarity import (
        MaintenanceLeaseHeld, kmeans_centers, quantizer_profile)
    from bda_spadochrony_spark.streaming.ann_index import (
        stream_ann_index_maintain)
    from bda_spadochrony_spark.streaming.sources import file_stream

    base = tempfile.mkdtemp(prefix="bda_lease_proc_")
    local_idx = os.path.join(base, "index")
    idx = f"file://{local_idx}" if via_uri else local_idx
    try:
        rng = np.random.RandomState(7)
        fit = spark.createDataFrame(
            [(i, (rng.randn(8) + (i % 2) * 4.0).tolist())
             for i in range(40)], "vec_id: long, embedding: array<double>")
        centers = kmeans_centers(fit, "embedding", n_cells=2, seed=1) \
            .localCheckpoint()
        ref = quantizer_profile(fit, centers, "vec_id").localCheckpoint()
        in_dir, ckpt = f"{base}/in", f"{base}/ck"
        fit.write.parquet(f"{in_dir}/b0")
        stream = file_stream(spark, f"{in_dir}/*/*.parquet", fit.schema)

        # a real second process acquires and holds the lease (LocalFS —
        # pure filesystem, no Spark needed in the holder)
        holder = subprocess.Popen(
            [sys.executable, "-c", (
                "import sys, time\n"
                "sys.path.insert(0, '/root/repo')\n"
                "from bda_spadochrony_spark.operators.similarity import "
                "ann_index_lease\n"
                f"ctx = ann_index_lease({local_idx!r}, ttl_s=3600)\n"
                "ctx.__enter__()\n"
                "print('HELD', flush=True)\n"
                "time.sleep(600)\n")],
            stdout=subprocess.PIPE, text=True)
        try:
            assert holder.stdout.readline().strip() == "HELD"
            # contention: the live foreign-process lease must block a
            # real maintain BEFORE it drains anything
            with pytest.raises(MaintenanceLeaseHeld):
                stream_ann_index_maintain(
                    stream, idx, centers, ref, "vec_id",
                    checkpoint=ckpt, lease_ttl_s=3600.0)
            assert not os.path.exists(local_idx)   # untouched
            assert os.path.exists(f"{local_idx}__lease.json")
        finally:
            # kill -9 the holder; reap it so the pid probe sees it dead
            # (an unreaped zombie still answers kill(pid, 0))
            holder.send_signal(signal.SIGKILL)
            holder.wait()
        # the dead-same-host-pid lease is broken and the maintain runs
        # to completion
        c, r, rebuilt = stream_ann_index_maintain(
            stream, idx, centers, ref, "vec_id",
            checkpoint=ckpt, lease_ttl_s=3600.0)
        assert not rebuilt
        assert not os.path.exists(f"{local_idx}__lease.json")
        # index consistent: every input row landed exactly once
        got = (spark.read.option("basePath", idx).parquet(idx)
               .select("corpus_id").distinct().count())
        assert got == 40
        # idempotent follow-up under a lease: nothing new to drain,
        # index unchanged
        time.sleep(0.1)
        c2, r2, rebuilt2 = stream_ann_index_maintain(
            stream, idx, c, r, "vec_id",
            checkpoint=ckpt, lease_ttl_s=3600.0)
        assert not rebuilt2
        assert (spark.read.option("basePath", idx).parquet(idx)
                .select("corpus_id").distinct().count()) == 40
    finally:
        shutil.rmtree(base, ignore_errors=True)
