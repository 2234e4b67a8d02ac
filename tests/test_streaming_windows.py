"""Streaming window watermark contracts on this Spark version
(append-mode emission, late-row drop), end-to-end through a file
stream into a memory sink, plus the reingestion schedule policy."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cccatalog_spark.plans.schedules import (
    reingestion_day_shifts,
    reingestion_schedule,
)


def test_reingestion_day_shifts():
    # reference strategy shape: daily for a week, weekly for a month,
    # monthly-ish beyond (image-data-reingestion-strategy.md:52-120)
    assert reingestion_day_shifts([(1, 2), (7, 3)]) == [1, 2, 9, 16, 23]
    assert reingestion_day_shifts([]) == []


def test_reingestion_schedule_dates():
    base = dt.date(2024, 3, 10)
    days = reingestion_schedule(base, [(1, 2), (7, 1)])
    assert days == [
        dt.date(2024, 3, 10),
        dt.date(2024, 3, 9),
        dt.date(2024, 3, 8),
        dt.date(2024, 3, 1),
    ]


def test_append_mode_emits_only_watermark_passed_windows(spark, tmp_path):
    """Append-mode emission contract pinned on this Spark version:
    after the stream drains (availableNow + a final no-data batch),
    exactly the windows whose END the final watermark passed have been
    emitted; open windows stay in state and never reach the sink."""
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()
    T0 = 1767225600
    b0 = "\n".join(f"{T0 + i * 60}\tk{i % 2}" for i in range(10))
    b1 = f"{T0 + 720}\tk0"
    now = time.time()
    for i, content in enumerate([b0, b1]):
        p = str(src / f"b{i}.tsv")
        with open(p, "w") as f:
            f.write(content + "\n")
        os.utime(p, (now - 120 + i * 60, now - 120 + i * 60))

    stream = (
        spark.readStream.option("sep", "\t")
        .schema("sec long, k string")
        .option("maxFilesPerTrigger", "1")
        .csv(str(src))
    )
    agg = (
        stream.select(F.timestamp_seconds("sec").alias("ts"), "k")
        .withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "5 minutes"), F.col("k"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("append_pin")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["s"] - T0, r["k"]): r["n"]
        for r in spark.sql(
            "SELECT unix_timestamp(window.start) s, k, n FROM append_pin"
        ).collect()
    }
    # final watermark = (T0+720) - 300 = T0+420: window [0,300) closed
    # and emitted; [300,600) and [600,900) still open → absent
    assert got == {(0, "k0"): 3, (0, "k1"): 2}


def test_late_row_drop_contract(spark, tmp_path):
    """Pin the late-record drop rule q81 relies on (this Spark
    version): a row in batch N is dropped iff its window end <= the
    watermark in force during batch N-1 (state already evicted). A
    late row whose window is still open — even one far behind the
    current watermark — is absorbed, not dropped."""
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()
    T0 = 1767225600
    batches = [
        f"{T0 + 60}\tk\n{T0 + 120}\tk",  # window [0,300) n=2
        f"{T0 + 900}\tk",   # next batch's wm -> 600: [0,300) evicted then
        f"{T0 + 1200}\tk",  # batch running with wm=600 evicts+emits [0,300)
        f"{T0 + 90}\tk",    # late row for the emitted window -> dropped
    ]
    now = time.time()
    for i, content in enumerate(batches):
        p = str(src / f"b{i}.tsv")
        with open(p, "w") as f:
            f.write(content + "\n")
        os.utime(p, (now - 300 + i * 60, now - 300 + i * 60))

    stream = (
        spark.readStream.option("sep", "\t")
        .schema("sec long, k string")
        .option("maxFilesPerTrigger", "1")
        .csv(str(src))
    )
    agg = (
        stream.select(F.timestamp_seconds("sec").alias("ts"), "k")
        .withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "5 minutes"), F.col("k"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop_pin")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for o in p.get("stateOperators", [])
    )
    got = {
        (r["s"] - T0, r["k"]): r["n"]
        for r in spark.sql(
            "SELECT unix_timestamp(window.start) s, k, n FROM late_drop_pin"
        ).collect()
    }
    # the late T0+90 row was dropped (not re-emitted, not absorbed):
    # [0,300) emitted exactly once with the original n=2
    assert dropped == 1
    assert got[(0, "k")] == 2
