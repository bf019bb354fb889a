"""Streaming ingest + rollup: file-source put-lines → parquet datapoints
→ streaming hourly rollup (availableNow micro-batch)."""

from __future__ import annotations

import pytest

from ticktock_spark.streaming.ingest import stream_put_lines, write_datapoints_stream
from ticktock_spark.streaming.rollup import streaming_rollup_1h

H = 3_600_000


@pytest.fixture()
def put_dir(tmp_path):
    lines = []
    for i in range(10):
        # two series, points 20 min apart spanning 4 hours
        lines.append(f"put sys.cpu {i * 1200} {float(i)} host=a")
        lines.append(f"put sys.cpu {i * 1200} {float(i * 2)} host=b")
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "batch0.txt").write_text("\n".join(lines))
    return tmp_path


def test_stream_ingest_to_parquet(spark, put_dir):
    dps = stream_put_lines(spark, path=str(put_dir / "in"))
    q = write_datapoints_stream(
        dps, str(put_dir / "out"), str(put_dir / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(put_dir / "out"))
    assert got.count() == 20
    row = got.filter("ts = 0 and tags['host'] = 'a'").collect()[0]
    assert row["metric"] == "sys.cpu" and row["value"] == 0.0
    assert str(row["dt"]) == "1970-01-01"


def test_streaming_rate_state_across_batches(spark, tmp_path):
    from ticktock_spark.sources.parsers import put_lines_to_datapoints
    from ticktock_spark.streaming.rate import streaming_rate

    import os

    # two files + maxFilesPerTrigger=1 → two micro-batches; the rate at the
    # first point of batch 1 needs batch 0's last point from the state store.
    # Timestamps are epoch ms (small values would trip the sec-vs-ms
    # auto-detect); mtimes pin the file-source processing order.
    T = 1_704_067_200_000
    (tmp_path / "in").mkdir()
    f0, f1 = tmp_path / "in" / "b0.txt", tmp_path / "in" / "b1.txt"
    f0.write_text(
        f"put sys.cpu {T + 1000} 10.0 host=a\nput sys.cpu {T + 3000} 16.0 host=a\n"
    )
    f1.write_text(
        f"put sys.cpu {T + 5000} 17.0 host=a\nput sys.cpu {T + 500} 99.0 host=a\n"
    )  # T+500 is late (behind state) → dropped
    os.utime(f0, (1_000_000_000, 1_000_000_000))
    os.utime(f1, (1_000_000_100, 1_000_000_100))
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    rates = streaming_rate(put_lines_to_datapoints(lines))
    q = (
        rates.writeStream.format("memory")
        .queryName("rate_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["ts"] - T: r["value"] for r in spark.sql("select * from rate_test").collect()}
    # (16-10)/2s = 3.0 at +3000; (17-16)/2s = 0.5 at +5000 (cross-batch state)
    assert got == {3000: 3.0, 5000: 0.5}


def test_streaming_dedup_last_wins(spark, tmp_path):
    import os

    from ticktock_spark.streaming.dedup import streaming_dedup_last_wins

    T = 1_704_067_200_000
    (tmp_path / "in").mkdir()
    f0, f1 = tmp_path / "in" / "b0.txt", tmp_path / "in" / "b1.txt"
    f0.write_text(f"put m {T} 1.0 host=a\nput m {T + 1000} 5.0 host=a\n")
    # duplicate of ts=T arrives in a LATER batch (higher seq → wins) plus a
    # watermark pusher 4h ahead so the closed groups emit
    f1.write_text(f"put m {T} 2.0 host=a\nput m {T + 4 * H} 9.9 host=a\n")
    os.utime(f0, (1_000_000_000, 1_000_000_000))
    os.utime(f1, (1_000_000_100, 1_000_000_100))
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    from ticktock_spark.sources.parsers import put_lines_to_datapoints
    from pyspark.sql import functions as F

    dps = put_lines_to_datapoints(lines).withColumn(
        "seq", F.unix_micros(F.current_timestamp())
    )
    q = (
        streaming_dedup_last_wins(dps)
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["ts"]: r["value"] for r in spark.sql("select * from dedup_test").collect()}
    assert got == {T: 2.0, T + 1000: 5.0}  # dup resolved to the later batch


def test_streaming_rollup(spark, put_dir):
    dps = stream_put_lines(spark, path=str(put_dir / "in"))
    roll = streaming_rollup_1h(dps)
    q = (
        roll.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append")
        .option("checkpointLocation", str(put_dir / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from rollup_test").collect()
    # hours 0..3 × 2 series; watermark close emits finished windows
    by_key = {(r["__series"], r["bucket_ts"]): r for r in out}
    r = by_key[("host=a", 0)]
    # hour 0: points at 0,20,40 min → values 0,1,2
    assert r["cnt"] == 3 and r["min"] == 0.0 and r["max"] == 2.0 and r["sum"] == 3.0
    assert r["tags"] == {"host": "a"}


def test_kafka_records_to_datapoints(spark):
    """Kafka production ingest (SURVEY §2.1, tcp.cpp:514-534 protocol
    split): the record→datapoint transform is driven with a batch frame
    shaped like Kafka's output (binary key/value), since no broker or
    connector lives in this container — stream_kafka_lines shares this
    exact transform after .load()."""
    from ticktock_spark.streaming.ingest import kafka_records_to_datapoints

    records = spark.createDataFrame(
        [
            (b"k1", b"put sys.cpu 1704067200000 1.5 host=a dc=east"),
            (b"k2", b"put sys.cpu 1704067260000 2.5 host=b"),
            (None, b"garbage line"),
        ],
        "key binary, value binary",
    )
    out = kafka_records_to_datapoints(records, fmt="put").collect()
    assert len(out) == 2
    by_ts = {r["ts"]: r for r in out}
    assert by_ts[1704067200000]["tags"] == {"host": "a", "dc": "east"}
    assert by_ts[1704067260000]["value"] == 2.5
    assert str(by_ts[1704067200000]["dt"]) == "2024-01-01"
    assert all(r["seq"] is not None for r in out)

    influx = spark.createDataFrame(
        [(None, b"env,room=a temp=21.5,hum=40 1704067200000000000")],
        "key binary, value binary",
    )
    out2 = kafka_records_to_datapoints(influx, fmt="influx").collect()
    assert {r["tags"]["_field"] for r in out2} == {"temp", "hum"}
    assert all(r["ts"] == 1704067200000 for r in out2)


def test_streaming_rate_counter_defaults():
    """Counter semantics match operators/rate.py and rate.cpp:60-77
    (ADVICE r01): counter_max=None defaults to 2^64 (no TypeError on the
    first wrap) and reset_value=0 means disabled, not zero-every-wrap.
    Drives the pandas kernel directly — no Spark session needed."""
    import pandas as pd

    from ticktock_spark.streaming.rate import _make_rate_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self.get = True, v

    def run(**kw):
        fn = _make_rate_fn(**kw)
        pdf = pd.DataFrame({"ts": [1000, 2000, 3000], "value": [10.0, 3.0, 5.0]})
        out = list(fn(("m", "s"), iter([pdf]), FakeState()))
        return dict(zip(out[0]["ts"], out[0]["value"]))

    # wrap at ts=2000: (2^64 - 10 + 3) / 1 — huge positive, no crash
    got = run(counter=True, counter_max=None, drop_resets=False, reset_value=None)
    assert got[2000] == float(2**64) - 7.0 and got[3000] == 2.0
    # reset_value=0 is DISABLED (rate.cpp: m_reset_value != 0) — same output
    assert run(counter=True, counter_max=None, drop_resets=False, reset_value=0) == got
    # a real reset_value zeroes wraps exceeding it
    got = run(counter=True, counter_max=100.0, drop_resets=False, reset_value=50.0)
    assert got[2000] == 0.0 and got[3000] == 2.0


def test_streaming_sessionization(spark, tmp_path):
    """session_window sessions close after the gap: events 0/10min and a
    40-min-later one split into two sessions for user 7; session_window's
    end = last event + gap."""
    import json

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.sessions import streaming_session_stats

    T = 1_704_067_200  # epoch sec
    M = 60
    rows = [
        {"event_id": 1, "ts": T, "user_id": 7, "value": 1.5},
        {"event_id": 2, "ts": T + 10 * M, "user_id": 7, "value": 2.0},
        {"event_id": 3, "ts": T + 50 * M, "user_id": 7, "value": 3.0},
        {"event_id": 4, "ts": T, "user_id": 8, "value": 9.0},
        # sentinel far in the future: advances the watermark past every
        # other session's close so append mode emits them (its own
        # session stays open and is NOT emitted)
        {"event_id": 5, "ts": T + 3 * 3600, "user_id": 99, "value": 0.0},
    ]
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
    events = (
        spark.readStream.schema("event_id long, ts long, user_id long, value double")
        .json(str(tmp_path / "in"))
        .withColumn("ts", F.timestamp_seconds("ts"))
    )
    out = streaming_session_stats(events, gap_ms=30 * 60_000, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["start_us"]): r
        for r in spark.sql("select * from sess_test").collect()
    }
    US = 1_000_000
    s1 = got[(7, T * US)]
    assert s1["n_events"] == 2 and s1["sum_value"] == 3.5
    assert s1["end_us"] == (T + 10 * M + 30 * M) * US  # last event + gap
    s2 = got[(7, (T + 50 * M) * US)]
    assert s2["n_events"] == 1 and s2["sum_value"] == 3.0
    assert got[(8, T * US)]["n_events"] == 1


def test_streaming_rollup_late_data_within_watermark(spark, tmp_path):
    """The claim in streaming/rollup.py: late data WITHIN the watermark
    merges into its (still open) hour bucket — strictly better than the
    reference's invalidate-and-fall-back (rollup.cpp:237-243). A second
    micro-batch delivers an hour-0 point after hour-1 data arrived; the
    emitted hour-0 rollup must include it."""
    import os

    from ticktock_spark.sources.parsers import put_lines_to_datapoints
    from ticktock_spark.streaming.rollup import streaming_rollup_1h

    T = 1_704_067_200_000  # hour-aligned epoch ms
    H, M = 3_600_000, 60_000
    (tmp_path / "in").mkdir()
    f0, f1 = tmp_path / "in" / "b0.txt", tmp_path / "in" / "b1.txt"
    f0.write_text(
        f"put sys.cpu {T + 10 * M} 1.0 host=a\n"
        f"put sys.cpu {T + H + 10 * M} 2.0 host=a\n"
    )
    f1.write_text(
        # late hour-0 point (watermark after b0 is hour1 - 2h, hour 0 open)
        f"put sys.cpu {T + 20 * M} 5.0 host=a\n"
        # far-future point drives the watermark past hours 0 and 1
        f"put sys.cpu {T + 6 * H} 9.0 host=a\n"
    )
    os.utime(f0, (1_000_000_000, 1_000_000_000))
    os.utime(f1, (1_000_000_100, 1_000_000_100))
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    roll = streaming_rollup_1h(put_lines_to_datapoints(lines), watermark="2 hours")
    q = (
        roll.writeStream.format("memory")
        .queryName("late_rollup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["bucket_ts"]: r
        for r in spark.sql("select * from late_rollup").collect()
    }
    h0 = got[T]
    assert h0["cnt"] == 2 and h0["min"] == 1.0 and h0["max"] == 5.0 and h0["sum"] == 6.0
    assert got[T + H]["cnt"] == 1 and got[T + H]["sum"] == 2.0
    assert T + 6 * H not in got  # its window is still open (unemitted)


def test_streaming_asof_state_across_batches(spark, tmp_path):
    """Right snapshots advance in the state store across micro-batches;
    left events match the latest prior snapshot, in event-time order
    within a batch (a left event BEFORE a same-batch right row must not
    see it)."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.asof import streaming_asof

    (tmp_path / "in").mkdir()
    f0, f1 = tmp_path / "in" / "b0.txt", tmp_path / "in" / "b1.txt"
    # fields: side key id_or_zero ts value_or_zero
    f0.write_text("L 1 1 50 0\nR 1 0 100 1.0\nL 1 2 100 0\n")
    f1.write_text("L 1 3 200 0\nR 1 0 300 3.0\nL 1 4 350 0\nL 1 5 250 0\n")
    os.utime(f0, (1_000_000_000, 1_000_000_000))
    os.utime(f1, (1_000_000_100, 1_000_000_100))

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    parsed = lines.select(
        p.getItem(0).alias("side"),
        p.getItem(1).cast("long").alias("key"),
        p.getItem(2).cast("long").alias("event_id"),
        p.getItem(3).cast("long").alias("ts"),
        p.getItem(4).cast("double").alias("value"),
    )
    left = parsed.filter("side = 'L'").select("key", "event_id", "ts")
    right = parsed.filter("side = 'R'").select("key", "ts", "value")
    out = streaming_asof(left, right)
    q = (
        out.writeStream.format("memory")
        .queryName("asof_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["event_id"]: (r["value"], r["right_ts"]) for r in spark.sql(
        "select * from asof_out"
    ).collect()}
    assert got[1] == (None, None)       # before any snapshot
    assert got[2] == (1.0, 100)         # equal ts inclusive
    assert got[3] == (1.0, 100)         # state carried from batch 0
    assert got[4] == (3.0, 300)         # same-batch newer snapshot
    assert got[5] == (1.0, 100)         # ts 250 < 300: event-time order holds


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """In-timestamp-order stream across two micro-batches reproduces the
    batch funnel exactly: per-user stage times and deepest stage from
    the LATEST update row per user equal pipeline.sessions.funnel_stages
    on the full event set — with O(stages) state per user instead of the
    batch operator's per-user event arrays."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.pipeline import sessions as ssn
    from ticktock_spark.schema import load_table
    from ticktock_spark.streaming.funnel import streaming_funnel

    stages = ["signup", "view", "click", "purchase"]
    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"))
        .filter(F.col("event_type").isin(stages))
    )
    rows = sorted(ev.collect(), key=lambda r: r["us"])
    half = len(rows) // 2
    (tmp_path / "in").mkdir(exist_ok=True)
    for bi, chunk in enumerate((rows[:half], rows[half:])):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text(
            "\n".join(f"{r['user_id']} {r['us']} {r['event_type']}" for r in chunk)
        )
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).cast("long").alias("user_id"),
        p.getItem(1).cast("long").alias("us"),
        p.getItem(2).alias("event_type"),
    )
    q = (
        streaming_funnel(stream, stages)
        .writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # latest update per user = current funnel position (memory sink
    # appends update rows in batch order)
    got: dict = {}
    for r in spark.sql("select * from funnel_out").collect():
        got[r["user_id"]] = tuple(
            [r[f"t_{s}"] for s in stages] + [r["stage"]]
        )
    exp = {
        r["user_id"]: tuple([r[f"t_{s}"] for s in stages] + [r["stage"]])
        for r in ssn.funnel_stages(ev, stages).collect()
    }
    assert len(exp) >= 10
    assert got == exp


def test_streaming_funnel_forward_only_semantics(spark, tmp_path):
    """Targeted chain semantics: strictly-after requirement (equal-ts
    stage events don't advance), stage events before their predecessor
    are no-ops, and a late out-of-order straggler can't rewrite a set
    slot."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.funnel import streaming_funnel

    (tmp_path / "in").mkdir(exist_ok=True)
    f0 = tmp_path / "in" / "b0.txt"
    f1 = tmp_path / "in" / "b1.txt"
    # user 1: signup@100, view@100 (equal ts -> not after), view@200
    # user 2: view@50 before any signup (no-op), signup@60, view@70
    f0.write_text("1 100 signup\n1 100 view\n1 200 view\n2 50 view\n2 60 signup\n2 70 view\n")
    # user 1 late straggler view@150 arrives after view@200 already set
    f1.write_text("1 150 view\n1 300 click\n")
    os.utime(f0, (1_000_000_000, 1_000_000_000))
    os.utime(f1, (1_000_000_001, 1_000_000_001))
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).cast("long").alias("user_id"),
        p.getItem(1).cast("long").alias("us"),
        p.getItem(2).alias("event_type"),
    )
    q = (
        streaming_funnel(stream, ["signup", "view", "click", "purchase"])
        .writeStream.format("memory")
        .queryName("funnel_sem")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("select * from funnel_sem").collect():
        got[r["user_id"]] = (
            r["t_signup"], r["t_view"], r["t_click"], r["t_purchase"], r["stage"]
        )
    # user 1: view@100 rejected (not strictly after), view@200 set;
    # straggler view@150 ignored; click@300 > 200 advances
    assert got[1] == (100, 200, 300, None, 3)
    # user 2: view@50 was a no-op, chain starts at signup@60
    assert got[2] == (60, 70, None, None, 2)


def test_streaming_funnel_randomized_differential(spark, tmp_path):
    """Seeded-random streams (duplicate timestamps, interleaved users,
    noise event types, arbitrary 3-way in-order batch splits) always
    reproduce the batch funnel: the strictly-after chain keys off VALUES
    not processing order, so equal-ts ties and cross-batch boundaries
    cannot diverge."""
    import os
    import random

    from pyspark.sql import functions as F

    from ticktock_spark.pipeline import sessions as ssn
    from ticktock_spark.streaming.funnel import streaming_funnel

    rng = random.Random(41)
    stages = ["signup", "view", "click", "purchase"]
    types = stages + ["error"]
    rows = sorted(
        (rng.randrange(60), rng.randrange(25), types[rng.randrange(5)])
        for _ in range(400)
    )  # (us, user, type) — small ts range forces plenty of equal-ts ties
    cuts = sorted(rng.sample(range(1, len(rows)), 2))
    batches = [rows[: cuts[0]], rows[cuts[0] : cuts[1]], rows[cuts[1] :]]
    (tmp_path / "in").mkdir(exist_ok=True)
    for bi, chunk in enumerate(batches):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text("\n".join(f"{u} {us} {t}" for us, u, t in chunk))
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).cast("long").alias("user_id"),
        p.getItem(1).cast("long").alias("us"),
        p.getItem(2).alias("event_type"),
    )
    q = (
        streaming_funnel(stream, stages)
        .writeStream.format("memory")
        .queryName("funnel_rand")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("select * from funnel_rand").collect():
        got[r["user_id"]] = tuple(
            [r[f"t_{s}"] for s in stages] + [r["stage"]]
        )
    ev = spark.createDataFrame(
        [(u, t, us) for us, u, t in rows],
        "user_id long, event_type string, us long",
    )
    exp = {
        r["user_id"]: tuple([r[f"t_{s}"] for s in stages] + [r["stage"]])
        for r in ssn.funnel_stages(ev, stages).collect()
    }
    assert len(exp) >= 15  # ties and noise still leave most users in
    assert got == exp


def test_funnel_fn_multi_chunk_global_order():
    """A user whose micro-batch spans multiple Arrow chunks must be
    processed in GLOBAL event-time order, not per-chunk order: here the
    purchase-before-click chunk arrives first, and only the
    concatenate-then-sort path reaches stage 3. Drives _make_funnel_fn
    directly with a multi-chunk iterator (the cluster delivers one ~10k
    rows at default maxRecordsPerBatch)."""
    import pandas as pd

    from ticktock_spark.streaming.funnel import _make_funnel_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self._v = True, v

        @property
        def get(self):
            return self._v

    fn = _make_funnel_fn(3, ["signup", "click", "purchase"])
    # chunk 1 holds the LATER events (purchase@40, click@30); chunk 2
    # holds the earlier ones (signup@10). Per-chunk sorting would see
    # purchase before click's slot exists and before signup, setting
    # nothing from chunk 1 except... actually purchase/click both fail
    # (stage-0 empty), then signup sets t0 only → stage 1. Global order
    # signup→click→purchase reaches stage 3.
    chunk1 = pd.DataFrame({"us": [40, 30], "si": [2, 1]})
    chunk2 = pd.DataFrame({"us": [10], "si": [0]})
    state = FakeState()
    out = list(fn((7,), iter([chunk1, pd.DataFrame({"us": [], "si": []}), chunk2]), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert (row["t_signup"], row["t_click"], row["t_purchase"]) == (10, 30, 40)
    assert row["stage"] == 3


def test_streaming_lsh_screen_matches_batch(spark, tmp_path):
    """Stream-static LSH screen parity: the distinct (doc, corpus) pairs
    emitted by the stream equal minhash_lsh_join's batch pairs, and the
    per-pair event multiplicity equals n_bands."""
    import json

    from pyspark.sql import functions as F

    from ticktock_spark.pipeline.dedup import minhash_lsh_join
    from ticktock_spark.schema import load_table
    from ticktock_spark.streaming.dedup_lsh import (
        corpus_band_index,
        streaming_flagged_hits,
        streaming_lsh_candidates,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    arriving = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    index = corpus_band_index(corpus)

    (tmp_path / "in").mkdir()
    rows = [
        {"doc_id": r["doc_id"], "text": r["text"]} for r in arriving.collect()
    ]
    (tmp_path / "in" / "b0.json").write_text(
        "\n".join(json.dumps(r) for r in rows)
    )
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(tmp_path / "in")
    )
    out = streaming_lsh_candidates(stream, index)
    q = (
        out.writeStream.format("memory")
        .queryName("lsh_screen")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("select * from lsh_screen").collect():
        got[(r["doc_id"], r["corpus_id"])] = got.get((r["doc_id"], r["corpus_id"]), 0) + 1
    exp = {
        (r["left_id"], r["right_id"]): r["n_bands"]
        for r in minhash_lsh_join(arriving, corpus).collect()
    }
    assert got == exp and len(got) > 0

    flagged = streaming_flagged_hits(stream, index)
    q2 = (
        flagged.writeStream.format("memory")
        .queryName("lsh_flagged")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    flagged_docs = {r["doc_id"] for r in spark.sql("select * from lsh_flagged").collect()}
    assert flagged_docs == {a for (a, _) in exp}


def test_streaming_novelty_screen(spark, tmp_path):
    """foreachBatch novelty screen: exact dup and verified near-dup of
    corpus docs are dropped; the genuinely novel doc lands in the sink."""
    import json

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.dedup_lsh import streaming_novelty_screen

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    corpus = spark.createDataFrame(
        [(1, base), (2, "ticktock stores time series data points compactly")],
        "doc_id long, text string",
    )
    novel = "zebras graze quietly on wide open plains today in the warm sun"
    batch0 = [
        {"doc_id": 100, "text": base},                    # exact dup → drop
        {"doc_id": 101, "text": base + " tonight"},       # near-dup → drop
        {"doc_id": 102, "text": novel},
    ]
    batch1 = [
        {"doc_id": 103, "text": novel},                   # exact dup of ACCEPTED 102 → drop
        {"doc_id": 104, "text": novel + " again"},        # near-dup of ACCEPTED 102 → drop
        {"doc_id": 105, "text": "completely fresh words about mountain rivers and tall pine trees"},
    ]
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "b0.json").write_text(
        "\n".join(json.dumps(r) for r in batch0)
    )
    (tmp_path / "in" / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in batch1)
    )
    import os
    import time

    now = time.time()
    os.utime(tmp_path / "in" / "b0.json", (now - 100, now - 100))
    os.utime(tmp_path / "in" / "b1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in"))
    )
    q = streaming_novelty_screen(
        stream,
        corpus,
        out_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {102, 105}


def test_streaming_zscore_matches_batch(spark, tmp_path):
    """Stateful streaming z-score == batch rolling_zscore on in-order
    data, including across micro-batch boundaries (two input files)."""
    import json

    from pyspark.sql import functions as F

    from ticktock_spark.operators.rolling import rolling_zscore
    from ticktock_spark.streaming.anomaly import streaming_zscore

    rows = [
        {"metric": "m", "ts": t * 1000, "value": float(v), "tags": {"h": "a"}}
        for t, v in enumerate([10, 10, 10, 20, 12, 12, 50, 12])
    ] + [
        {"metric": "m", "ts": t * 1000, "value": float(v), "tags": {"h": "b"}}
        for t, v in enumerate([5, 6, 7, 8])
    ]
    (tmp_path / "in").mkdir()
    # split across two files → two micro-batches exercise state carry
    half = len(rows) // 2
    rows.sort(key=lambda r: r["ts"])
    (tmp_path / "in" / "b0.json").write_text(
        "\n".join(json.dumps(r) for r in rows[:half])
    )
    (tmp_path / "in" / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in rows[half:])
    )
    # the file source orders batches by modification time — pin it so b0
    # really is the first micro-batch
    import os
    import time

    now = time.time()
    os.utime(tmp_path / "in" / "b0.json", (now - 100, now - 100))
    os.utime(tmp_path / "in" / "b1.json", (now, now))
    stream = spark.readStream.schema(
        "metric string, ts long, value double, tags map<string,string>"
    ).option("maxFilesPerTrigger", 1).json(str(tmp_path / "in"))
    out = streaming_zscore(stream, window_ms=3000)
    q = (
        out.writeStream.format("memory")
        .queryName("zs_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["series"], r["ts"]): (r["roll_n"], r["roll_mean"], r["roll_std"], r["zscore"])
        for r in spark.sql("select * from zs_test").collect()
    }

    from ticktock_spark.plans.planner import canonical_series_key

    batch = spark.createDataFrame(
        [(r["metric"], r["ts"], r["value"], r["tags"]) for r in rows],
        "metric string, ts long, value double, tags map<string,string>",
    ).select(
        canonical_series_key().alias("series"), "ts", "value"
    )
    exp = {
        (r["series"], r["ts"]): (r["roll_n"], r["roll_mean"], r["roll_std"], r["zscore"])
        for r in rolling_zscore(batch, ["series"], window_ms=3000).collect()
    }
    assert got == exp and len(got) == len(rows)


def test_streaming_soak_20_batches_state_bounded(spark, tmp_path):
    """Soak: 24 micro-batches through the stateful z-score and rate twins
    with out-of-order/late injection every 4th batch. Asserts (a) late
    points are dropped, (b) state stays bounded — the trailing-window
    frame (roll_n) never exceeds its window capacity even after 24
    batches, and rate state is one point per series — and (c) the final
    streaming output matches the batch operators on the kept points."""
    import json
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.operators.rolling import rolling_zscore
    from ticktock_spark.streaming.anomaly import streaming_zscore
    from ticktock_spark.streaming.rate import streaming_rate

    T = 1_704_067_200_000
    n_batches, series = 24, ["a", "b", "c"]
    (tmp_path / "in").mkdir()
    kept = []  # in-order points the state twins must keep
    for i in range(n_batches):
        rows = []
        for si, h in enumerate(series):
            for j in range(2):  # two in-order points per series per batch
                ts = T + (i * 2 + j) * 1000
                v = float((i * 7 + j * 3 + si) % 20)
                rows.append(
                    {"metric": "m", "ts": ts, "value": v, "tags": {"h": h}}
                )
                kept.append((h, ts, v))
            if i % 4 == 3 and i > 0:
                # OOO injection: behind the series' newest state ts → drop
                rows.append(
                    {
                        "metric": "m",
                        "ts": T + (i * 2 - 6) * 1000,
                        "value": 999.0,
                        "tags": {"h": h},
                    }
                )
        p = tmp_path / "in" / f"b{i:02d}.json"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(
            "metric string, ts long, value double, tags map<string,string>"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in"))
    )
    qz = (
        streaming_zscore(stream, window_ms=3000)
        .writeStream.format("memory")
        .queryName("soak_zs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_zs"))
        .trigger(availableNow=True)
        .start()
    )
    qz.awaitTermination(240)
    n_state_batches = len(
        [p for p in qz.recentProgress if p["numInputRows"] > 0]
    )
    qr = (
        streaming_rate(stream)
        .writeStream.format("memory")
        .queryName("soak_rate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .trigger(availableNow=True)
        .start()
    )
    qr.awaitTermination(240)

    zs = spark.sql("select * from soak_zs").collect()
    # (a) every kept point scored exactly once, no 999 leak-through
    assert len(zs) == len(kept) and all(r["value"] != 999.0 for r in zs)
    # (b) bounded state: the trailing 3s window over 1s-spaced points can
    # never hold more than 4 points, batch count notwithstanding; and the
    # soak genuinely ran as ≥ 20 separate micro-batches
    assert max(r["roll_n"] for r in zs) <= 4
    assert n_state_batches >= 20
    # (c) parity with the batch operator on the kept points
    from ticktock_spark.plans.planner import canonical_series_key

    batch = spark.createDataFrame(
        [("m", ts, v, {"h": h}) for h, ts, v in kept],
        "metric string, ts long, value double, tags map<string,string>",
    ).select(canonical_series_key().alias("series"), "ts", "value")
    exp = {
        (r["series"], r["ts"]): (r["roll_n"], r["roll_mean"], r["roll_std"], r["zscore"])
        for r in rolling_zscore(batch, ["series"], window_ms=3000).collect()
    }
    got = {
        (r["series"], r["ts"]): (r["roll_n"], r["roll_mean"], r["roll_std"], r["zscore"])
        for r in zs
    }
    assert got == exp

    # rate: per-series successive difference over the kept points only
    rates = spark.sql("select * from soak_rate").collect()
    assert all(r["value"] != 999.0 for r in rates)
    by_series: dict = {}
    for h, ts, v in sorted(kept):
        by_series.setdefault(h, []).append((ts, v))
    exp_rate = {}
    for h, pts in by_series.items():
        for (t0, v0), (t1, v1) in zip(pts, pts[1:]):
            exp_rate[(h, t1)] = (v1 - v0) / ((t1 - t0) / 1000.0)
    got_rate = {
        (r["series"].split("=")[-1], r["ts"]): r["value"] for r in rates
    }
    assert got_rate == exp_rate

    # funnel twin through the same 24 batches: reinterpret each point as
    # a user event (user = series index, stage cycles with the batch
    # counter) and assert the per-user funnel matches the batch operator
    # over the same kept events, with update rows strictly monotone in
    # stage depth (state only moves forward)
    from ticktock_spark.pipeline import sessions as ssn
    from ticktock_spark.streaming.funnel import streaming_funnel

    stages = ["signup", "view", "click", "purchase"]
    fstream = stream.select(
        (F.ascii(F.element_at(F.map_values("tags"), 1)) - 97)
        .cast("long")
        .alias("user_id"),
        F.col("ts").alias("us"),
        F.element_at(
            F.array(*[F.lit(s) for s in stages]),
            ((F.col("ts") / F.lit(1000)).cast("long") % 4 + 1).cast("int"),
        ).alias("event_type"),
    )
    qf = (
        streaming_funnel(fstream, stages)
        .writeStream.format("memory")
        .queryName("soak_funnel")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
        .trigger(availableNow=True)
        .start()
    )
    qf.awaitTermination(240)
    updates = spark.sql("select * from soak_funnel").collect()
    # forward-only: per user, stage depth never decreases across updates
    # (memory sink preserves batch order)
    seen: dict = {}
    for r in updates:
        assert r["stage"] >= seen.get(r["user_id"], 0)
        seen[r["user_id"]] = r["stage"]
    # final state parity with the batch funnel over ALL points (kept and
    # late alike: the funnel keys stages off ts%4, and the late 999-value
    # injections replay ts values whose slots are already set, so they
    # are no-ops for the chain — same result either way)
    ev = spark.createDataFrame(
        [(ord(h) - 97, ts, stages[(ts // 1000) % 4]) for h, ts, v in kept],
        "user_id long, us long, event_type string",
    )
    exp_f = {
        r["user_id"]: tuple([r[f"t_{s}"] for s in stages] + [r["stage"]])
        for r in ssn.funnel_stages(ev, stages).collect()
    }
    got_f = {}
    for r in updates:
        got_f[r["user_id"]] = tuple(
            [r[f"t_{s}"] for s in stages] + [r["stage"]]
        )
    assert got_f == exp_f and len(got_f) == 3


def test_streaming_ingest_maintains_series_dim(spark, tmp_path):
    """write_datapoints_stream_with_series appends datapoints AND keeps the
    series dimension current at ingest: after two micro-batches sharing one
    series, the dim holds exactly one row per unique (metric, tag-set) with
    the same skey/tsuid the batch distillation produces."""
    import os

    from ticktock_spark.schema import series_key, series_tsuid
    from ticktock_spark.sources.parsers import put_lines_to_datapoints
    from ticktock_spark.streaming.ingest import (
        _finalize_datapoints,
        load_series_dim,
        write_datapoints_stream_with_series,
    )

    T = 1_704_067_200_000
    (tmp_path / "in").mkdir()
    f0, f1 = tmp_path / "in" / "b0.txt", tmp_path / "in" / "b1.txt"
    f0.write_text(
        f"put sys.cpu {T} 1.0 host=a\nput sys.cpu {T + 1000} 2.0 host=b\n"
    )
    f1.write_text(
        f"put sys.cpu {T + 2000} 3.0 host=a\nput sys.mem {T + 2000} 4.0 host=a\n"
    )
    os.utime(f0, (1_000_000_000, 1_000_000_000))
    os.utime(f1, (1_000_000_100, 1_000_000_100))
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    q = write_datapoints_stream_with_series(
        _finalize_datapoints(put_lines_to_datapoints(lines)),
        out_path=str(tmp_path / "dps"),
        checkpoint=str(tmp_path / "ckpt"),
        series_path=str(tmp_path / "series"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    assert spark.read.parquet(str(tmp_path / "dps")).count() == 4
    dim = {r["skey"]: r["tsuid"] for r in load_series_dim(spark, str(tmp_path / "series")).collect()}
    expect = {}
    for m, tags in [("sys.cpu", {"host": "a"}), ("sys.cpu", {"host": "b"}),
                    ("sys.mem", {"host": "a"})]:
        k = series_key(m, tags)
        expect[k] = series_tsuid(k)
    assert dim == expect


def test_streaming_restart_recovers_state_from_checkpoint(spark, tmp_path):
    """Crash-recovery twin of the reference's WAL replay
    (`src/utils/append.cpp`, restore at `src/agg/rollup.cpp:110-131`):
    stop a stateful stream, add data, restart against the SAME checkpoint.
    The restarted query must (a) not re-emit already-committed batches and
    (b) resume the per-series state persisted before the stop — the first
    post-restart rate needs the pre-restart last point from the state
    store, not from reprocessing."""
    import os

    from ticktock_spark.sources.parsers import put_lines_to_datapoints
    from ticktock_spark.streaming.rate import streaming_rate

    T = 1_704_067_200_000
    (tmp_path / "in").mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        lines = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(str(tmp_path / "in"))
        )
        rates = streaming_rate(put_lines_to_datapoints(lines))
        q = (
            rates.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(out).collect()
        got = {r["ts"] - T: r["value"] for r in rows}
        assert len(rows) == len(got), "duplicate emissions across restart"
        return got

    f0 = tmp_path / "in" / "b0.txt"
    f0.write_text(
        f"put sys.cpu {T + 1000} 10.0 host=a\nput sys.cpu {T + 3000} 16.0 host=a\n"
    )
    os.utime(f0, (1_000_000_000, 1_000_000_000))
    assert run() == {3000: 3.0}

    f1 = tmp_path / "in" / "b1.txt"
    f1.write_text(f"put sys.cpu {T + 5000} 17.0 host=a\n")
    os.utime(f1, (1_000_000_100, 1_000_000_100))
    # exactly-once across the stop: b0's rate appears ONCE, and
    # (17-16)/2s = 0.5 proves the state-store point survived the restart
    assert run() == {3000: 3.0, 5000: 0.5}


def test_adopt_streaming_table_enables_compaction(spark, put_dir):
    """A stream-written table carries a `_spark_metadata` sink log that
    pins the file listing; adopt_streaming_table drops it (after a clean
    stop) so compaction + purge become safe — streaming-ingest → batch
    maintenance handoff."""
    from pathlib import Path

    from ticktock_spark.maintenance import adopt_streaming_table, compact_partition

    out, ckpt = str(put_dir / "out"), str(put_dir / "ckpt")
    dps = stream_put_lines(spark, path=str(put_dir / "in"))
    q = write_datapoints_stream(dps, out, ckpt, trigger_once=True)
    q.awaitTermination(120)
    assert Path(out, "_spark_metadata").is_dir()
    assert spark.read.parquet(out).count() == 20

    assert adopt_streaming_table(spark, out) is True
    assert adopt_streaming_table(spark, out) is False  # idempotent
    assert not Path(out, "_spark_metadata").is_dir()

    n = compact_partition(spark, out, "1970-01-01")
    assert n == 20
    got = spark.read.parquet(out)
    assert got.count() == 20
    assert len(list(Path(out, "dt=1970-01-01").glob("*.parquet"))) == 1


def test_udp_spool_ingest(spark, tmp_path):
    """UDP datagrams → spool files → file streaming source → parquet.

    Pins the udp.cpp contract: one datagram = one telnet-put line,
    oversized datagrams dropped (never truncated), multi-listener
    receive, shutdown flushes partial batches."""
    import socket
    import time

    from ticktock_spark.streaming.udp import UdpSpool, stream_udp_lines

    (tmp_path / "spool").mkdir(exist_ok=True)
    spool = UdpSpool(str(tmp_path / "spool"), batch_lines=4)
    try:
        tx = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        T = 1_704_067_200_000
        for i in range(10):
            tx.sendto(
                f"put sys.udp {T + i * 1000} {float(i)} host=u".encode(),
                ("127.0.0.1", spool.port),
            )
        tx.sendto(b"x" * 300, ("127.0.0.1", spool.port))  # > max_line: drop
        deadline = time.time() + 10
        while time.time() < deadline and not (
            spool.received == 10 and spool.dropped == 1
        ):
            time.sleep(0.05)
        assert spool.received == 10 and spool.dropped == 1
        tx.close()
    finally:
        spool.stop()  # flushes the partial (10 % 4) batches

    dps = stream_udp_lines(spark, str(tmp_path / "spool"))
    q = write_datapoints_stream(
        dps, str(tmp_path / "out"), str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 10
    row = got.filter(f"ts = {T}").collect()[0]
    assert row["metric"] == "sys.udp" and row["value"] == 0.0
    assert row["tags"]["host"] == "u"


def test_mqtt_spool_ingest(spark, tmp_path):
    """Native MQTT source: mock broker → MqttSpool → per-format spool
    files → file streaming source → parquet — no Kafka hop.

    Pins the mqtt.cpp on_message contract end-to-end (quote/size
    guards, exact-topic format lookup, per-format routing) and parity
    with the bridge path: messages the Kafka bridge would route are
    exactly the ones that land in parquet here."""
    from ticktock_spark.streaming.mqtt import (
        MAX_PAYLOAD_BYTES,
        MqttSpool,
        route_message,
        stream_mqtt_lines,
    )

    class FakeClient:
        """Mock paho client: captures the on_message callback so the
        test can publish without a broker."""

        def __init__(self, broker, port, on_message):
            self.on_message = on_message
            self.subscribed: list[str] = []

        def subscribe(self, topic):
            self.subscribed.append(topic)

        def loop_start(self):
            pass

        def disconnect(self):
            pass

    clients: list[FakeClient] = []

    def factory(broker, port, on_message):
        c = FakeClient(broker, port, on_message)
        clients.append(c)
        return c

    settings = (
        '[{"broker": "dock", "port": 1883, "topics": ['
        '{"topic": "sensors/put", "format": "put"},'
        '{"topic": "telegraf/test", "format": "line"}]}]'
    )
    spool = MqttSpool(settings, str(tmp_path / "spool"),
                      batch_lines=4, client_factory=factory)
    assert len(clients) == 1
    assert sorted(clients[0].subscribed) == ["sensors/put", "telegraf/test"]

    class Msg:
        def __init__(self, topic, payload):
            self.topic, self.payload = topic, payload

    T = 1_704_067_200_000
    publish = clients[0].on_message
    msgs = [
        *[Msg("sensors/put", f"put sys.mqtt {T + i * 1000} {float(i)} host=m".encode())
          for i in range(6)],
        Msg("telegraf/test", b"env,room=a temp=21.5 1704067200000000000"),
        Msg("sensors/put", b'put bad.metric 1 2 note="quoted"'),  # quote guard
        Msg("sensors/put", b"x" * MAX_PAYLOAD_BYTES),             # size guard
        Msg("unknown/topic", b"put x 1 2 h=v"),                   # no topic match
    ]
    for m in msgs:
        publish(None, None, m)
    spool.stop()  # flushes partial batches
    assert spool.received == 7 and spool.dropped == 3

    # parity with the Kafka bridge: same router, same accept set
    topics = {"sensors/put": "put", "telegraf/test": "line"}
    bridge_accepted = [m for m in msgs if route_message(topics, m.topic, m.payload)]
    assert len(bridge_accepted) == 7

    dps = stream_mqtt_lines(spark, str(tmp_path / "spool"), fmt="put")
    q = write_datapoints_stream(
        dps, str(tmp_path / "out"), str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 6
    row = got.filter(f"ts = {T}").collect()[0]
    assert row["metric"] == "sys.mqtt" and row["value"] == 0.0
    assert row["tags"]["host"] == "m"

    # the influx-format message spooled to its own subdirectory
    dps2 = stream_mqtt_lines(spark, str(tmp_path / "spool"), fmt="influx")
    q2 = write_datapoints_stream(
        dps2, str(tmp_path / "out2"), str(tmp_path / "ckpt2"), trigger_once=True
    )
    q2.awaitTermination(120)
    got2 = spark.read.parquet(str(tmp_path / "out2")).collect()
    # influx lines explode per field, tagged _field=<name>
    assert [(r["metric"], r["tags"]["_field"]) for r in got2] == [("env", "temp")]


def test_streaming_bpe_encode_ids_matches_batch(spark, tmp_path):
    """Tokenizer application is STATELESS scan-side work (frozen merge
    table + vocab closed over an Arrow UDF), so bpe_encode_ids applies
    directly to a streaming DataFrame — no watermark, no state store —
    and must emit exactly the batch result. The vocab is built from the
    TRAIN corpus (model freeze), then applied to the stream."""
    import json

    from ticktock_spark.pipeline.text import bpe_encode_ids, bpe_train, bpe_vocab

    train = spark.createDataFrame(
        [(100, "abab ab a b"), (101, "ba ab")], "doc_id long, text string"
    )
    m = bpe_train(train, num_merges=1)
    frozen = bpe_vocab(train, m)  # model freeze: vocab from TRAIN corpus

    rows = [(1, "ab ba"), (2, "abab")]
    (tmp_path / "in").mkdir(exist_ok=True)
    with open(tmp_path / "in" / "b0.jsonl", "w") as f:
        for did, text in rows:
            f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(tmp_path / "in"))
    )
    out = bpe_encode_ids(stream, m, vocab_df=frozen)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"])
        for r in bpe_encode_ids(batch, m, vocab_df=frozen).collect()
    }
    assert got == want and set(got) == {1, 2}


def test_streaming_chunk_dedup_matches_batch(spark, tmp_path):
    """Cross-batch tile novelty: a passage accepted in micro-batch 0 is
    stripped from batch 1's docs; with ids arriving in order the
    two-batch streaming result equals batch chunk_dedup over the union."""
    import json
    import os

    from ticktock_spark.pipeline.dedup import chunk_dedup
    from ticktock_spark.streaming.dedup_lsh import streaming_chunk_dedup

    rows0 = [(1, "a b c x y z"), (2, "p q r s t u")]
    rows1 = [(3, "a b c d e f"),   # 'a b c' seen in batch 0 → stripped
             (4, "d e f g h i")]   # 'd e f' new in batch 1 doc 3 → stripped here
    (tmp_path / "in").mkdir(exist_ok=True)
    for i, rows in enumerate([rows0, rows1]):
        with open(tmp_path / "in" / f"b{i}.jsonl", "w") as f:
            for did, text in rows:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        # mtime pins file-source order
        os.utime(tmp_path / "in" / f"b{i}.jsonl", (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in"))
    )
    q = streaming_chunk_dedup(
        stream, str(tmp_path / "idx"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), chunk_words=3,
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (r["text_dedup"], r["n_kept"], r["n_removed"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {
        1: ("a b c x y z", 2, 0),
        2: ("p q r s t u", 2, 0),
        3: ("d e f", 1, 1),
        4: ("g h i", 1, 1),
    }

    allrows = spark.createDataFrame(rows0 + rows1, "doc_id long, text string")
    want = {
        r["doc_id"]: (r["text_dedup"], r["n_kept"], r["n_removed"])
        for r in chunk_dedup(allrows, chunk_words=3).collect()
    }
    assert got == want


def test_streaming_transitions_match_batch(spark, tmp_path):
    """In-order stream split across two micro-batches emits the exact
    pair multiset of the batch lead()-window operator — including the
    pair that SPANS the micro-batch boundary (carried by the O(1)
    per-user state)."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.pipeline.sessions import event_transitions
    from ticktock_spark.schema import load_table
    from ticktock_spark.streaming.transitions import streaming_transitions

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    rows = sorted(ev.collect(), key=lambda r: (r["us"], r["event_id"]))
    half = len(rows) // 2
    (tmp_path / "in").mkdir(exist_ok=True)
    for bi, chunk in enumerate((rows[:half], rows[half:])):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text(
            "\n".join(
                f"{r['user_id']} {r['event_id']} {r['us']} {r['event_type']}"
                for r in chunk
            )
        )
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).cast("long").alias("user_id"),
        p.getItem(1).cast("long").alias("event_id"),
        p.getItem(2).cast("long").alias("us"),
        p.getItem(3).alias("event_type"),
    )
    q = (
        streaming_transitions(stream)
        .writeStream.format("memory")
        .queryName("trans_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got: dict = {}
    for r in spark.sql("select event_type, next_type from trans_out").collect():
        k = (r["event_type"], r["next_type"])
        got[k] = got.get(k, 0) + 1
    want = {
        (r["event_type"], r["next_type"]): r["n"]
        for r in event_transitions(
            load_table(spark, "/root/testdata/sf0.001", "events")
        ).collect()
    }
    assert got == want


def test_streaming_ewma_matches_sequential_fold(spark, tmp_path):
    """Two micro-batches of per-series points reproduce the exact
    sequential recursive EWMA (state carries the running average across
    the batch boundary; first point seeds silently)."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.ewma import streaming_ewma

    rows = []
    for s, vals in (("a", [10.0, 20.0, 40.0, 0.0]), ("b", [5.0, 5.0, 8.0])):
        for i, v in enumerate(vals):
            rows.append((s, 1_000_000 * (i + 1), i, v))
    half = len(rows) // 2
    (tmp_path / "in").mkdir(exist_ok=True)
    for bi, chunk in enumerate((rows[:half], rows[half:])):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text("\n".join(f"{s} {us} {q} {v}" for s, us, q, v in chunk))
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).alias("series"),
        p.getItem(1).cast("long").alias("us"),
        p.getItem(2).cast("long").alias("seq"),
        p.getItem(3).cast("double").alias("value"),
    )
    q = (
        streaming_ewma(stream, alpha=0.5)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["series"], r["us"]): (r["ewma"], r["resid"])
        for r in spark.sql("select * from ewma_out").collect()
    }
    # sequential reference fold
    want = {}
    for s, vals in (("a", [10.0, 20.0, 40.0, 0.0]), ("b", [5.0, 5.0, 8.0])):
        ew = None
        for i, v in enumerate(vals):
            us = 1_000_000 * (i + 1)
            if ew is None:
                ew = v
                continue
            want[(s, us)] = (ew, v - ew)
            ew = 0.5 * v + 0.5 * ew
    assert got == want


def test_curation_gate_runs_on_streams(spark, tmp_path):
    """The batch curation gate is stateless scan expressions + one
    stream-static join, so it runs UNMODIFIED on a document stream —
    streamed decisions equal the batch operator's row for row."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.pipeline.sample import curation_gate
    from ticktock_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    want = {r["doc_id"]: tuple(r) for r in curation_gate(docs, emb).collect()}

    rows = docs.select("doc_id", "text").collect()
    (tmp_path / "in").mkdir(exist_ok=True)
    half = len(rows) // 2
    for bi, chunk in enumerate((rows[:half], rows[half:])):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text(
            "\n".join(
                f"{r['doc_id']}\t" + (r["text"] or "").replace("\n", " ")
                for r in chunk
            )
        )
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", "\t")
    stream = lines.select(
        p.getItem(0).cast("long").alias("doc_id"), p.getItem(1).alias("text")
    )
    out = curation_gate(stream, emb)
    q = (
        out.writeStream.format("memory")
        .queryName("gate_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: tuple(r) for r in spark.sql("select * from gate_out").collect()}
    # newline flattening can alter quality for multi-line docs; compare
    # on the docs whose text had no newline (the transport, not the
    # operator, is lossy for the rest)
    flat = {r["doc_id"] for r in rows if r["text"] is not None and "\n" not in r["text"]}
    assert flat, "no single-line docs to compare"
    for d in flat:
        assert got[d] == want[d], d


def test_streaming_anomaly_matches_batch_ensemble(spark, tmp_path):
    """The live anomaly stream (streaming EWMA x broadcast seasonal
    profile) reproduces, across a micro-batch boundary, the score the
    batch ensemble computes on the same replayed points: the seasonal
    term joins the exact batch profile values, the recency term is the
    sequential recursive EWMA (the streaming state form), and rows
    whose (series, hour) has no profile row are dropped."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.anomaly import streaming_anomaly

    US_H = 3_600_000_000
    # two series, points spread over two distinct hours-of-day
    pts = []
    vals = {"a": [10.0, 20.0, 40.0, 0.0, 16.0, 12.0], "b": [5.0, 5.0, 8.0, 2.0]}
    for s, vs in vals.items():
        for i, v in enumerate(vs):
            us = 60_000_000 + i * 1_800_000_000  # monotone; hour flips every 2 pts
            pts.append((s, us, i, v))
    half = len(pts) // 2
    (tmp_path / "in").mkdir(exist_ok=True)
    for bi, chunk in enumerate((pts[:half], pts[half:])):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text("\n".join(f"{s} {us} {q} {v}" for s, us, q, v in chunk))
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))

    # batch-side seasonal profile over the SAME points (q155's shape on
    # hour-of-day), with series b given only hour 0 so hour-1 rows drop
    prof_rows = {}
    for s, us, _, v in pts:
        h = (us // US_H) % 24
        if s == "b" and h == 1:
            continue
        prof_rows.setdefault((s, h), []).append(v)
    profile = spark.createDataFrame(
        [(s, h, sum(vs) / len(vs)) for (s, h), vs in sorted(prof_rows.items())],
        "series string, hour_utc int, hour_avg double",
    )

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).alias("series"),
        p.getItem(1).cast("long").alias("us"),
        p.getItem(2).cast("long").alias("seq"),
        p.getItem(3).cast("double").alias("value"),
    )
    q = (
        streaming_anomaly(stream, profile, alpha=0.5)
        .writeStream.format("memory")
        .queryName("anomaly_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["series"], r["us"]): (r["ewma"], r["hour_avg"], r["score"])
        for r in spark.sql("select * from anomaly_out").collect()
    }
    # sequential reference: recursive EWMA fold + the same profile means
    want = {}
    for s, vs in vals.items():
        ew = None
        for i, v in enumerate(vs):
            us = 60_000_000 + i * 1_800_000_000
            h = (us // US_H) % 24
            if ew is None:
                ew = v
                continue
            prev = ew
            ew = 0.5 * v + 0.5 * prev
            if (s, h) not in prof_rows:
                continue  # no seasonal baseline -> dropped by inner join
            avg = sum(prof_rows[(s, h)]) / len(prof_rows[(s, h)])
            want[(s, us)] = (prev, avg, abs(v - avg) + abs(v - prev))
    assert got == want
    # the drop actually exercised: series b emitted hour-1 EWMA rows
    assert any(s == "b" for (s, _us) in want) and len(want) < sum(
        len(v) - 1 for v in vals.values()
    )


def test_mqtt_paho_factory_v2_compat_and_resubscribe(tmp_path):
    """The real-broker path, broker-free: a stub paho module (the
    container has neither paho nor mosquitto, and installs are out of
    scope — the factory's client construction and the CONNACK
    resubscribe contract are what a live broker would exercise) pins:
    (1) paho >= 2.0 gets CallbackAPIVersion.VERSION1 as first arg,
    v1 gets client_id only; (2) MqttSpool installs an on_connect that
    re-issues every subscribe — the reference's mqtt.cpp:255-269
    behavior that survives broker auto-reconnect with clean-session."""
    import sys
    import types

    from ticktock_spark.streaming import mqtt as m

    calls = {}

    class StubClient:
        def __init__(self, *args, **kwargs):
            calls["ctor"] = (args, kwargs)
            self.on_message = None
            self.on_connect = None
            self.subscribed = []

        def connect(self, broker, port, keepalive=60):
            calls["connect"] = (broker, port, keepalive)

        def subscribe(self, topic):
            self.subscribed.append(topic)

        def loop_start(self):
            pass

        def disconnect(self):
            pass

    def install(with_v2: bool):
        mod = types.ModuleType("paho.mqtt.client")
        mod.Client = StubClient
        if with_v2:
            mod.CallbackAPIVersion = types.SimpleNamespace(VERSION1="V1")
        pkg = types.ModuleType("paho")
        pkg.mqtt = types.ModuleType("paho.mqtt")
        pkg.mqtt.client = mod
        sys.modules["paho"] = pkg
        sys.modules["paho.mqtt"] = pkg.mqtt
        sys.modules["paho.mqtt.client"] = mod

    settings = (
        '[{"broker": "localhost", "port": 1883,'
        ' "topics": [{"topic": "t1", "format": "put"},'
        '            {"topic": "t2", "format": "line"}]}]'
    )
    try:
        # paho >= 2.0: CallbackAPIVersion passed positionally first
        install(with_v2=True)
        spool = m.MqttSpool(settings, str(tmp_path / "s1"))
        args, kwargs = calls["ctor"]
        assert args == ("V1",) and kwargs == {"client_id": "ticktockdb"}
        assert calls["connect"] == ("localhost", 1883, 10)
        client = spool._clients[0]
        assert sorted(client.subscribed) == ["t1", "t2"]
        # broker reconnect: CONNACK fires on_connect -> resubscribe
        client.subscribed.clear()
        client.on_connect(client, None, {}, 0)
        assert sorted(client.subscribed) == ["t1", "t2"]
        spool.stop()

        # paho 1.x: no CallbackAPIVersion attribute -> client_id only
        install(with_v2=False)
        spool = m.MqttSpool(settings, str(tmp_path / "s2"))
        args, kwargs = calls["ctor"]
        assert args == () and kwargs == {"client_id": "ticktockdb"}
        spool.stop()
    finally:
        for name in ("paho.mqtt.client", "paho.mqtt", "paho"):
            sys.modules.pop(name, None)


def test_streaming_cusum_matches_sequential_fold(spark, tmp_path):
    """Two micro-batches reproduce the exact sequential two-sided CUSUM
    (Page test): state carries both sides across the batch boundary, a
    planted +6 level shift raises an 'up' alarm and resets that side,
    and a replayed duplicate of the last (us, seq) is dropped."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.cusum import streaming_cusum

    vals = [10.0, 10.5, 9.5, 16.0, 16.5, 16.0, 10.0, 9.8]
    rows = [("a", 1_000_000 * (i + 1), i, v) for i, v in enumerate(vals)]
    half = len(rows) // 2
    (tmp_path / "in").mkdir(exist_ok=True)
    batches = (rows[:half], rows[half:] + [rows[half - 1]])  # replay last
    for bi, chunk in enumerate(batches):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text("\n".join(f"{s} {us} {q} {v}" for s, us, q, v in chunk))
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).alias("series"),
        p.getItem(1).cast("long").alias("us"),
        p.getItem(2).cast("long").alias("seq"),
        p.getItem(3).cast("double").alias("value"),
    )
    q = (
        streaming_cusum(stream, target=10.0, slack=0.5, threshold=8.0)
        .writeStream.format("memory")
        .queryName("cusum_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = [
        (r["us"], r["s_pos"], r["s_neg"], r["alarm"])
        for r in spark.sql("select * from cusum_out order by us").collect()
    ]
    # sequential reference
    want = []
    sp = sn = 0.0
    for i, v in enumerate(vals):
        sp = max(0.0, sp + (v - 10.0 - 0.5))
        sn = max(0.0, sn + (10.0 - v - 0.5))
        alarm = None
        if sp > 8.0:
            alarm, sp = "up", 0.0
        elif sn > 8.0:
            alarm, sn = "down", 0.0
        want.append((1_000_000 * (i + 1), sp, sn, alarm))
    assert got == want
    # the shift actually alarmed exactly once
    assert [w[3] for w in want].count("up") == 1


def test_streaming_seasonal_profile_matches_batch(spark, tmp_path):
    """The update-mode profile aggregate converges to the exact batch
    hour-of-day profile over the same replayed points (decimal-exact
    means, state = 24 x |series| groups)."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.anomaly import streaming_seasonal_profile

    US_H = 3_600_000_000
    rows = []
    for s in ("a", "b"):
        for i in range(12):
            us = (i % 3) * US_H + i * 60_000_000
            rows.append((s, us, i, float((i * 7) % 5) + 0.25))
    half = len(rows) // 2
    (tmp_path / "in").mkdir(exist_ok=True)
    for bi, chunk in enumerate((rows[:half], rows[half:])):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text("\n".join(f"{s} {us} {q} {v}" for s, us, q, v in chunk))
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).alias("series"),
        p.getItem(1).cast("long").alias("us"),
        p.getItem(3).cast("double").alias("value"),
    )
    q = (
        streaming_seasonal_profile(stream)
        .writeStream.format("memory")
        .queryName("prof_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["series"], r["hour_utc"]): (r["n"], r["hour_avg"])
        for r in spark.sql("select * from prof_out").collect()
    }
    # batch twin on the same rows (exact decimal means)
    batch = (
        spark.createDataFrame(rows, "series string, us long, seq long, value double")
        .groupBy(
            "series", (F.expr("us div 3600000000") % 24).cast("int").alias("h")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg"),
        )
    )
    want = {
        (r["series"], r["h"]): (r["n"], r["avg"]) for r in batch.collect()
    }
    assert got == want and len(got) == 6


def test_streaming_holt_matches_sequential_fold(spark, tmp_path):
    """Holt level+trend recursion across a micro-batch boundary equals
    the sequential reference fold, and on a pure linear ramp the
    forecast residual converges toward 0 where plain EWMA's lags by a
    constant offset."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.holt import streaming_holt

    vals = [float(10 + 2 * i) for i in range(12)]  # exact ramp, slope 2
    rows = [("a", 1_000_000 * (i + 1), i, v) for i, v in enumerate(vals)]
    half = len(rows) // 2
    (tmp_path / "in").mkdir(exist_ok=True)
    for bi, chunk in enumerate((rows[:half], rows[half:])):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text("\n".join(f"{s} {us} {q} {v}" for s, us, q, v in chunk))
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).alias("series"),
        p.getItem(1).cast("long").alias("us"),
        p.getItem(2).cast("long").alias("seq"),
        p.getItem(3).cast("double").alias("value"),
    )
    q = (
        streaming_holt(stream, alpha=0.5, beta=0.25)
        .writeStream.format("memory")
        .queryName("holt_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["us"], r["forecast"], r["resid"], r["level"], r["trend"])
        for r in spark.sql("select * from holt_out order by us").collect()
    ]
    want = []
    level, trend = vals[0], 0.0
    for i, v in enumerate(vals[1:], start=1):
        fc = level + trend
        nl = 0.5 * v + 0.5 * fc
        trend = 0.25 * (nl - level) + 0.75 * trend
        level = nl
        want.append((1_000_000 * (i + 1), fc, v - fc, level, trend))
    assert got == want
    # trend absorbed the ramp: the last residual is well under the
    # constant 2-per-step lag a trendless EWMA would keep paying
    assert abs(got[-1][2]) < 1.0 and got[-1][4] > 1.0


def test_streaming_burn_rate_matches_batch(spark, tmp_path):
    """The sliding-window burn-rate aggregate over two micro-batches
    (with a late-but-inside-watermark point revising earlier windows)
    matches the identical aggregation run as one batch query on the
    full replayed data; the tumbling fast view is the same function at
    length=slide."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.rollup import streaming_burn_rate

    T0 = 1_704_067_200_000
    rows = []
    for i in range(24):  # 2 hours of 5m points
        m = "error" if i % 4 == 0 else "ok"
        rows.append((m, T0 + i * 300_000, 1.0))
    late = [("error", T0 + 3 * 300_000, 1.0)]  # revises early windows
    half = len(rows) // 2
    (tmp_path / "in").mkdir(exist_ok=True)
    for bi, chunk in enumerate((rows[:half], rows[half:] + late)):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text("\n".join(f"{m} {ts} {v}" for m, ts, v in chunk))
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).alias("metric"),
        p.getItem(1).cast("long").alias("ts"),
        p.getItem(2).cast("double").alias("value"),
    )
    q = (
        streaming_burn_rate(stream, watermark="3 hours")
        .writeStream.format("memory")
        .queryName("burn_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window_start"]: (r["n_err"], r["n_tot"], r["ratio"])
        for r in spark.sql("select * from burn_out").collect()
    }
    batch_df = spark.createDataFrame(
        rows + late, "metric string, ts long, value double"
    )
    win = F.window(F.timestamp_millis(F.col("ts")), "1 hour", "5 minutes")
    is_err = (F.col("metric") == "error").cast("long")
    want = {
        r["ws"]: (r["n_err"], r["n_tot"], r["ratio"])
        for r in batch_df.groupBy(win.alias("w"))
        .agg(F.sum(is_err).alias("n_err"), F.count(F.lit(1)).alias("n_tot"))
        .select(
            F.unix_millis(F.col("w.start")).alias("ws"),
            "n_err",
            "n_tot",
            (F.col("n_err").cast("double") / F.col("n_tot")).alias("ratio"),
        )
        .collect()
    }
    assert got == want and len(got) > 20
    # the late error actually moved a revised window's count
    w_late = T0 + 3 * 300_000 - 3_300_000
    assert got[w_late][0] == want[w_late][0] >= 2


def test_streaming_liveness_matches_batch_and_fold(spark, tmp_path):
    """The live gap/flatline monitor (streaming/liveness.py) across two
    micro-batches: gaps equal the batch lag-deltas, the running
    identical-value run-length matches a sequential fold, the final
    longest_run equals batch flatline_runs' answer, the flatline alarm
    fires ON the min_run-th frozen point (causally — the batch twin
    q196 needs the whole window), and a replayed (us, seq) duplicate is
    dropped."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.liveness import streaming_liveness

    # 15s cadence, one 90s silence, a 4-long frozen stretch
    vals = [1.0, 2.0, 7.5, 7.5, 7.5, 7.5, 3.0, 4.0]
    ts_us, t = [], 0
    for i in range(len(vals)):
        t += 90_000_000 if i == 2 else 15_000_000
        ts_us.append(t)
    rows = [("a", ts_us[i], i, vals[i]) for i in range(len(vals))]
    half = len(rows) // 2
    (tmp_path / "in").mkdir(exist_ok=True)
    batches = (rows[:half], rows[half:] + [rows[half - 1]])  # replay last
    for bi, chunk in enumerate(batches):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text("\n".join(f"{s} {us} {q} {v}" for s, us, q, v in chunk))
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).alias("series"),
        p.getItem(1).cast("long").alias("us"),
        p.getItem(2).cast("long").alias("seq"),
        p.getItem(3).cast("double").alias("value"),
    )
    q = (
        streaming_liveness(stream, min_run=3)
        .writeStream.format("memory")
        .queryName("live_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["us"], r["gap_ms"], r["run_len"], r["longest_run"], r["flatline"])
        for r in spark.sql("select * from live_out order by us").collect()
    ]

    # sequential reference fold
    want, run, longest, prev = [], 0, 0, None
    last_v = None
    for i, v in enumerate(vals):
        gap = None if prev is None else (ts_us[i] - prev) // 1000
        run = run + 1 if last_v == v else 1
        longest = max(longest, run)
        prev, last_v = ts_us[i], v
        want.append((ts_us[i], gap, run, longest, run >= 3))
    assert got == want
    # live gap reading caught the 90s silence
    assert got[2][1] == 90_000
    # alarm fired exactly on the 3rd and 4th frozen points
    assert [g[4] for g in got] == [False, False, False, False, True, True,
                                   False, False]
    # final longest_run equals the batch flatline operator's answer
    from ticktock_spark.operators.summary import flatline_runs

    batch = spark.createDataFrame(
        [("a", ts_us[i] // 1000, vals[i]) for i in range(len(vals))],
        "metric string, ts long, value double",
    )
    assert (
        flatline_runs(batch, ["metric"], min_run=3).first()["longest_run"]
        == got[-1][3]
    )


def test_streaming_liveness_nan_value_does_not_poison_the_query(spark, tmp_path):
    """A NULL/NaN value must not kill the stateful function (the
    checkpoint would replay the poison record forever): it still proves
    liveness (the gap resets) but carries no value identity — it never
    extends a run and nothing extends from it."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.streaming.liveness import streaming_liveness

    rows = [
        ("a", 1_000_000, 0, "5.0"),
        ("a", 2_000_000, 1, "5.0"),
        ("a", 3_000_000, 2, "nan"),   # poison candidate
        ("a", 4_000_000, 3, "nan"),   # consecutive NaNs: no NaN 'run'
        ("a", 5_000_000, 4, "5.0"),
    ]
    (tmp_path / "in").mkdir(exist_ok=True)
    f = tmp_path / "in" / "b0.txt"
    f.write_text("\n".join(f"{s} {us} {q} {v}" for s, us, q, v in rows))
    os.utime(f, (1_000_000_000, 1_000_000_000))
    lines = spark.readStream.format("text").load(str(tmp_path / "in"))
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).alias("series"),
        p.getItem(1).cast("long").alias("us"),
        p.getItem(2).cast("long").alias("seq"),
        p.getItem(3).cast("double").alias("value"),
    )
    q = (
        streaming_liveness(stream, min_run=2)
        .writeStream.format("memory")
        .queryName("live_nan_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["us"], r["gap_ms"], r["run_len"], r["flatline"])
        for r in spark.sql("select * from live_nan_out order by us").collect()
    ]
    assert got == [
        (1_000_000, None, 1, False),
        (2_000_000, 1000, 2, True),     # the real run
        (3_000_000, 1000, 1, False),    # NaN breaks it, gap still read
        (4_000_000, 1000, 1, False),    # NaN never extends a NaN
        (5_000_000, 1000, 1, False),    # and nothing extends FROM NaN
    ]


def test_late_point_splits_reported_gap_to_batch_answer(spark, tmp_path):
    """The r9 verdict's OOO ask for the liveness family: a LATE point
    arriving within the watermark that lands INSIDE an already-reported
    gap must SPLIT it — the live gap report revises to, bit-for-bit,
    the batch q197 answer over all points including the late one
    (mirroring test_late_data_revises_quantile_reads_to_batch: late
    data belongs to its timestamp's bucket, not its arrival's). The
    causal streaming_liveness monitor deliberately drops late rows
    (alarms never un-fire); streaming_presence is the revising twin."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.operators.summary import gap_report
    from ticktock_spark.streaming.liveness import (
        gap_report_reads,
        streaming_presence,
    )

    minute = 60_000
    t0 = 1_700_000_000_000 - (1_700_000_000_000 % minute)
    # epoch 1: minutes 0-2 and 10-11 → one 7-bucket gap (420 s silent)
    rows = [("m", t0 + m * minute + 123, 1.0) for m in (0, 1, 2, 10, 11)]
    # epoch 2: a late point INSIDE the gap (minute 6, within 1h watermark)
    late = [("m", t0 + 6 * minute + 45, 9.9)]
    (tmp_path / "in").mkdir(exist_ok=True)
    for bi, chunk in enumerate((rows, late)):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text("\n".join(f"{s} {ts} {v}" for s, ts, v in chunk))
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "in"))
    )
    p = F.split("value", " ")
    stream = lines.select(
        p.getItem(0).alias("metric"),
        p.getItem(1).cast("long").alias("ts"),
        p.getItem(2).cast("double").alias("value"),
    )
    q = (
        streaming_presence(stream, bucket_ms=minute, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("presence_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    live = gap_report_reads(
        spark.table("presence_out"), bucket_ms=minute
    ).collect()
    batch_all = gap_report(
        spark.createDataFrame(
            rows + late, "metric string, ts long, value double"
        ),
        ["metric"],
        bucket_ms=minute,
    ).collect()
    got = {tuple(r) for r in live}
    want = {tuple(r) for r in batch_all}
    assert got == want  # bit-exact revision, the late point included
    # and the late point actually SPLIT the reported gap: 7 missing
    # buckets stay missing-minus-one, but the longest run of silence
    # halves from 420 s to 180 s
    pre = gap_report(
        spark.createDataFrame(rows, "metric string, ts long, value double"),
        ["metric"],
        bucket_ms=minute,
    ).first()
    assert pre["longest_gap_ms"] == 7 * minute
    final = live[0]
    assert final["longest_gap_ms"] == 3 * minute
    assert final["n_missing"] == pre["n_missing"] - 1


def test_streaming_presence_restart_preserves_gap_state(spark, tmp_path):
    """streaming_presence across a STOP/RESTART: the watermarked bucket
    counts live in the checkpoint, so a second query instance resumes
    from epoch 1's state and a late point delivered after the restart
    still splits the reported gap to the exact batch answer — the
    WAL/crash-recovery contract (SURVEY §2.1) for the revising twin."""
    import os

    from pyspark.sql import functions as F

    from ticktock_spark.operators.summary import gap_report
    from ticktock_spark.streaming.liveness import (
        gap_report_reads,
        streaming_presence,
    )

    minute = 60_000
    t0 = 1_700_000_000_000 - (1_700_000_000_000 % minute)
    rows = [("m", t0 + m * minute + 7, 1.0) for m in (0, 1, 8, 9)]
    late = [("m", t0 + 4 * minute + 7, 2.0)]  # splits the 6-bucket gap
    (tmp_path / "in").mkdir(exist_ok=True)

    def write_epoch(bi, chunk):
        f = tmp_path / "in" / f"b{bi}.txt"
        f.write_text("\n".join(f"{s} {ts} {v}" for s, ts, v in chunk))
        os.utime(f, (1_000_000_000 + bi, 1_000_000_000 + bi))

    def run_query():
        lines = spark.readStream.format("text").load(str(tmp_path / "in"))
        p = F.split("value", " ")
        stream = lines.select(
            p.getItem(0).alias("metric"),
            p.getItem(1).cast("long").alias("ts"),
            p.getItem(2).cast("double").alias("value"),
        )
        q = (
            streaming_presence(stream, bucket_ms=minute, watermark="1 hour")
            .writeStream.format("memory")
            .queryName("presence_restart_out")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_epoch(0, rows)
    run_query()  # instance 1 processes epoch 1, then terminates
    pre = gap_report_reads(
        spark.table("presence_restart_out"), bucket_ms=minute
    ).first()
    assert pre["longest_gap_ms"] == 6 * minute
    write_epoch(1, late)
    run_query()  # instance 2 resumes from the checkpoint
    live = gap_report_reads(
        spark.table("presence_restart_out"), bucket_ms=minute
    ).collect()
    want = gap_report(
        spark.createDataFrame(
            rows + late, "metric string, ts long, value double"
        ),
        ["metric"],
        bucket_ms=minute,
    ).collect()
    assert {tuple(r) for r in live} == {tuple(r) for r in want}
    assert live[0]["longest_gap_ms"] == 3 * minute  # the gap split


def test_liveness_checkpoint_dir_is_version_scoped(tmp_path, monkeypatch):
    """A LIVENESS_STATE schema bump must land restarts in a FRESH
    checkpoint directory: applyInPandasWithState has no state migration,
    and resuming v2 code on a v1 checkpoint dies inside the state store.
    The helper bakes the version into the path so the old checkpoint is
    orphaned, not crashed into."""
    from ticktock_spark.streaming import liveness as lv

    d2 = lv.liveness_checkpoint_dir(str(tmp_path))
    assert f"liveness-state-v{lv.LIVENESS_STATE_VERSION}" in d2
    monkeypatch.setattr(lv, "LIVENESS_STATE_VERSION", 3)
    d3 = lv.liveness_checkpoint_dir(str(tmp_path))
    assert d3 != d2 and "liveness-state-v3" in d3
