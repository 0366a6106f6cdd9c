"""Structured Streaming tests ([EXT] E6): watermark, windows, late data.

File-source streams built from JSON drops in a temp dir; drained with
availableNow triggers into memory sinks (``windows.drain``). The
watermark/late-drop test uses two sequential drops so the watermark
from batch 1 gates batch 2.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from pagerank_hadoop_spark.streaming import windows as W
from pagerank_hadoop_spark.streaming.windows import (
    drain,
    read_events_stream,
    session_agg,
    sliding_agg,
    tumbling_agg,
)

KEY = "spark.sql.shuffle.partitions"


def _write_drop(dirpath: str, name: str, rows: list[dict]) -> None:
    with open(os.path.join(dirpath, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(i: int, ts: str, user: int = 1, typ: str = "click") -> dict:
    return {"event_id": i, "ts": ts, "user_id": user, "event_type": typ,
            "value": "1.0", "props": "{}"}


@pytest.fixture()
def drop_dir(tmp_path):
    return str(tmp_path)


def test_tumbling_counts(spark, drop_dir):
    _write_drop(drop_dir, "a.json", [
        _ev(1, "2024-01-01T00:01:00Z"),
        _ev(2, "2024-01-01T00:04:00Z"),
        _ev(3, "2024-01-01T00:11:00Z"),
    ])
    stream = read_events_stream(spark, drop_dir)
    assert stream.isStreaming
    drained = drain(tumbling_agg(stream), "complete")
    rows = {(str(r["wstart"]), r["cnt"]) for r in drained.collect()}
    assert rows == {("2024-01-01 00:00:00", 2), ("2024-01-01 00:10:00", 1)}


def test_sliding_each_event_in_two_windows(spark, drop_dir):
    _write_drop(drop_dir, "a.json", [_ev(1, "2024-01-01T00:06:00Z")])
    stream = read_events_stream(spark, drop_dir)
    drained = drain(sliding_agg(stream), "complete")
    starts = sorted(str(r["wstart"]) for r in drained.collect())
    assert starts == ["2024-01-01 00:00:00", "2024-01-01 00:05:00"]


def test_session_window_gap_merge(spark, drop_dir):
    _write_drop(drop_dir, "a.json", [
        _ev(1, "2024-01-01T00:00:00Z", user=7),
        _ev(2, "2024-01-01T00:10:00Z", user=7),   # same session (gap 10m < 30m)
        _ev(3, "2024-01-01T02:00:00Z", user=7),   # new session
        _ev(4, "2024-01-01T00:00:00Z", user=8),
    ])
    stream = read_events_stream(spark, drop_dir)
    drained = drain(session_agg(stream), "complete")
    rows = {(r["user_id"], str(r["session_start"]), r["n_events"])
            for r in drained.collect()}
    assert rows == {
        (7, "2024-01-01 00:00:00", 2),
        (7, "2024-01-01 02:00:00", 1),
        (8, "2024-01-01 00:00:00", 1),
    }


def test_watermark_drops_late_data(spark, drop_dir):
    # batch 1 advances the watermark to 10:00 - 30min = 09:30;
    # batch 2's 00:05 event is far behind the watermark → dropped
    _write_drop(drop_dir, "a.json", [_ev(1, "2024-01-01T10:00:00Z")])
    stream = read_events_stream(spark, drop_dir, max_files_per_trigger=1)
    agg = tumbling_agg(stream, watermark="30 minutes")
    q = (
        agg.writeStream.format("memory").queryName("t_late")
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    try:
        q.processAllAvailable()
        _write_drop(drop_dir, "b.json", [_ev(2, "2024-01-01T00:05:00Z"),
                                         _ev(3, "2024-01-01T10:01:00Z")])
        q.processAllAvailable()
        _write_drop(drop_dir, "c.json", [_ev(4, "2024-01-01T12:00:00Z")])
        q.processAllAvailable()  # advance watermark so 10:00 window closes
    finally:
        q.stop()
    rows = {(str(r["wstart"]), r["cnt"]) for r in spark.table("t_late").collect()}
    # the 00:00 window never appears (late event dropped); 10:00 window has both
    assert ("2024-01-01 00:00:00", 1) not in rows
    assert ("2024-01-01 10:00:00", 2) in rows


def test_stateful_dedup_across_batches(spark, drop_dir):
    from pagerank_hadoop_spark.streaming.stateful import stateful_dedup_stream

    _write_drop(drop_dir, "a.json", [
        _ev(1, "2024-01-01T00:00:00Z", user=1),
        _ev(2, "2024-01-01T00:01:00Z", user=1),
        _ev(2, "2024-01-01T00:01:30Z", user=1),   # dup within batch
        _ev(1, "2024-01-01T00:00:00Z", user=2),
    ])
    stream = read_events_stream(spark, drop_dir, max_files_per_trigger=1)
    deduped = stateful_dedup_stream(stream)
    q = (
        deduped.writeStream.format("memory").queryName("t_dedup")
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    try:
        q.processAllAvailable()
        _write_drop(drop_dir, "b.json", [
            _ev(1, "2024-01-01T00:05:00Z", user=1),   # dup across batches
            _ev(3, "2024-01-01T00:06:00Z", user=1),   # new
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("t_dedup").collect()
    emitted = {(r["user_id"], r["event_id"]) for r in rows}
    assert emitted == {(1, 1), (1, 2), (1, 3), (2, 1)}
    # batch 1 dropped one dup for user 1; batch 2 dropped one more
    dropped_u1 = sorted(r["n_dups_dropped"] for r in rows if r["user_id"] == 1)
    assert dropped_u1 == [1, 1, 1]  # [batch1 rows x2 report 1, batch2 row reports 1]


def test_foreachbatch_parquet_sink_idempotent(spark, sf_dir, tmp_path):
    from pagerank_hadoop_spark.streaming.windows import (
        stream_to_parquet_idempotent,
    )

    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )

    def drain(out, ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .select("event_id", "user_id")
        )
        stream_to_parquet_idempotent(stream, out, ckpt)

    src_count = (
        spark.read.parquet(f"{sf_dir}/events.parquet").count()
    )
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    drain(out, ckpt)
    assert spark.read.parquet(out).count() == src_count
    # re-drain with the SAME checkpoint: offsets already committed ->
    # no new batches, no duplicated rows
    drain(out, ckpt)
    assert spark.read.parquet(out).count() == src_count


def _events_dir(path, n_bytes: int) -> str:
    """A directory whose ``events.parquet`` is a sparse file of
    ``n_bytes``: :func:`W.events_parts` reads only its size."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "events.parquet"), "wb") as fh:
        fh.truncate(n_bytes)
    return str(path)


def test_drain_scopes_width_and_restores(spark, drop_dir, tmp_path):
    """The drain runs a stream at its source's width, never above the
    session's, inside the one conf scope: the session's width is back
    after the drain, also when a micro-batch raises."""
    _write_drop(drop_dir, "a.json", [_ev(1, "2024-01-01T00:01:00Z")])
    stream = read_events_stream(spark, drop_dir)

    def width_in_drain(parts: int, fail: bool = False) -> list[str]:
        seen = []

        def record(batch_df, batch_id):
            seen.append(spark.conf.get(KEY))
            if fail:
                raise RuntimeError("boom")

        drain(stream, parts=parts, sink=lambda w: w.foreachBatch(record))
        return seen

    before = spark.conf.get(KEY)
    spark.conf.set(KEY, "32")
    try:
        small = W.events_parts(_events_dir(tmp_path / "small", 1 << 20))
        big = W.events_parts(_events_dir(tmp_path / "big", 1 << 40))
        assert (small, big) == (8, 1 << 16)
        # 1 MiB source: narrowed to the floor of 8 inside, restored after
        assert width_in_drain(small) == ["8"]
        assert spark.conf.get(KEY) == "32"
        # big source: capped at the session's width, never above
        assert width_in_drain(big) == ["32"]
        assert spark.conf.get(KEY) == "32"
        # restore survives an exception inside the scope
        with pytest.raises(Exception, match="boom"):
            width_in_drain(small, fail=True)
        assert spark.conf.get(KEY) == "32"
    finally:
        spark.conf.set(KEY, before)


def test_drain_waits_for_a_loop_scope_in_another_thread(spark, drop_dir):
    """A loop scope open in thread A narrows an 8-wide session to 4
    with AQE, bloom and broadcast off; a drain at width 2 starts in
    thread B meanwhile. B waits for A's scope to close, so afterwards
    the session's four values are what they were. Unserialized, B
    would read A's 4 and restore it after A's restore."""
    from pagerank_hadoop_spark.operators.pagerank import _loop_shuffle_scope

    keys = (
        KEY,
        "spark.sql.adaptive.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    _write_drop(drop_dir, "a.json", [_ev(1, "2024-01-01T00:01:00Z")])
    stream = read_events_stream(spark, drop_dir)
    a_in, b_starting = threading.Event(), threading.Event()
    errors = []

    def thread_a():
        with _loop_shuffle_scope(spark, 4):
            a_in.set()
            b_starting.wait(10)
            time.sleep(1.0)  # B is now blocked entering its drain

    def thread_b():
        a_in.wait(10)
        b_starting.set()
        try:
            drain(tumbling_agg(stream), "complete", parts=2)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    before = spark.conf.get(KEY)
    spark.conf.set(KEY, "8")
    try:
        want = {k: spark.conf.get(k) for k in keys}
        threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
        after = {k: spark.conf.get(k) for k in keys}
    finally:
        spark.conf.set(KEY, before)
    assert errors == []
    assert after == want


@pytest.mark.parametrize("all_available", [False, True])
def test_drain_past_its_bound_stops_and_raises(
    spark, drop_dir, monkeypatch, all_available
):
    """A drain still running at :data:`W.DRAIN_TIMEOUT_S` raises
    ``TimeoutError`` and leaves no query active, on both triggers: a
    three-file stream read one file per micro-batch, and the Python
    data source drained with ``processAllAvailable``."""
    if all_available:
        from pagerank_hadoop_spark.sources.pystream import register_detevents

        register_detevents(spark)
        stream = (
            spark.readStream.format("detevents")
            .option("n_total", 8192)
            .option("rows_per_batch", 1024)
            .load()
        )
    else:
        for i in range(3):
            _write_drop(drop_dir, f"{i}.json", [_ev(i, f"2024-01-01T00:0{i}:00Z")])
        stream = read_events_stream(spark, drop_dir, max_files_per_trigger=1)
    monkeypatch.setattr(W, "DRAIN_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        drain(stream, all_available=all_available)
    assert spark.streams.active == []


def test_left_outer_band_join_needs_punctuation_to_flush(spark, tmp_path):
    """The watermark-gating semantics the punctuation pattern exists
    for: without sentinels the unmatched-but-young left rows stay
    buffered at drain; with punctuated_events_dir they all flush."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.streaming.windows import (
        punctuated_events_dir,
        stream_stream_band_join,
    )

    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00Z
    rows = {
        "event_id": [1, 2, 3],
        "ts": [base_us, base_us + 600_000_000, base_us + 3_600_000_000],
        "user_id": [1, 1, 2],
        "event_type": ["purchase", "error", "purchase"],
        "value": [0.0] * 3,
        "props": [None] * 3,
    }
    sf = tmp_path / "mini_sf"
    sf.mkdir()
    pq.write_table(pa.table(rows, schema=schema), sf / "events.parquet")

    def run(src_dir: str):
        src = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

        def side(et, p):
            return src.where(F.col("event_type") == et).select(
                F.col("user_id").alias(f"{p}_user_id"),
                F.col("ts").alias(f"{p}_ts"),
                F.col("event_id").alias(f"{p}_event_id"),
            )

        j = stream_stream_band_join(
            side("purchase", "p"), side("error", "e"),
            "p_user_id", "e_user_id", "p_ts", "e_ts",
            band="2 hours", watermark="1 hour", how="leftOuter",
        )
        # sentinel filter goes on the DRAINED table, never inside the
        # streaming plan: Catalyst pushes it into the source scan,
        # which deletes the punctuation rows before they can advance
        # the watermark (punctuated_events_dir docstring)
        return {
            (r["p_event_id"], r["e_event_id"])
            for r in drain(j).where(F.col("p_user_id") >= 0).collect()
        }

    # bare drain: matched pair emits, unmatched purchase 3 is withheld
    assert run(str(sf)) == {(1, 2)}
    # punctuated drain: everything flushes
    punct = punctuated_events_dir(str(sf), "timestamp")
    assert run(punct) == {(1, 2), (3, None)}

    # DIRECTORY-layout events table (Spark-written, part files +
    # _SUCCESS): the r9 scale find — a verbatim symlink made the real
    # rows invisible to the streaming source's listing (only sentinels
    # streamed; /tmp/sf1_synth drained 0 rows). The staging must
    # consolidate the directory into ONE file (a single micro-batch:
    # time-interleaved part files would otherwise drop later batches
    # below the committed watermark) and drain identically.
    sf_dir = tmp_path / "mini_sf_dir"
    sf_dir.mkdir()
    ev_dir = sf_dir / "events.parquet"
    ev_dir.mkdir()
    half = {k: v[:2] for k, v in rows.items()}
    rest = {k: v[2:] for k, v in rows.items()}
    pq.write_table(pa.table(half, schema=schema), ev_dir / "part-00000.parquet")
    pq.write_table(pa.table(rest, schema=schema), ev_dir / "part-00001.parquet")
    (ev_dir / "_SUCCESS").touch()
    punct_dir = punctuated_events_dir(str(sf_dir), "timestamp")
    assert run(punct_dir) == {(1, 2), (3, None)}


def test_cdc_apply_multi_batch_and_replay_idempotent(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os, time

    from pagerank_hadoop_spark.streaming.windows import (
        cdc_apply_to_parquet,
        read_cdc_state,
    )

    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.int64()), ("user_id", pa.int64()),
         ("v", pa.string())]
    )
    src = tmp_path / "cdc_src"
    src.mkdir()
    batches = [
        {"event_id": [1, 2], "ts": [10, 20], "user_id": [1, 2], "v": ["a", "b"]},
        {"event_id": [3, 4], "ts": [15, 30], "user_id": [1, 2], "v": ["c", "d"]},
        {"event_id": [5], "ts": [30], "user_id": [2], "v": ["e"]},
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        p = src / f"b{i}.parquet"
        pq.write_table(pa.table(rows, schema=schema), p)
        os.utime(p, (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema("event_id long, ts long, user_id long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = str(tmp_path / "state")
    cdc_apply_to_parquet(
        stream, state, str(tmp_path / "ck1"),
        key_cols=["user_id"], order_cols=["ts", "event_id"],
    )
    # latest per user under (ts, event_id): u1 -> (ts20,'a'? no: u1 rows
    # (10,'a'),(15,'c') -> 'a' has ts10... u1 latest = (15,'c');
    # u2 rows (20,'b'),(30,'d'),(30,'e') -> tie on ts=30, event_id 5 wins
    got = {r["user_id"]: r["v"] for r in read_cdc_state(spark, state).collect()}
    assert got == {1: "c", 2: "e"}
    # marker reflects three per-file batches, not one
    with open(os.path.join(state, "_LATEST")) as fh:
        assert int(fh.read()) >= 2

    # replay the whole stream with a FRESH checkpoint over the SAME
    # state dir: every batch refolds from its predecessor version;
    # final state must be unchanged
    cdc_apply_to_parquet(
        stream, state, str(tmp_path / "ck2"),
        key_cols=["user_id"], order_cols=["ts", "event_id"],
    )
    again = {r["user_id"]: r["v"] for r in read_cdc_state(spark, state).collect()}
    assert again == got


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill-and-restart semantics: a query stopped after its first
    micro-batch, restarted with the SAME checkpoint against a sink
    that deduplicates by batch overwrite, neither loses nor
    duplicates rows — the exactly-once contract the foreachBatch
    sink pattern exists for."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os, time

    schema = pa.schema([("event_id", pa.int64()), ("v", pa.string())])
    src = tmp_path / "rec_src"
    src.mkdir()
    now = time.time()
    for i in range(3):
        p = src / f"f{i}.parquet"
        pq.write_table(
            pa.table({"event_id": [i * 10, i * 10 + 1], "v": ["a", "b"]},
                     schema=schema),
            p,
        )
        os.utime(p, (now + i * 10, now + i * 10))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema("event_id long, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

        def write_batch(df, bid):
            df.write.mode("overwrite").parquet(f"{out}/batch_id={bid}")

        return (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # first run: stop as soon as the first batch has committed
    q = start()
    deadline = time.time() + 60
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["batchId"] >= 0:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    seen_after_kill = spark.read.parquet(out).count()
    # usually interrupted mid-stream (< 6); on a fast machine all
    # three single-file batches may have committed — either way the
    # restart below must converge to exactly-once
    assert seen_after_kill <= 6

    # restart from the same checkpoint: the remaining files drain,
    # nothing is lost, nothing is double-written
    q2 = start()
    assert q2.awaitTermination(120)
    rows = spark.read.parquet(out)
    assert rows.count() == 6
    assert rows.select("event_id").distinct().count() == 6


def test_cdc_state_versions_pruned_and_marker_atomic(spark, tmp_path):
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pagerank_hadoop_spark.streaming.windows import (
        cdc_apply_to_parquet,
        read_cdc_state,
    )

    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.int64()),
         ("user_id", pa.int64()), ("v", pa.string())]
    )
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    for i in range(4):
        p = src / f"b{i}.parquet"
        pq.write_table(
            pa.table(
                {"event_id": [i], "ts": [i], "user_id": [1], "v": [f"v{i}"]},
                schema=schema,
            ),
            p,
        )
        os.utime(p, (now + 10 * i, now + 10 * i))
    stream = (
        spark.readStream.schema("event_id long, ts long, user_id long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = str(tmp_path / "state")
    cdc_apply_to_parquet(
        stream, state, str(tmp_path / "ck"),
        key_cols=["user_id"], order_cols=["ts", "event_id"],
    )
    assert read_cdc_state(spark, state).collect()[0]["v"] == "v3"
    # superseded versions pruned: only the replay predecessor and the
    # current version may remain (not one dir per batch)
    vdirs = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert len(vdirs) <= 2, vdirs
    # marker holds a clean integer and no orphaned temp file remains
    with open(os.path.join(state, "_LATEST")) as fh:
        int(fh.read())
    assert not os.path.exists(os.path.join(state, "_LATEST.tmp"))


def test_ttl_dedup_core_readmission_and_eviction():
    from pagerank_hadoop_spark.streaming.stateful import _ttl_dedup_core

    # batch 1: id 7 at t=0 emits; repeat at t=50 within ttl=100 drops
    emitted, seen = _ttl_dedup_core({}, [(7, 0), (7, 50)], ttl_ms=100)
    assert emitted == [(7, 0)]
    assert seen == {7: 50}  # drop still refreshed last-seen

    # batch 2: gap 101 > ttl from last-seen 50 -> re-admits; id 9 new
    emitted, seen = _ttl_dedup_core(seen, [(7, 151), (9, 160)], ttl_ms=100)
    assert emitted == [(7, 151), (9, 160)]

    # eviction: after a batch at t=500, entries last seen before
    # 500 - ttl are pruned from state (id 7 @151 and 9 @160 both go)
    emitted, seen = _ttl_dedup_core(seen, [(9, 500)], ttl_ms=100)
    assert emitted == [(9, 500)]  # gap 340 > ttl -> re-admitted
    assert seen == {9: 500}


def test_ttl_dedup_core_matches_lag_rule():
    """Property: core output over arbitrary batch splits (in ts order)
    equals the full-history lag rule, and state stays bounded."""
    import random

    from pagerank_hadoop_spark.streaming.stateful import _ttl_dedup_core

    rng = random.Random(5)
    occs = sorted(
        (rng.randrange(6), rng.randrange(0, 1000)) for _ in range(300)
    )
    occs = [(e, t) for t, e in sorted((t, e) for e, t in occs)]
    ttl = 80

    # oracle: lag over full history per id
    last: dict[int, int] = {}
    want = []
    for e, t in occs:
        if e not in last or t - last[e] > ttl:
            want.append((e, t))
        last[e] = t

    for n_batches in (1, 3, 7):
        seen: dict[int, int] = {}
        got = []
        n = len(occs)
        for i in range(n_batches):
            batch = occs[i * n // n_batches : (i + 1) * n // n_batches]
            emitted, seen = _ttl_dedup_core(seen, batch, ttl)
            got.extend(emitted)
            if batch:
                horizon = max(t for _, t in batch) - ttl
                assert all(v >= horizon for v in seen.values())  # evicted
        assert sorted(got) == sorted(want), n_batches


def test_detevents_stream_reader_offset_protocol():
    """The streaming Python DataSource's driver-side contract: offsets
    advance by one micro-batch per latestOffset() call and clamp at
    n_total; each batch splits into planned index-range partitions
    that tile [start, end) exactly; rows are the shared formula."""
    from pagerank_hadoop_spark.sources.pystream import (
        DetEventsStreamReader,
        event_row,
    )

    r = DetEventsStreamReader(
        {"n_total": "10000", "rows_per_batch": "4096", "n_parts": "4"}
    )
    assert r.initialOffset() == {"i": 0}
    offs = [r.latestOffset()["i"] for _ in range(4)]
    assert offs == [4096, 8192, 10000, 10000]  # clamped, then stable

    parts = r.partitions({"i": 4096}, {"i": 8192})
    spans = sorted((p.start, p.end) for p in parts)
    assert spans[0][0] == 4096 and spans[-1][1] == 8192
    assert all(a < b for a, b in spans)
    assert all(spans[k][1] == spans[k + 1][0] for k in range(len(spans) - 1))

    rows = list(r.read(parts[0]))
    assert rows[0] == event_row(parts[0].start)
    assert len(rows) == parts[0].end - parts[0].start

    # empty range (no new data) still yields a well-formed partition
    empty = r.partitions({"i": 7}, {"i": 7})
    assert len(empty) == 1 and list(r.read(empty[0])) == []


def test_stream_index_ingest_equals_batch_encode(spark, sf_dir, tmp_path):
    """Streaming ANN-index maintenance merge law: encoding micro-batches
    against a FROZEN IVF-PQ model and appending to the partitioned
    index yields EXACTLY the batch-built index (row set equality, not
    just counts) — and the streamed index serves ivf_pq_query with
    identical results."""
    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.operators.similarity import (
        ivf_pq_encode,
        ivf_pq_query,
        ivf_pq_train,
    )
    from pagerank_hadoop_spark.streaming.ingest import stream_index_ingest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    model = ivf_pq_train(emb)
    stage = str(tmp_path / "stage")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(3).write.parquet(stage)
    idx = stream_index_ingest(
        spark,
        stage,
        model,
        out_dir=str(tmp_path / "index"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch = ivf_pq_encode(emb, model)
    a = {(r.vec_id, r.cell, tuple(r.codes)) for r in idx.collect()}
    b = {(r.vec_id, r.cell, tuple(r.codes)) for r in batch.collect()}
    assert a == b and len(a) > 0

    q = emb.where("vec_id % 200 = 0").select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    served = {
        (r.q_id, r.vec_id, r.sim)
        for r in ivf_pq_query(idx, emb, q, model, k=5).collect()
    }
    direct = {
        (r.q_id, r.vec_id, r.sim)
        for r in ivf_pq_query(
            batch.localCheckpoint(eager=True), emb, q, model, k=5
        ).collect()
    }
    assert served == direct


def test_stream_index_ingest_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Exactly-once across restarts: drain a 2-file stage, STOP, add 2
    more files, restart with the SAME checkpoint/out dirs — the second
    run must process only the new files (no duplicate index rows) and
    the final index must equal the batch encode of the full corpus."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from pagerank_hadoop_spark.operators.similarity import (
        ivf_pq_encode,
        ivf_pq_train,
    )
    from pagerank_hadoop_spark.streaming.ingest import stream_index_ingest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    model = ivf_pq_train(emb)

    full_stage = str(tmp_path / "full")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(4).write.parquet(full_stage)
    files = sorted(
        f for f in os.listdir(full_stage) if f.endswith(".parquet")
    )
    assert len(files) == 4
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    for f in files[:2]:
        shutil.copy(os.path.join(full_stage, f), os.path.join(stage, f))

    out = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    first = stream_index_ingest(spark, stage, model, out, ckpt)
    n_first = first.count()
    assert 0 < n_first < emb.count()

    for f in files[2:]:
        shutil.copy(os.path.join(full_stage, f), os.path.join(stage, f))
    second = stream_index_ingest(spark, stage, model, out, ckpt)

    got = {(r.vec_id, r.cell, tuple(r.codes)) for r in second.collect()}
    want = {
        (r.vec_id, r.cell, tuple(r.codes))
        for r in ivf_pq_encode(emb, model).collect()
    }
    assert got == want  # no duplicates, nothing missed
    assert second.count() == emb.count()
