"""Structured Streaming surface: exactly-once file processing across
restarts, streaming-vs-batch triple parity, watermarked windowed rates."""

from __future__ import annotations

import os


from kgforge import schemas
from kgforge.config import PipelineConfig
from kgforge.streaming import (page_rates_windowed, read_page_stream,
                               run_triples_stream)
from kgforge.synth import gen_pages


def _write_pages(spark, path, lo, hi):
    pages, _ = gen_pages(lo, hi)
    spark.createDataFrame(pages, schema=schemas.PAGES).coalesce(1) \
        .write.mode("append").parquet(path)


def _sorted_triples(df):
    return sorted(map(tuple, df.select(
        "url", "sent_idx", "subj_id", "pred", "obj_id").collect()))


def test_stream_triples_exactly_once_and_matches_batch(spark, alias_df,
                                                       tmp_path):
    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig()
    _write_pages(spark, indir, 0, 30)

    q = run_triples_stream(spark, indir, outdir, ckpt, alias_df, cfg)
    q.awaitTermination(120)
    got1 = _sorted_triples(spark.read.parquet(outdir))

    from kgforge.pipeline import run_pipeline
    batch = run_pipeline(
        spark, spark.read.schema(schemas.PAGES).parquet(indir),
        alias_df, cfg)
    assert got1 == _sorted_triples(batch)
    assert len(got1) > 0

    # drop one more file; restart from the checkpoint: ONLY the new file is
    # processed (offsets are durable), output is appended not duplicated
    _write_pages(spark, indir, 30, 45)
    q2 = run_triples_stream(spark, indir, outdir, ckpt, alias_df, cfg)
    q2.awaitTermination(120)
    got2 = _sorted_triples(spark.read.parquet(outdir))
    pages_all = spark.read.schema(schemas.PAGES).parquet(indir)
    batch_all = run_pipeline(spark, pages_all, alias_df, cfg)
    assert got2 == _sorted_triples(batch_all)      # no dupes, no gaps

    # layout: batch-keyed directories (replay idempotency), each with the
    # batch writer's pred partitioning inside
    batches = sorted(d for d in os.listdir(outdir) if d.startswith("batch="))
    assert batches, "expected batch=... directories"
    preds = {d for d in os.listdir(os.path.join(outdir, batches[0]))
             if d.startswith("pred=")}
    assert preds, "expected pred=... partition directories inside a batch"

    # replay idempotency: re-writing the same batch directory (what a
    # crash-after-write/before-offset-commit replay does) must not
    # duplicate rows (written OUTSIDE outdir so earlier assertions hold)
    from kgforge.pipeline import materialize_triples
    replay_dir = str(tmp_path / "replay" / "batch=0")
    materialize_triples(batch_all, replay_dir)
    before = spark.read.parquet(replay_dir).count()
    materialize_triples(batch_all, replay_dir)
    after = spark.read.parquet(replay_dir).count()
    assert before == after == len(got2)

    # third restart with NO new input: a no-op (still exactly once)
    q3 = run_triples_stream(spark, indir, outdir, ckpt, alias_df, cfg)
    q3.awaitTermination(120)
    assert _sorted_triples(spark.read.parquet(outdir)) == got2


def test_windowed_rates_stream_matches_batch(spark, tmp_path):
    indir = str(tmp_path / "in")
    _write_pages(spark, indir, 0, 60)
    pages = spark.read.schema(schemas.PAGES).parquet(indir)

    # batch ground truth (same plan, batch frame)
    want = sorted(map(tuple, page_rates_windowed(pages).collect()))
    assert want and all(r[3] >= 1 for r in want)

    stream = read_page_stream(spark, indir)
    assert stream.isStreaming
    q = (page_rates_windowed(stream)
         .writeStream.format("memory").queryName("rates")
         .outputMode("complete")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM rates").collect()))
    assert got == want


def test_stateful_stream_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates WITHIN a batch, ACROSS
    batches, and ACROSS restarts (state store checkpoints with the query)
    are all dropped exactly once."""
    import datetime

    from kgforge.streaming import read_page_stream, stream_dedup_pages

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = datetime.datetime(2024, 1, 1)

    def write_batch(rows):
        spark.createDataFrame(
            [(u, ts, b"x", t, "en") for u, t in rows],
            schema=schemas.PAGES).coalesce(1).write.mode("append") \
            .parquet(indir)

    def run_once():
        q = (stream_dedup_pages(read_page_stream(spark, indir))
             .writeStream.format("parquet")
             .option("path", outdir)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)

    # composability: the deduped stream keeps the full pages schema
    probe = stream_dedup_pages(read_page_stream(spark, str(tmp_path)))
    assert set(probe.columns) >= {f.name for f in schemas.PAGES.fields}

    # batch 1: one in-batch duplicate
    write_batch([("u1", "alpha text"), ("u2", "beta text"),
                 ("u3", "alpha text")])
    run_once()
    got1 = spark.read.parquet(outdir).collect()
    assert len(got1) == 2
    assert len({r["text_md5"] for r in got1}) == 2   # truly distinct digests
    urls1 = {r["url"] for r in got1}
    # exactly one of the two alpha copies survives (in-group order after the
    # shuffle is an implementation detail), plus the unique beta
    assert "u2" in urls1 and len(urls1 & {"u1", "u3"}) == 1

    # batch 2 (restarted query): repeats of batch 1 + one new text
    write_batch([("u4", "alpha text"), ("u5", "gamma text"),
                 ("u6", "beta text")])
    run_once()
    got2 = spark.read.parquet(outdir).collect()
    assert len(got2) == 3                       # only gamma was new
    assert len({r["text_md5"] for r in got2}) == 3
    urls = {r["url"] for r in got2}
    assert "u5" in urls and "u4" not in urls and "u6" not in urls


def test_stream_dedup_state_writes_are_o_new_pages(spark, tmp_path):
    """The scale contract of stream_dedup_pages: per-batch state-store WRITE
    volume is O(new distinct digests), not O(seen corpus). A batch made
    entirely of already-seen pages must write ZERO state rows — the
    keyed-by-digest design does point lookups and skips state.update for
    existing keys (the old bucketed design rewrote the whole bucket list)."""
    import datetime

    from kgforge.streaming import read_page_stream, stream_dedup_pages

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = datetime.datetime(2024, 1, 1)

    def write_batch(rows):
        spark.createDataFrame(
            [(u, ts, b"x", t, "en") for u, t in rows],
            schema=schemas.PAGES).coalesce(1).write.mode("append") \
            .parquet(indir)

    def run_once():
        q = (stream_dedup_pages(read_page_stream(spark, indir))
             .writeStream.format("parquet")
             .option("path", outdir)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)
        updated = total = 0
        for p in q.recentProgress:
            for op in (p["stateOperators"] or []):
                updated += op["numRowsUpdated"]
                total = max(total, op["numRowsTotal"])
        return updated, total

    # batch 1: 3 pages, 2 distinct digests -> exactly 2 state rows written
    write_batch([("u1", "alpha text"), ("u2", "beta text"),
                 ("u3", "alpha text")])
    updated1, total1 = run_once()
    assert updated1 == 2 and total1 == 2

    # batch 2: ALL duplicates -> zero state writes, state size unchanged
    write_batch([("u4", "alpha text"), ("u5", "beta text")])
    updated2, total2 = run_once()
    assert updated2 == 0 and total2 == 2
    assert spark.read.parquet(outdir).count() == 2

    # batch 3: one new + one dup -> exactly one state write
    write_batch([("u6", "gamma text"), ("u7", "beta text")])
    updated3, total3 = run_once()
    assert updated3 == 1 and total3 == 3
    assert spark.read.parquet(outdir).count() == 3


def test_max_files_per_trigger_bounds_batches(spark, alias_df, tmp_path):
    """maxFilesPerTrigger caps micro-batch size (the memory bound at scale):
    3 input files with cap 1 -> 3 micro-batches."""
    indir = str(tmp_path / "in")
    for lo in (0, 10, 20):
        _write_pages(spark, indir, lo, lo + 10)
    seen = []

    stream = read_page_stream(spark, indir, max_files_per_trigger=1)
    q = (stream.writeStream
         .foreachBatch(lambda df, bid: seen.append((bid, df.count())))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    assert len(seen) == 3
    assert sum(n for _, n in seen) == 30


def test_stream_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark variant: duplicates within the horizon
    are dropped across micro-batches, and state EXPIRES with the watermark
    (numRowsTotal shrinks once event time advances past old keys)."""
    import datetime

    from kgforge.streaming import (read_page_stream,
                                   stream_dedup_pages_within_watermark)

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows):
        spark.createDataFrame(
            [(u, ts, b"x", t, "en") for u, ts, t in rows],
            schema=schemas.PAGES).coalesce(1).write.mode("append") \
            .parquet(indir)

    def run_once():
        q = (stream_dedup_pages_within_watermark(
                read_page_stream(spark, indir), watermark="1 hour")
             .writeStream.format("parquet")
             .option("path", outdir)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)
        total = 0
        for p in q.recentProgress:
            for op in (p["stateOperators"] or []):
                total = max(total, op["numRowsTotal"])
        return total

    t0 = datetime.datetime(2024, 1, 1, 0, 0)
    write_batch([("u1", t0, "alpha"), ("u2", t0, "beta"),
                 ("u3", t0, "alpha")])
    state1 = run_once()
    assert spark.read.parquet(outdir).count() == 2       # in-batch dup dropped
    assert state1 == 2

    # same texts within the horizon: dropped across batches
    t1 = t0 + datetime.timedelta(minutes=30)
    write_batch([("u4", t1, "alpha"), ("u5", t1, "gamma")])
    run_once()
    assert spark.read.parquet(outdir).count() == 3       # only gamma new

    # event time jumps far past the watermark: eviction happens on the batch
    # AFTER the watermark advances (watermark is computed from the previous
    # batch's max event time), so push one more batch and observe the state
    # shrink to just the in-horizon keys
    t2 = t0 + datetime.timedelta(days=2)
    write_batch([("u6", t2, "delta")])
    run_once()
    assert spark.read.parquet(outdir).count() == 4
    t3 = t2 + datetime.timedelta(minutes=1)
    write_batch([("u7", t3, "epsilon")])
    state4 = run_once()
    assert spark.read.parquet(outdir).count() == 5
    assert state4 <= 2        # alpha/beta/gamma expired; delta+epsilon held


def test_stream_asof_enrich_matches_batch_and_survives_restart(spark, tmp_path):
    """Streaming as-of enrichment: (a) within a batch, purchases pick the
    latest view at-or-before them (same-instant view counts); (b) per-user
    state carries the last view ACROSS batches and restarts; (c) on an
    in-order stream the union of emitted rows equals the batch q_asof_join
    over all events seen."""
    import datetime

    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    from kgforge.queries import q_asof_join
    from kgforge.streaming import stream_asof_enrich

    ev_schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    def write_batch(rows):
        spark.createDataFrame(
            [(eid, ts(m), u, et, 1.0, "{}") for eid, m, u, et in rows],
            schema=ev_schema).coalesce(1).write.mode("append").parquet(indir)

    def run_once():
        stream = stream_asof_enrich(
            spark.readStream.schema(ev_schema).format("parquet").load(indir))
        q = (stream.writeStream.format("parquet")
             .option("path", outdir)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)

    # batch 1: u1 view@0 -> purchase@60 (match); u2 purchase@10 with no
    # prior view (dropped); u3 view@5 and SAME-INSTANT purchase@5 (tie
    # counts, lag 0)
    b1 = [(0, 0, 1, "view"), (1, 60, 1, "purchase"),
          (2, 10, 2, "purchase"),
          (3, 5, 3, "view"), (4, 5, 3, "purchase")]
    write_batch(b1)
    run_once()
    got1 = {r["purchase_id"]: r["lag_sec"]
            for r in spark.read.parquet(outdir).collect()}
    assert got1 == {1: 3600.0, 4: 0.0}

    # batch 2 (fresh query, same checkpoint): u1 purchases again with no new
    # view -> enriched from CROSS-BATCH state; u2's view finally arrives,
    # then a purchase -> enriched within the batch
    b2 = [(5, 120, 1, "purchase"),
          (6, 70, 2, "view"), (7, 90, 2, "purchase")]
    write_batch(b2)
    run_once()
    got2 = {r["purchase_id"]: r["lag_sec"]
            for r in spark.read.parquet(outdir).collect()}
    assert got2 == {1: 3600.0, 4: 0.0, 5: 7200.0, 7: 1200.0}

    # batch parity: the streamed union equals the batch as-of join over the
    # full event set (batch 2's events all have later ts than batch 1's for
    # each user, so the stream saw them in order)
    import os
    sf = str(tmp_path / "batchsf")
    os.makedirs(sf, exist_ok=True)
    pd.DataFrame(
        [{"event_id": eid, "ts": ts(m), "user_id": u, "event_type": et,
          "value": 1.0, "props": "{}"} for eid, m, u, et in b1 + b2]
    ).astype({"ts": "datetime64[us]"}).to_parquet(f"{sf}/events.parquet")
    want = {r["purchase_id"]: r["lag_sec"]
            for r in q_asof_join(spark, sf).collect()}
    assert got2 == want


def test_stream_asof_enrich_bounded_lateness_attributes_late_view(
        spark, tmp_path):
    """The opt-in lateness horizon holds purchases until the watermark
    passes them, so a view arriving one batch AFTER its purchase (but
    within the horizon) still attributes — while the default zero-latency
    mode drops it. Both modes' full outputs are pinned on the same
    late-view stream."""
    import datetime

    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    from kgforge.streaming import stream_asof_enrich

    ev_schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    t0 = datetime.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    def write_batch(indir, rows):
        spark.createDataFrame(
            [(eid, ts(m), u, et, 1.0, "{}") for eid, m, u, et in rows],
            schema=ev_schema).coalesce(1).write.mode("append").parquet(indir)

    def run_once(tag, horizon):
        indir = str(tmp_path / f"{tag}-in")
        stream = stream_asof_enrich(
            spark.readStream.schema(ev_schema).format("parquet").load(indir),
            lateness_horizon_sec=horizon)
        q = (stream.writeStream.format("parquet")
             .option("path", str(tmp_path / f"{tag}-out"))
             .option("checkpointLocation", str(tmp_path / f"{tag}-ckpt"))
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)
        return {r["purchase_id"]: (r["lag_sec"], r["view_tsec"])
                for r in spark.read.parquet(
                    str(tmp_path / f"{tag}-out")).collect()}

    # the late-view scenario, identical for both modes:
    #   batch 1: u1 view@0  u1 purchase@60m   u2 purchase@30m (no view YET)
    #            u3 purchase@40m (never gets a view)
    #   batch 2: u2 view@20m  <- arrives one batch late, ts BEFORE the
    #            purchase; u9@300m is a watermark clock
    #   batch 3: u9@600m watermark clock -> flushes the buffer
    batches = [
        [(1, 0, 1, "view"), (2, 60, 1, "purchase"),
         (3, 30, 2, "purchase"), (4, 40, 3, "purchase")],
        [(5, 20, 2, "view"), (90, 300, 9, "view")],
        [(91, 600, 9, "view")],
    ]
    HOUR = 3600.0

    for tag, horizon in (("lat", HOUR), ("nolat", None)):
        indir = str(tmp_path / f"{tag}-in")
        got = {}
        for b in batches:
            write_batch(indir, b)
            got = run_once(tag, horizon)
        if horizon:
            # u2's late view attributes (lag 10 min); u3's viewless
            # purchase drops at flush time; u1 enriches as always
            assert got == {2: (HOUR, _tsec(ts(0))),
                           3: (600.0, _tsec(ts(20)))}, got
        else:
            # zero-latency mode: u2's purchase was emitted (dropped —
            # no prior view) before its view arrived
            assert got == {2: (HOUR, _tsec(ts(0)))}, got


def test_stream_asof_enrich_lateness_drains_purchase_only_state(
        spark, tmp_path):
    """Lateness mode: a user who only purchases holds state only while a
    purchase waits for the watermark. Once it passes (flush via the
    event-time timeout), the state row goes, so numRowsTotal falls to the
    one user whose purchase the watermark has not yet passed; the emitted
    rows stay the same (viewless purchases drop, inner as-of)."""
    import datetime

    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    from kgforge.streaming import stream_asof_enrich

    ev_schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    indir, outdir = str(tmp_path / "in"), str(tmp_path / "out")
    t0 = datetime.datetime(2024, 1, 1)

    def run_batch(rows):
        spark.createDataFrame(
            [(eid, t0 + datetime.timedelta(minutes=m), u, "purchase", 1.0,
              "{}") for eid, m, u in rows],
            schema=ev_schema).coalesce(1).write.mode("append").parquet(indir)
        q = (stream_asof_enrich(
                spark.readStream.schema(ev_schema).format("parquet")
                .load(indir), lateness_horizon_sec=3600.0)
             .writeStream.format("parquet")
             .option("path", outdir)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)
        return [op["numRowsTotal"] for p in q.recentProgress
                for op in (p["stateOperators"] or [])][-1]

    # five purchase-only users over two batches, all held (within horizon)
    assert run_batch([(1, 0, 1), (2, 5, 2), (3, 10, 3)]) == 3
    assert run_batch([(4, 20, 4), (5, 30, 1), (6, 40, 5)]) == 5
    # user 9's purchase at +10h moves the watermark past all of them; a
    # last batch lets the timeouts fire, and only user 9 still holds state
    run_batch([(90, 600, 9)])
    assert run_batch([(91, 600, 9)]) == 1
    assert spark.read.parquet(outdir).count() == 0


def test_stream_asof_enrich_lateness_folds_view_only_state(spark, tmp_path):
    """Lateness mode: views of a user who holds no purchase must still fold
    into ``last_view`` once the watermark passes them. The event-time
    timeout is armed on the earliest held view, so no later event of that
    user is needed; read back from the state store, the view-only user
    keeps no view list, only its latest view. The emitted rows are those of
    the buffered purchase alone."""
    import datetime

    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    from kgforge.streaming import stream_asof_enrich

    ev_schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    indir, outdir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    def run_batch(rows):
        spark.createDataFrame(
            [(eid, ts(m), u, et, 1.0, "{}") for eid, m, u, et in rows],
            schema=ev_schema).coalesce(1).write.mode("append").parquet(indir)
        q = (stream_asof_enrich(
                spark.readStream.schema(ev_schema).format("parquet")
                .load(indir), lateness_horizon_sec=3600.0)
             .writeStream.format("parquet")
             .option("path", outdir)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)

    # user 1 only views; user 2 views, then purchases (held in state)
    run_batch([(1, 0, 1, "view"), (2, 5, 1, "view"),
               (3, 0, 2, "view"), (4, 10, 2, "purchase")])
    # user 9's views at +10h move the watermark past all of them; the last
    # batch lets the timeouts fire
    run_batch([(90, 600, 9, "view")])
    run_batch([(91, 601, 9, "view")])

    state = {r["key"]["user_id"]: r["value"]["groupState"] for r in
             spark.read.format("statestore").load(ckpt).collect()}
    assert list(state[1]["view_ts"]) == []
    assert state[1]["last_view"] == _tsec(ts(5))
    assert list(state[1]["p_ids"]) == []
    got = [tuple(r) for r in spark.read.parquet(outdir).collect()]
    assert got == [(4, 2, _tsec(ts(10)), _tsec(ts(0)), 600.0)]


def _tsec(dt):
    import calendar
    return float(calendar.timegm(dt.timetuple()))


def test_stream_sessionize_merges_across_batches_and_matches_batch(
        spark, tmp_path):
    """Native session_window sessionization: (a) a session spanning two
    micro-batches MERGES in state (one emitted row, not two); (b) emitted
    sessions equal the static session_window plan over the union of all
    events; (c) per-user session counts equal the batch q_sessionize
    operator's n_sessions; (d) the exact-gap boundary AGREES with the
    batch operator: an event at last_event + gap merges into the open
    session on both paths (session_window's merge test is
    next.ts <= session_end, the complement of q_sessionize's strict
    diff > gap new-session test)."""
    import datetime

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    from kgforge.streaming import stream_sessionize

    ev_schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    def write_batch(rows):
        spark.createDataFrame(
            [(eid, ts(m), u, "view", 1.0, "{}") for eid, m, u in rows],
            schema=ev_schema).coalesce(1).write.mode("append").parquet(indir)

    def run_once():
        stream = stream_sessionize(
            spark.readStream.schema(ev_schema).format("parquet").load(indir))
        q = (stream.writeStream.format("parquet")
             .option("path", outdir)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)

    # batch 1: u1 events at 0 and 10 (one open session); u2 single event
    b1 = [(0, 0, 1), (1, 10, 1), (2, 5, 2)]
    # batch 2: u1 continues at 25 (within 30min of 10 -> MERGES into the
    # batch-1 session); u2 again at 95 (gap 90min -> second session);
    # sentinel u99 far ahead drives the watermark past every real session
    b2 = [(3, 25, 1), (4, 95, 2), (5, 10_000, 99)]
    write_batch(b1)
    run_once()
    write_batch(b2)
    run_once()
    got = {(r["user_id"], r["session_start"], r["n_events"])
           for r in spark.read.parquet(outdir).collect()}
    # u1: ONE merged session 0..25 with 3 events (cross-batch merge)
    assert (1, ts(0), 3) in got
    assert {(u, s, n) for (u, s, n) in got if u == 1} == {(1, ts(0), 3)}
    # u2: two sessions
    assert {(u, s, n) for (u, s, n) in got if u == 2} == {
        (2, ts(5), 1), (2, ts(95), 1)}
    assert all(u != 99 for (u, _, _) in got)  # sentinel never closed

    # (b) static session_window parity over the union (sentinel excluded)
    all_rows = [(eid, ts(m), u, "view", 1.0, "{}")
                for eid, m, u in b1 + b2 if u != 99]
    static = (spark.createDataFrame(all_rows, schema=ev_schema)
              .groupBy("user_id",
                       F.session_window("ts", "30 minutes").alias("session"))
              .agg(F.count(F.lit(1)).alias("n_events"))
              .select("user_id", F.col("session.start").alias("s"),
                      "n_events"))
    want = {(r["user_id"], r["s"], r["n_events"]) for r in static.collect()}
    assert got == want

    # (c) per-user session counts match the batch q_sessionize operator
    import os
    from kgforge.queries import q_sessionize
    sf = str(tmp_path / "batchsf")
    os.makedirs(sf, exist_ok=True)
    pd.DataFrame(
        [{"event_id": eid, "ts": ts(m), "user_id": u, "event_type": "view",
          "value": 1.0, "props": "{}"} for eid, m, u in b1 + b2 if u != 99]
    ).astype({"ts": "datetime64[us]"}).to_parquet(f"{sf}/events.parquet")
    batch_counts = {r["user_id"]: r["n_sessions"]
                    for r in q_sessionize(spark, sf).collect()}
    stream_counts: dict[int, int] = {}
    for (u, _, _) in got:
        stream_counts[u] = stream_counts.get(u, 0) + 1
    assert stream_counts == batch_counts  # {1: 1, 2: 2}

    # (d) exact-gap boundary: 0 and 30min stay ONE session on BOTH paths.
    edge = [(0, ts(0), 7, "view", 1.0, "{}"),
            (1, ts(30), 7, "view", 1.0, "{}")]
    n_stream = (spark.createDataFrame(edge, schema=ev_schema)
                .groupBy("user_id",
                         F.session_window("ts", "30 minutes"))
                .count().count())
    pd.DataFrame(
        [{"event_id": e, "ts": t, "user_id": u, "event_type": et,
          "value": v, "props": p} for e, t, u, et, v, p in edge]
    ).astype({"ts": "datetime64[us]"}).to_parquet(f"{sf}/events.parquet")
    n_batch = q_sessionize(spark, sf).collect()[0]["n_sessions"]
    assert (n_stream, n_batch) == (1, 1)
