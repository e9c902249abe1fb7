"""Structured Streaming surface for the KG pipeline.

The reference is strictly batch (SURVEY §1.3: no streams anywhere), so this
is an engine addition, not a port: continuous ingest of Common-Crawl-style
page drops with exactly-once file processing.

Design:
  - ``read_page_stream``: file-source stream over the pages schema
    (new parquet drops picked up per trigger; ``maxFilesPerTrigger`` bounds
    micro-batch size -> bounds executor memory at any scale).
  - ``page_rates_windowed``: watermarked event-time windows over ``warc_ts``
    (late pages tolerated up to the watermark; state is bounded — the
    streaming-agg pattern the task calls for).
  - ``run_triples_stream``: the five-stage pipeline per micro-batch via
    ``foreachBatch``. The KG pipeline is multi-pass (connected components
    iterates; linking broadcasts) which no single streaming plan can
    express, so foreachBatch is the idiomatic escape hatch. Exactly-once
    EFFECT: source offsets live in the checkpoint AND each batch writes to
    its own ``batch=<id>`` directory with overwrite via the shared
    ``materialize_triples`` writer — a crash between the data write and the
    offset commit replays the batch into the same directory, overwriting
    rather than duplicating (foreachBatch alone is only at-least-once).

At 100 TB the same topology holds: the file source scales by listing, the
watermark bounds agg state, and each micro-batch is a bounded batch job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (BooleanType, StringType, StructField,
                               StructType)

from . import schemas
from .config import PipelineConfig


def read_page_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(schemas.PAGES).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def page_rates_windowed(pages: DataFrame, window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Pages per (domain, event-time window), late data tolerated up to the
    watermark. Works on both batch and streaming frames (same plan)."""
    return (
        pages
        .withColumn("domain",
                    F.regexp_extract("url", r"https?://([^/]+)/", 1))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "domain")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"),
                "domain", "n_pages")
    )


def stream_dedup_pages(pages: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): exact
    dedup ACROSS micro-batches — a page whose md5(text) was already seen in
    any earlier batch (or earlier in this one) is dropped.

    Scale shape (the 100 TB contract): state is keyed by the text digest
    ITSELF, so per-key state is one constant-size boolean and the state
    store does point lookups/inserts. Each micro-batch writes
    O(new distinct digests) state rows — NOT O(seen corpus): a key whose
    digest already exists returns before ``state.update``, so zero state
    bytes are rewritten for previously-seen pages. (An earlier design
    bucketed digests into B groups holding the full digest list as group
    state; that re-serialized ~|corpus|/B digests per touched bucket on
    EVERY batch — per-batch cost growing with corpus age, a throughput
    cliff.) Shuffle volume is unchanged (one row per page, keyed by
    digest); high key cardinality is exactly what HDFS/RocksDB state-store
    backends are built for, and the state checkpoints with the query so
    dedup survives restarts like the source offsets. Where a bounded dedup
    horizon suffices, ``dropDuplicatesWithinWatermark`` on ``text_md5`` is
    the built-in alternative (state then expires with the watermark).

    Upgrade note: this operator's grouping key (was a 64-way digest bucket)
    and state schema (was array<string>) changed; a checkpoint written by
    the previous version fails state-schema validation on restart — resume
    deduplication from a FRESH checkpointLocation when upgrading.

    Output: the FULL pages schema plus ``text_md5``, so the deduped stream
    composes directly with the downstream stages (run_triples_stream's
    pipeline, page_rates_windowed)."""
    page_cols = [f.name for f in schemas.PAGES.fields]
    out_schema = StructType(
        list(schemas.PAGES.fields) + [StructField("text_md5", StringType())])
    state_schema = StructType([
        StructField("seen", BooleanType()),
    ])

    def dedup(key, pdfs, state):
        if state.exists:
            return          # seen in an earlier batch: drop; NO state write
        emitted = False
        for pdf in pdfs:
            if not emitted and len(pdf):
                # first occurrence wins; later rows of this key (in-batch
                # duplicates) are dropped without another state touch
                yield pdf.iloc[[0]][page_cols + ["text_md5"]]
                emitted = True
        state.update((True,))

    return (
        pages
        .withColumn("text_md5", F.md5(F.col("text").cast("binary")))
        .groupBy("text_md5")
        .applyInPandasWithState(
            dedup, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout)
    )


def stream_dedup_pages_within_watermark(pages: DataFrame,
                                        watermark: str = "2 hours") -> DataFrame:
    """Bounded-horizon dedup: the built-in alternative to
    ``stream_dedup_pages`` when forever-exact dedup is not required. State
    is keyed by ``text_md5`` and EXPIRES with the event-time watermark, so
    total state is O(pages within the horizon) no matter how old the
    corpus grows — the right default for continuous crawls where re-crawled
    pages arrive within a known window. Late duplicates beyond the
    watermark pass through (the documented trade-off vs the exact
    operator)."""
    return (
        pages
        .withColumn("text_md5", F.md5(F.col("text").cast("binary")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_md5"])
    )


def stream_sessionize(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization — the streaming sibling of the batch
    ``q_sessionize`` operator, built on Spark's NATIVE ``session_window``
    (no custom state code): per-user sessions that close ``gap`` after the
    last event, emitted once the event-time watermark passes the session
    end (append mode). A session spanning several micro-batches MERGES in
    state — the property a per-batch groupBy cannot give you.

    Scale shape: state is one open session window per active user (merged
    by the engine as events arrive), expired by the watermark — bounded by
    concurrently-active users within the horizon, never by stream length.
    The shuffle is the session aggregation's user_id exchange, identical
    at any width.

    Boundary semantics match the batch operator exactly (pinned in tests):
    ``session_window`` merges an event arriving at ``last_event + gap``
    into the open session (merge condition ``next.ts <= session_end``),
    the same events-stay-together rule as ``q_sessionize``'s strict
    ``diff > gap`` new-session test — parity with both the static
    ``session_window`` plan and ``q_sessionize``'s per-user counts is
    pytest-pinned, including the exact-gap edge."""
    return (
        events
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("session"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.col("session.start").alias("session_start"),
                F.col("session.end").alias("session_end"),
                "n_events")
    )


def stream_asof_enrich(events: DataFrame,
                       lateness_horizon_sec: float | None = None) -> DataFrame:
    """Streaming as-of enrichment — attribution at ingest, the streaming
    sibling of the batch ``asof_join`` operator: every 'purchase' event is
    emitted with the latest 'view' timestamp of the SAME user at or before
    it, via ``applyInPandasWithState``.

    Scale shape: per-user state is ONE double (the max view tsec seen) —
    state is bounded by user cardinality, never event volume, and each
    batch writes state only for users who viewed in that batch. Within a
    micro-batch the group's rows are processed in event-time order (ties:
    views before purchases, matching the batch operator's ``v.ts <= p.ts``
    semantics), so on an in-order stream the emitted rows equal the batch
    ``q_asof_join`` over the union of all batches — pytest-pinned parity.
    A view arriving in a LATER batch than the purchase cannot retro-enrich
    it (append semantics; same class of trade-off the watermark dedup
    documents). Purchases with no prior view are dropped, like the batch
    operator's inner as-of.

    ``lateness_horizon_sec`` (opt-in) trades emission latency for
    late-view tolerance, mirroring ``dropDuplicatesWithinWatermark``'s
    bounded-horizon pattern: a watermark of the horizon is set on event
    time and each purchase is HELD in state until the watermark passes its
    timestamp — at which point every view up to ``horizon`` late has
    arrived (later ones are watermark-dropped), so a view landing one
    batch after its purchase still attributes. Per-user state stays
    bounded by the horizon, not the stream: one compacted double (max view
    at-or-below the watermark) plus only the views/purchases newer than
    the watermark."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType

    out_schema = StructType([
        StructField("purchase_id", LongType()),
        StructField("user_id", LongType()),
        StructField("purchase_tsec", DoubleType()),
        StructField("view_tsec", DoubleType()),
        StructField("lag_sec", DoubleType()),
    ])
    if lateness_horizon_sec is not None:
        return _asof_enrich_buffered(events, float(lateness_horizon_sec),
                                     out_schema)
    state_schema = StructType([StructField("last_view", DoubleType())])

    def enrich(key, pdfs, state):
        last = state.get[0] if state.exists else None
        batch = pd.concat(list(pdfs), ignore_index=True)
        # event-time order; kind puts same-instant views before purchases
        batch = batch.sort_values(["tsec", "kind", "event_id"])
        out: dict[str, list] = {c: [] for c in
                                ("purchase_id", "user_id", "purchase_tsec",
                                 "view_tsec", "lag_sec")}
        saw_view = False
        for r in batch.itertuples():
            if r.kind == 0:                       # view
                if last is None or r.tsec > last:
                    last = float(r.tsec)
                    saw_view = True
            elif last is not None:                # purchase with a prior view
                out["purchase_id"].append(int(r.event_id))
                out["user_id"].append(int(key[0]))
                out["purchase_tsec"].append(float(r.tsec))
                out["view_tsec"].append(float(last))
                out["lag_sec"].append(float(r.tsec) - float(last))
        if saw_view:                              # O(viewing users) writes
            state.update((float(last),))
        if out["purchase_id"]:
            yield pd.DataFrame(out)

    ev = (events
          .where(F.col("event_type").isin("view", "purchase"))
          .select("user_id", "event_id",
                  F.expr("cast(to_utc_timestamp(ts, 'UTC') as double)")
                   .alias("tsec"),
                  F.when(F.col("event_type") == "view", 0).otherwise(1)
                   .alias("kind")))
    return ev.groupBy("user_id").applyInPandasWithState(
        enrich, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def _asof_enrich_buffered(events: DataFrame, horizon_sec: float,
                          out_schema: StructType) -> DataFrame:
    """The bounded-lateness arm of ``stream_asof_enrich``: purchases are
    buffered in state until the event-time watermark (set to the horizon)
    passes their timestamp, then emitted with the true latest view at or
    before them — including views that arrived in later micro-batches, up
    to ``horizon_sec`` late. State compaction keeps one double for all
    views at-or-below the watermark (only the max can ever win for a
    still-buffered purchase, whose ts is above the watermark) and full
    lists only for events above it — the same bounded-horizon state
    contract as ``dropDuplicatesWithinWatermark``."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, LongType

    state_schema = StructType([
        StructField("last_view", DoubleType()),      # max view <= watermark
        StructField("view_ts", ArrayType(DoubleType())),
        StructField("p_ids", ArrayType(LongType())),
        StructField("p_ts", ArrayType(DoubleType())),
    ])
    NO_VIEW = float("-inf")

    def enrich(key, pdfs, state):
        # Without a timeout the function runs only for keys present in the
        # current micro-batch, so a buffered purchase of an idle user would
        # never flush. EventTimeTimeout re-invokes the group (empty input)
        # once the watermark passes the earliest buffered event.
        if state.exists:
            last_view, view_ts, p_ids, p_ts = state.get
            view_ts, p_ids, p_ts = list(view_ts), list(p_ids), list(p_ts)
        else:
            last_view, view_ts, p_ids, p_ts = NO_VIEW, [], [], []
        for pdf in pdfs:
            for r in pdf.itertuples():
                if r.kind == 0:
                    view_ts.append(float(r.tsec))
                else:
                    p_ids.append(int(r.event_id))
                    p_ts.append(float(r.tsec))
        wm = state.getCurrentWatermarkMs() / 1000.0
        out: dict[str, list] = {c: [] for c in
                                ("purchase_id", "user_id", "purchase_tsec",
                                 "view_tsec", "lag_sec")}
        keep_ids: list[int] = []
        keep_ts: list[float] = []
        for pid, pt in zip(p_ids, p_ts):
            if pt > wm:                           # horizon not yet elapsed
                keep_ids.append(pid)
                keep_ts.append(pt)
                continue
            best = max((v for v in view_ts if v <= pt),
                       default=NO_VIEW)
            if last_view <= pt:
                best = max(best, last_view)
            if best > NO_VIEW:
                out["purchase_id"].append(pid)
                out["user_id"].append(int(key[0]))
                out["purchase_tsec"].append(pt)
                out["view_tsec"].append(best)
                out["lag_sec"].append(pt - best)
            # else: no view at-or-before within horizon -> inner-join drop
        absorbed = [v for v in view_ts if v <= wm]
        if absorbed:
            last_view = max(last_view, max(absorbed))
        view_ts = [v for v in view_ts if v > wm]
        if last_view == NO_VIEW and not view_ts and not keep_ids:
            state.remove()                # identical to holding no state
        else:
            state.update((last_view, view_ts, keep_ids, keep_ts))
        pending = keep_ts or view_ts
        if pending:
            # wake-up (must be set anew every invocation): the timeout fires
            # when the watermark passes the earliest held purchase, or, with
            # none held, the earliest held view, which then folds into
            # last_view even if the user sends nothing more
            state.setTimeoutTimestamp(int(min(pending) * 1000) + 1)
        if out["purchase_id"]:
            yield pd.DataFrame(out)

    ev = (events
          .where(F.col("event_type").isin("view", "purchase"))
          .withWatermark("ts", f"{int(horizon_sec)} seconds")
          .select("ts", "user_id", "event_id",
                  F.expr("cast(to_utc_timestamp(ts, 'UTC') as double)")
                   .alias("tsec"),
                  F.when(F.col("event_type") == "view", 0).otherwise(1)
                   .alias("kind")))
    return ev.groupBy("user_id").applyInPandasWithState(
        enrich, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout)


def run_triples_stream(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    alias_df: DataFrame,
    cfg: PipelineConfig | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Stream page drops -> canonical triples, exactly-once per input file.

    Returns the started StreamingQuery; callers typically
    ``q.awaitTermination()`` (availableNow) or manage the lifecycle."""
    from .pipeline import run_pipeline

    cfg = cfg or PipelineConfig()
    pages = read_page_stream(spark, in_path, max_files_per_trigger)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from .pipeline import materialize_triples
        triples = run_pipeline(spark, batch_df, alias_df, cfg)
        # idempotent on replay: batch-keyed directory + overwrite, same
        # bucketed pred-partitioned layout as the batch writer
        materialize_triples(triples, f"{out_path}/batch={batch_id}")

    writer = (
        pages.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
