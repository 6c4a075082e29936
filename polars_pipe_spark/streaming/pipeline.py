"""Structured Streaming surface.

The reference is batch-only with manual 1 GB chunking (SURVEY.md §2.9);
the streaming extension maps its pipeline shape onto Structured
Streaming:

- ``streaming_pipeline``: readStream → the SAME batch stage chain via
  ``foreachBatch`` (validate → transform → sink + error sink). foreachBatch
  reuses every batch operator unchanged and gives exactly-once file sinks
  with checkpointing.
- ``windowed_event_counts``: watermarked tumbling-window aggregation —
  the canonical late-data-tolerant streaming agg.
- ``streaming_dedupe``: dropDuplicates on the lineage row-hash within the
  watermark — streaming exact dedup keyed the same way as batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from polars_pipe_spark.materialize import released
from polars_pipe_spark.sources.tables import tz_normalise


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_dur: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling (or sliding) window counts/sums with a watermark. Works on
    both batch and streaming frames (same expression — Spark unifies)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window_dur, slide) if slide else F.window(ts_col, window_dur)
    return (
        df.groupBy(win.alias("w"), *(group_cols or []))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *(group_cols or []),
            "n_events",
            "sum_value",
        )
    )


def session_event_stats(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Native ``session_window`` aggregation — Spark merges events closer
    than ``gap`` into one window during the aggregation itself (no
    lag/cumsum pre-pass), and the SAME expression runs batch or
    streaming (state-store-backed session merging + watermark eviction
    when streaming). Boundary semantics (pinned by unit test): an event
    EXACTLY ``gap`` after its predecessor is MERGED into the session —
    the merge is inclusive, same as classic sessionize."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    g = group_cols or []
    return (
        df.groupBy(*g, F.session_window(ts_col, gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.min(ts_col).alias("first_ts"))
        .select(
            *g,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "first_ts",
        )
    )


def streaming_dedupe(
    events: DataFrame, key_cols: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Exact dedupe within the watermark horizon (state is bounded by the
    watermark — required for unbounded streams)."""
    return events.withWatermark(ts_col, watermark).dropDuplicates([*key_cols, ts_col])


def stateful_running_totals(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key running (count, sum) maintained in explicit group state across
    micro-batches — the Spark-native shape for operators the built-in
    windowed aggregates can't express (counters, sessions with custom
    close rules, CDC folds).

    Output (per batch, update semantics): one row per key seen in the
    batch with the post-batch running totals.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} long, n_events long, total double"
    state_schema = "n long, s double"

    def update(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n], "total": [s]})

    timeout_conf = getattr(GroupStateTimeout, timeout)
    return events.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout_conf
    )


def streaming_pipeline(
    source_dir: str,
    schema,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
    file_format: str = "parquet",
    trigger_once: bool = True,
) -> StreamingQuery:
    """File-source streaming run of an arbitrary batch stage chain.

    ``batch_fn(batch_df, epoch_id)`` receives each micro-batch; pass a
    closure that applies ``services.pipeline.build_transform_chain`` and
    writes — the whole batch operator library is reusable here.
    """
    from polars_pipe_spark.session import get_spark

    spark = get_spark()
    stream = tz_normalise(
        spark.readStream.format(file_format).schema(schema).load(source_dir)
    )
    writer = (
        # each micro-batch releases what it materialised when it closes
        stream.writeStream.foreachBatch(released()(batch_fn))
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def click_attribution_join(
    purchases: DataFrame,
    clicks: DataFrame,
    user_col: str = "user_id",
    p_ts: str = "ts",
    c_ts: str = "click_ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream (or batch-batch — same expression) attribution
    join: every click of the same user within ``lookback`` BEFORE each
    purchase.

    Streaming requirements baked in (they are what makes the state
    bounded): an EQUALITY predicate on the user plus a two-sided time
    bound on the event times, and a watermark on BOTH inputs — Spark can
    then evict click state older than watermark + lookback instead of
    buffering the streams forever. Batch frames skip the watermark and
    run the identical join condition.
    """
    p, c = purchases.alias("p"), clicks.alias("c")
    if p.isStreaming:
        p = p.withWatermark(p_ts, watermark).alias("p")
    if c.isStreaming:
        c = c.withWatermark(c_ts, watermark).alias("c")
    cond = (
        (F.col(f"p.{user_col}") == F.col(f"c.{user_col}"))
        & (F.col(f"c.{c_ts}") >= F.col(f"p.{p_ts}") - F.expr(f"INTERVAL {lookback}"))
        & (F.col(f"c.{c_ts}") <= F.col(f"p.{p_ts}"))
    )
    return p.join(c, cond, "inner").select(
        F.col(f"p.{user_col}").alias(user_col),
        *[F.col(f"p.{x}").alias(x) for x in purchases.columns if x != user_col],
        *[F.col(f"c.{x}").alias(x) for x in clicks.columns if x != user_col],
    )


def streaming_upsert_sink(
    source_dir: str,
    schema,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    file_format: str = "parquet",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming CDC apply: each micro-batch is MERGEd (upsert by key)
    into a plain-parquet target table via ``cdc.merge_upsert`` inside
    ``foreachBatch`` — the continuously-maintained dimension-table
    pattern without a lakehouse format.

    Semantics/scale notes:
    - Within a batch, duplicate keys keep the LAST row by file order is
      NOT defined — upstream must be key-unique per batch (the batch is
      deduplicated defensively, keep-any).
    - The target is rewritten to a staging dir then swapped, because a
      plain-parquet table can't be read and overwritten in one job
      (self-overwrite reads-while-deleting). With Delta/Iceberg jars the
      body becomes one MERGE INTO and the staging swap disappears —
      same call sites.
    - foreachBatch + checkpointing gives at-least-once batch delivery
      with idempotent merges (re-merging a batch is a no-op), so the
      target converges exactly-once per key version.
    """
    import shutil
    from pathlib import Path

    from polars_pipe_spark.operators.cdc import merge_upsert
    from polars_pipe_spark.session import get_spark

    spark = get_spark()

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.dropDuplicates(keys)
        tgt = Path(target_dir)
        if tgt.exists():
            base = spark.read.parquet(str(tgt))
            merged = merge_upsert(base, batch, keys)
        else:
            merged = batch
        staging = f"{target_dir}__staging_{epoch_id}"
        merged.write.mode("overwrite").parquet(staging)
        if tgt.exists():
            shutil.rmtree(str(tgt))
        Path(staging).rename(str(tgt))

    stream = tz_normalise(
        spark.readStream.format(file_format).schema(schema).load(source_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_incremental_dedup(
    source_dir: str,
    schema,
    text_col: str,
    id_col: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """The incremental-ingest dedup GATE as a real stream (r6 VERDICT
    task 7 — the streaming twin of ``functions.dedup.incremental_dedup``,
    alongside q130's exact-dedup twin): each micro-batch classifies its
    documents against the fingerprint index accumulated from EVERY
    earlier batch, then appends its own ``new_unique`` fingerprints to
    that index. Cross-batch state is the index parquet directory itself
    — exactly the production shape, where the corpus text is never
    rescanned on ingest and the index is the only thing a batch touches.

    Per micro-batch (``foreachBatch``):

    1. read the accumulated index (empty on the first batch),
    2. ``incremental_dedup(batch, index)`` → per-doc ``dedup_status``
       (``new_unique`` / ``dup_of_index`` / ``dup_within_batch``),
    3. append the classified rows to ``out_dir`` (audit log),
    4. append the batch's ``new_unique`` fingerprints to ``index_dir``.

    Delivery: checkpointed foreachBatch is at-least-once; a replayed
    batch re-classifies its docs as ``dup_of_index`` (their fingerprints
    are now indexed) and appends no new fingerprints, so the INDEX
    converges exactly-once while the audit log may hold the replayed
    batch twice — callers dedupe the log on (id, fingerprint) if they
    need exact audit rows.

    Scale: state never holds text — one 32-hex fingerprint per distinct
    document ever seen; the per-batch join is fingerprint-keyed and the
    index side is bucketable on fingerprint to make ingest shuffle-free
    batch after batch. ``maxFilesPerTrigger=1`` keeps each source file
    its own batch so arrival order is the file order.
    """
    from pathlib import Path

    from polars_pipe_spark.functions.dedup import incremental_dedup
    from polars_pipe_spark.session import get_spark

    spark = get_spark()

    # each micro-batch releases what it materialised when it closes
    @released()
    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if Path(index_dir).exists():
            index = spark.read.parquet(index_dir)
        else:
            index = spark.createDataFrame([], "fingerprint string")
        tagged = incremental_dedup(batch_df, index, text_col, id_col)
        tagged.write.mode("append").parquet(out_dir)
        (
            tagged.filter(F.col("dedup_status") == "new_unique")
            .select("fingerprint")
            .write.mode("append")
            .parquet(index_dir)
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
    hint_broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against
    the static dimension frame. Spark re-resolves the static side per
    batch (so a dim table refreshed by a compaction job is picked up
    without restarting the query) and needs no watermark — the static
    side is not stateful. ``hint_broadcast`` pins the broadcast strategy
    for the usual small-dim case; pass False for a dim too large to
    broadcast (plain shuffle join per batch).

    Works identically on a batch frame (Spark unifies the APIs), which
    is what the oracle checks."""
    d = F.broadcast(dim) if hint_broadcast else dim
    return stream.join(d, on, how)
