"""Structured Streaming expression of the incremental mode (SURVEY §2.9).

The reference's incremental refresh is *batch* view maintenance; Spark lets
the same refresh logic run continuously: delta micro-batches drive
``operators.incremental.refresh`` via ``foreachBatch``, and the declared
watermark/window battery covers event-time semantics the reference never had
(contrib/streaming is stdin piping, not stream processing —
StreamJob.java:1-1000).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.incremental import PreservedState, refresh
from ..sources import occ


def streaming_refresh(
    delta_stream: DataFrame,
    initial_state: PreservedState,
    sink: Callable[[PreservedState, int], None],
    checkpoint_dir: str,
    op_col: str = "op",
    available_now: bool = False,
) -> StreamingQuery:
    """Drive incremental view maintenance from a stream of (+/-) delta rows.

    Each micro-batch is one I7-I9 refresh: retract '-' sources, insert '+',
    re-aggregate only affected groups, hand the new state to ``sink`` (which
    typically writes versioned parquet). State lives in the sink's tables,
    not executor memory, so recovery = re-read last version (same design as
    the reference's HDFS-copied preserve files, ReduceTask.java:3359-3372)."""
    holder = {"state": initial_state}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_state = refresh(holder["state"], batch_df, op_col=op_col)
        # materialize: the next batch's state must not re-read this stream
        new_state.contribs.persist().count()
        new_state.results.persist().count()
        old = holder["state"]
        holder["state"] = new_state
        sink(new_state, batch_id)
        old.contribs.unpersist()
        old.results.unpersist()

    writer = (
        delta_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        # drain-and-stop: process every available delta file, then
        # terminate — the registered oracle-checked query uses this to run
        # the stream to completion deterministically
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts_stream(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling-window aggregate with late-data watermark — identical logic
    to the batch ``events_tumbling`` query; pass a readStream DataFrame."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("window_start"), *keys, "n", "total")
    )


def stateful_running_totals(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState`` —
    the Spark-native replacement for the reference's task-resident
    per-iteration state (substate files, ReduceTask.java:3009-3013): per-key
    running (count, sum) carried in executor-managed state across
    micro-batches, fault-tolerant through the checkpoint log.

    Pass a streaming DataFrame; each micro-batch emits one row per updated
    key with the cumulative totals."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"key": [key[0]], "n_events": [n], "total": [s]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType="key long, n_events long, total double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionized_stream(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
    user_col: str = "user_id",
) -> DataFrame:
    """Session windows over a stream (batch twin: ``events_session``)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), user_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col, F.col("w.start").alias("session_start"), "n_events"
        )
    )


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, key: str
) -> DataFrame:
    """Stream-static join: enrich a streaming fact with a broadcast batch
    dimension — the streaming twin of the J2/ONE2ALL broadcast join
    (MapTask.java:794-800). The static side is re-read per micro-batch by
    Structured Streaming's contract (slowly-changing dims pick up updates);
    broadcast keeps the stream side shuffle-free at any rate."""
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(dim), key)


def _stream_token(checkpoint_dir: str, batch_id: int) -> str:
    """Idempotence token for a store commit driven by foreachBatch.

    Namespaced by the checkpoint location, not the bare micro-batch id:
    batch ids restart at 0 for every new checkpoint, so a fresh
    checkpoint/stream pointed at an EXISTING store would otherwise collide
    with retained tokens from the previous stream and silently skip its
    first batches as replays. The checkpoint path is the one
    identifier that is (a) stable across restarts of the SAME logical
    stream — which is exactly when a replayed batch id must dedupe — and
    (b) necessarily different for a different stream."""
    import hashlib
    import os

    ns = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    return f"stream-{ns}-batch-{batch_id}"


def _legacy_collision(
    store, batch_id: int, *, legacy_token_compat: bool
) -> bool:
    """Upgrade compat, made LOUD: a store written by a legacy stream
    (from before tokens were namespaced) may hold this batch id under the
    LEGACY un-namespaced token (``stream-batch-<id>``). Two streams are
    indistinguishable here: the UPGRADED continuation of that legacy
    stream replaying its in-flight
    batch (which must be skipped — it already committed), and a genuinely
    NEW stream whose fresh checkpoint restarts batch ids at 0 (which must
    NOT be skipped — that would silently drop its first batches, the
    exact data-loss bug namespaced tokens were built to fix). Only the
    operator knows which, so the default is to fail the query loudly;
    ``legacy_token_compat=True`` is the explicit attestation that this
    stream resumes the legacy checkpoint, making the skip safe. Legacy
    tokens age out of the bounded retention window, after which this
    check is always False and the flag is inert."""
    if f"stream-batch-{batch_id}" not in store.meta.get("era_tokens", {}):
        return False
    if legacy_token_compat:
        return True  # committed by the legacy stream — skip the replay
    raise RuntimeError(
        f"micro-batch {batch_id} collides with a retained legacy "
        f"(un-namespaced) idempotence token "
        f"'stream-batch-{batch_id}' in store {store.path!r}. If this "
        f"stream is the upgraded continuation of the legacy stream that "
        f"wrote the store (resuming its checkpoint), pass "
        f"legacy_token_compat=True to skip the already-committed batch; "
        f"if it is a NEW stream, let the legacy era_tokens age out of "
        f"the store's bounded retention window (commit a few more eras) "
        f"before starting it. Guessing silently would risk either "
        f"double-apply or silent data loss."
    )


def streaming_scd2_eras(
    changes_stream: DataFrame,
    store,
    checkpoint_dir: str,
    *,
    legacy_token_compat: bool = False,
    snapshot_every: int | None = None,
) -> StreamingQuery:
    """Maintain an on-disk ``Scd2Store`` from a stream of dimension-change
    batches: each micro-batch commits as ONE era (the streaming
    twin of ``Scd2Store.apply_era``, pairing SURVEY §2.9's micro-batch mode
    with the I6 store the way ``streaming_refresh`` pairs it with the
    preserve store).

    Exactly-once despite foreachBatch's at-least-once contract: the
    micro-batch id is passed as ``apply_era``'s idempotence token, which is
    recorded IN THE SAME atomic meta write as the era bump — a replayed
    batch (crash between the era commit and the checkpoint commit) finds
    its token and returns the already-committed era instead of
    double-applying the same changes as a phantom era. Tokens are
    namespaced by checkpoint location (``_stream_token``) so a NEW stream
    (fresh checkpoint, batch ids restarting at 0) against an existing
    store never mistakes its first batches for replays; a collision with
    a retained LEGACY un-namespaced token fails the query loudly unless
    ``legacy_token_compat=True`` attests this stream resumes the legacy
    checkpoint (see ``_legacy_collision``).
    ``tests/test_streaming_restart.py`` pins the restart behavior.

    A store commit that loses an OCC race to another writer (e.g. a
    manual backfill racing this sink) is retried against fresh state via
    ``occ.retrying`` — safe because the token makes a replayed commit a
    no-op.

    ``snapshot_every``: the store's LSM-style generation cadence,
    threaded through to ``apply_era`` — an UNBOUNDED change stream is
    exactly the caller that must not let read depth grow with total era
    count, so every N layers past the newest generation fold into a new
    bucketed base automatically (older eras stay readable until
    ``vacuum()``).

    Pair the source with ``maxFilesPerTrigger=1`` so each arriving change
    file becomes its own era; batches must respect ``apply_era``'s
    one-row-per-key contract (enforced there, not here)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # an empty trigger is not an era
        if _legacy_collision(
            store, batch_id, legacy_token_compat=legacy_token_compat
        ):
            return  # committed by a legacy stream under the legacy token
        # generous attempt budget + linear backoff: the sink must not die
        # on transient contention with a manual backfill — an immediate
        # re-stage tends to re-collide with a fast writer
        occ.retrying(
            lambda: store.apply_era(
                batch_df,
                token=_stream_token(checkpoint_dir, batch_id),
                snapshot_every=snapshot_every,
            ),
            attempts=20,
            backoff_sec=0.2,
        )

    return (
        changes_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def streaming_scd2_cdc(
    cdc_stream: DataFrame,
    store,
    checkpoint_dir: str,
    op_col: str = "cdc_op",
    *,
    legacy_token_compat: bool = False,
    snapshot_every: int | None = None,
) -> StreamingQuery:
    """Maintain an ``Scd2Store`` from a CDC stream: each row
    carries a Debezium/DMS-style op marker and each micro-batch commits as
    ONE era holding BOTH sides atomically (``apply_era(changes,
    deletes=...)``): the era bump that opens the batch's new versions is
    the same meta write that terminates its deleted keys, so a reader can
    never observe a half-applied batch.

    Op mapping (the full Debezium alphabet): ``'c'``
    (create), ``'u'`` (update) and ``'r'`` (snapshot read) all route to
    the upsert side — for an SCD2 sink every one of them means "this is
    the key's current version as of this batch", and ``apply_era`` derives
    open-vs-supersede at read time, so no insert/update distinction is
    needed on the write path; ``'d'`` routes to tombstone deletes.

    Exactly-once under foreachBatch's at-least-once contract by the same
    token mechanism as ``streaming_scd2_eras`` (checkpoint-namespaced
    micro-batch token recorded in the atomic commit; legacy
    un-namespaced token collisions fail loudly unless
    ``legacy_token_compat=True``, and an OCC race lost to another writer
    is retried via ``occ.retrying`` — token-idempotent). Unknown AND NULL op
    values fail the batch loudly — a CDC feed emitting ops this sink
    doesn't understand (e.g. a truncate, or a malformed row with a NULL
    op) must not be silently narrowed to the ones it does: note
    ``~isin(...)`` alone is NULL for NULL ops under three-valued logic,
    which would drop the row from BOTH sides without tripping the guard,
    hence the explicit ``isNull()`` arm."""

    _UPSERT_OPS = ("c", "u", "r")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # an empty trigger is not an era
        if _legacy_collision(
            store, batch_id, legacy_token_compat=legacy_token_compat
        ):
            return  # committed by a legacy stream under the legacy token
        bad = (
            batch_df.where(
                F.col(op_col).isNull()
                | ~F.col(op_col).isin(*_UPSERT_OPS, "d")
            )
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                f"streaming_scd2_cdc: batch {batch_id} carries op values "
                f"outside {{'c', 'u', 'r', 'd'}} (or NULL) in column "
                f"{op_col!r}"
            )
        ups = batch_df.where(F.col(op_col).isin(*_UPSERT_OPS)).drop(op_col)
        dels = batch_df.where(F.col(op_col) == "d").select(*store.key_cols)
        occ.retrying(
            lambda: store.apply_era(
                ups,
                deletes=dels,
                token=_stream_token(checkpoint_dir, batch_id),
                snapshot_every=snapshot_every,
            ),
            attempts=20,
            backoff_sec=0.2,
        )

    return (
        cdc_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def streaming_pit_enrich(
    fact_stream: DataFrame,
    store,
    era_col: str,
    sink_dir: str,
    checkpoint_dir: str,
    as_of: int | None = None,
) -> StreamingQuery:
    """Enrich a STREAM of fact micro-batches against the ``Scd2Store``'s
    point-in-time history — the Kappa-architecture pattern that
    completes the store's streaming surface: ``streaming_scd2_cdc`` keeps
    the dimension current from a change feed, and this query joins
    arriving facts to the version valid at each fact's own era.

    Each micro-batch runs ``store.pit_join`` (the split-by-touched plan;
    an in-flight micro-batch is small, so the cold-branch shuffle is
    O(batch) — the zero-exchange co-bucketed path is for facts AT REST)
    and lands in a per-batch parquet directory (``sink_dir/batch=<id>``,
    mode=overwrite). foreachBatch is at-least-once; the per-batch
    overwrite makes a replay rewrite its own partition instead of
    appending duplicates — an idempotent sink, hence exactly-once output.

    ``as_of`` pins one dimension era for the whole stream (audit
    semantics: every batch sees the same history). The default ``None``
    resolves at each micro-batch to the store's latest COMMITTED era —
    the cached meta is invalidated at the top of every batch (the cache
    only refreshes when THIS object mutates, so a dimension
    maintained by a different ``Scd2Store`` instance/process would
    otherwise be served at the era cached on the first batch for the
    whole stream), so a dimension concurrently maintained by a CDC
    stream enriches facts with the versions current at their arrival."""
    import os

    # per-stream history cache — every batch at
    # the same committed era reuses the prepared cold/hot history pieces
    # (lazy localCheckpoints materialized through batch 0's own join)
    # instead of re-running the touched-keys job + the full-base window and
    # anti/semi splits per micro-batch. pit_join keys the cache on the
    # RESOLVED era, so the per-batch meta invalidation below still works:
    # a dimension advanced by a concurrent writer rebuilds the pieces at
    # the new era and the stale ones are freed by the ContextCleaner.
    hist_cache: dict = {}

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if as_of is None:
            # re-read the committed era from disk: another writer may
            # have advanced the store since the last batch
            store._meta = None
        store.pit_join(
            batch_df, era_col, as_of=as_of, era_cache=hist_cache
        ).write.mode("overwrite").parquet(
            os.path.join(sink_dir, f"batch={batch_id}")
        )

    return (
        fact_stream.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_decontaminate(
    doc_stream: DataFrame,
    bench_grams: DataFrame,
    id_col: str,
    text_col: str,
    sink_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Decontaminate-at-INGEST (the Kappa pattern applied to
    the train-test overlap check): documents arrive as micro-batches and
    each batch's contaminated spans are computed against the PREPARED
    benchmark gram set (``dedup.benchmark_gram_set`` — materialized once;
    benchmarks change rarely, the corpus streams) before the batch ever
    reaches the training corpus. This is where a real pipeline runs the
    check: filtering at ingest means contaminated documents never land,
    instead of sweeping a 100 TB corpus retroactively.

    Containment is per-document against static benchmark state — no
    cross-batch state at all — so the union of per-batch outputs equals
    the at-rest ``decontaminate_spans`` over the whole corpus exactly
    (the registered query's oracle is the at-rest oracle verbatim).
    Each batch lands in ``sink_dir/batch=<id>`` with mode=overwrite:
    foreachBatch is at-least-once, and the per-batch overwrite makes a
    replay rewrite its own partition instead of appending duplicates —
    the same idempotent-sink discipline as ``streaming_pit_enrich``."""
    import os

    from ..operators.dedup import decontaminate_spans_against

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        decontaminate_spans_against(
            batch_df, bench_grams, id_col, text_col
        ).write.mode("overwrite").parquet(
            os.path.join(sink_dir, f"batch={batch_id}")
        )

    return (
        doc_stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
