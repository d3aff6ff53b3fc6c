"""Streaming transformations over an events stream.

Batch/stream parity is the design rule: every transformation here is the
streaming twin of a registered batch query (plans/operator_queries.py), so
correctness is checked against the DuckDB oracle via the batch twin and
the streaming plumbing is checked with in-memory streams in tests.

    events_hourly   (batch)  ↔  hourly_event_counts   (stream, watermark)
    event_sessions  (batch)  ↔  sessionized_stream    (session_window)
    legacy snapshot (batch)  ↔  snapshot_stream       (foreachBatch dual-write)

Scale notes: all aggregations key their state by (window, event_type) or
(user, session) — state is hash-partitioned across executors; watermarks
bound state size; no stream ever funnels to a single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from asritha_metamorphetl_spark.functions.numeric import exact_sum


def hourly_event_counts(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour counts/sums per event_type. Late rows beyond the
    watermark are dropped; state for closed windows is evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), "total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_event_stats(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window per-type stats (each row lands in window/slide
    overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "min_value",
            "max_value",
        )
    )


def sessionized_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (dynamic gap-based windows) — the
    streaming twin of the batch gaps-and-islands query
    (plans/operator_queries.py::event_sessions)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), "total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
    hint_broadcast: bool = True,
) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension table.
    The static side is re-read per micro-batch (picking up dim updates) —
    the streaming twin of every mart's fact⋈dim join. Stateless: no
    watermark needed for the join itself.

    ``hint_broadcast`` defaults True because streaming enrichment dims
    are usually genuinely small (lookup/code tables); pass False for a
    dim that scales with the data — the engine-wide policy (see
    pipelines/supplier_performance.py) is hints only on bounded frames."""
    if hint_broadcast:
        dim = F.broadcast(dim)
    return events.join(dim, on, how)


def interval_self_join(
    events: DataFrame,
    left_type: str,
    right_type: str,
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each ``right_type``
    event with the same user's ``left_type`` events in the preceding
    ``gap`` (attribution: views that led to a purchase).

    Both sides carry a watermark and the join condition bounds event
    time on BOTH ends — exactly what Spark needs to reap join state:
    a left row can be dropped once the right watermark passes
    ``left.ts + gap``, so state size tracks the horizon's event rate,
    not the stream's history. Without the time bounds this would be an
    ever-growing-state join Spark rightly refuses in append mode.

    Join keys are (user_id, time-range); the equality key hash-
    partitions both sides so each user's state co-locates on one task."""
    return _interval_join(events, left_type, right_type, gap, watermark, "inner")


def interval_self_join_outer(
    events: DataFrame,
    left_type: str,
    right_type: str,
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER variant of :func:`interval_self_join`: left events with
    no match in the window emit once with a null right side — but only
    when the right watermark has passed their join horizon (before that,
    a match could still arrive). This is the stream-stream case people
    get wrong: outer results are inherently LATE by the watermark delay,
    and rows arriving after the watermark are dropped. Under an
    AvailableNow backfill the final watermark sweep flushes every
    unmatched left, so the bounded result equals the batch LEFT JOIN —
    which is exactly what the parity query checks."""
    return _interval_join(events, left_type, right_type, gap, watermark, "leftOuter")


def _interval_join(
    events: DataFrame,
    left_type: str,
    right_type: str,
    gap: str,
    watermark: str,
    how: str,
) -> DataFrame:
    v = (
        events.filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    p = (
        events.filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = v.join(
        p,
        F.expr(
            f"v_user = user_id AND v_ts <= p_ts "
            f"AND v_ts >= p_ts - INTERVAL {gap}"
        ),
        how,
    )
    out_user = (
        F.col("v_user") if how == "leftOuter" else F.col("user_id")
    )
    return joined.select(
        out_user.alias("user_id"),
        "left_id",
        "right_id",
        F.unix_micros("v_ts").alias("left_us"),
        F.unix_micros("p_ts").alias("right_us"),
    )


def streaming_dedup(
    events: DataFrame, key_cols: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Once-per-KEY delivery within the watermark horizon:
    ``dropDuplicatesWithinWatermark`` keeps the first arrival for each
    key and drops later rows with the same key even when their event
    time differs (retries, replays with fresh timestamps) — the
    streaming twin of the batch PK-uniqueness gate
    (quality/asserts.assert_unique). Plain ``dropDuplicates([key, ts])``
    would re-deliver a key whenever its timestamp changes. State is
    hash-partitioned by key; the watermark bounds how long each key is
    remembered, so state size tracks the horizon's key cardinality."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def cdc_upsert_stream(
    changelog: DataFrame,
    table,
    keys: list[str],
    seq_col: str = "seq",
):
    """Streaming upsert sink: each micro-batch of a CDC changelog folds
    into a :class:`~asritha_metamorphetl_spark.sources.manifest.SnapshotTable`
    via the tombstone-retaining ``cdc_merge_batch``. Every micro-batch
    publishes a new atomic version (readers never tear), history stays
    time-travelable, and because the merge is order-independent and
    idempotent, out-of-order file arrivals and Spark's at-least-once
    ``foreachBatch`` retries both converge to the same state. Read the
    live rows with ``cdc_live(table.read())``.

    **Write amplification warning**: this sink reads and REWRITES the
    FULL state table every micro-batch — per-batch cost is
    O(state + delta), so total I/O over many batches is quadratic in
    state size. Fine for small/medium state (dimension tables,
    control-plane state); for large keyed state use
    :func:`cdc_upsert_stream_bucketed`, which rewrites only the hash
    buckets the batch touches.

    Returns the DataStreamWriter — caller adds checkpoint/trigger and
    ``.start()``."""
    from asritha_metamorphetl_spark.operators.cdc import cdc_merge_batch

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        state = table.read() if table.versions() else None
        merged = cdc_merge_batch(state, batch_df, keys, seq_col)
        table.commit(merged, mode="overwrite")

    return changelog.writeStream.foreachBatch(apply_batch)


def cdc_upsert_stream_bucketed(
    changelog: DataFrame,
    table,
    maintain_every: int | None = None,
    keep_versions: int = 10,
):
    """Streaming upsert sink over a
    :class:`~asritha_metamorphetl_spark.sources.bucketed.BucketedCdcTable`:
    each micro-batch merges into ONLY the hash buckets its keys touch;
    untouched buckets' directories carry into the new manifest verbatim
    (never read, never rewritten). Per-batch cost is
    O(delta + touched-bucket state) — the file-pruned lakehouse MERGE,
    and the scale-safe replacement for :func:`cdc_upsert_stream`'s
    full-state rewrite at large state. Same convergence guarantees: the
    merge is order-independent and idempotent, so at-least-once
    ``foreachBatch`` retries and out-of-order arrivals both land on the
    same state; every version is an atomic manifest publish. The table
    carries the merge keys and sequence column, so only the changelog
    and table are needed here.

    ``maintain_every`` wires RETENTION into the sink — the place commit
    dirs accrue fastest (one manifest + one commit dir per micro-batch:
    a 10 s trigger is ~8.6k versions/day). Every N-th batch, after its
    merge publishes, the sink prunes manifests to the newest
    ``keep_versions`` and runs the bucket-granular ``vacuum`` so
    superseded bucket directories are reclaimed while the stream runs.
    Retention is maintenance, not correctness: a crash between merge
    and maintenance just defers the cleanup to the next N-th batch, and
    time travel within ``keep_versions`` keeps working. Size
    ``keep_versions`` to the downstream ``changes()`` consumers' lag —
    a replica reading the change feed needs its ``since`` version still
    present.

    Returns the DataStreamWriter — caller adds checkpoint/trigger and
    ``.start()``."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.merge_delta(batch_df)
        if maintain_every and (int(batch_id) + 1) % int(maintain_every) == 0:
            table.prune_manifests(keep_last=keep_versions)
            table.vacuum()

    return changelog.writeStream.foreachBatch(apply_batch)


def snapshot_stream(events: DataFrame, raw_path: str, legacy_path: str):
    """The reference's raw/legacy dual-write as a streaming sink: each
    micro-batch overwrites the ``raw`` staging area and appends a
    DAY_DT-stamped snapshot to ``legacy`` (reference pattern:
    ETL_Airflow/dags/tasks/ingestion_task.py:66-69 — overwrite
    raw.*_pre + append legacy.*, per batch instead of per day).

    Returns an un-started ``DataStreamWriter`` (callers pick trigger,
    checkpoint location, and call ``start()``).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(raw_path)
        batch_df.withColumn("day_dt", F.current_date()).write.mode(
            "append"
        ).partitionBy("day_dt").parquet(legacy_path)

    return events.writeStream.foreachBatch(write_batch)


#: Backfill guard for the ingest-dedup fold: batches whose BAND-ROW
#: count (rows × bands, the frame actually broadcast) stays at or under
#: this threshold take the broadcast-join + single-file-append fast
#: path; bigger batches — an initial-load backfill replayed through the
#: streaming fold — fall back to the shuffled band-key join and a
#: parallel append. 500k band rows ≈ tens of MB serialized (band_key +
#: doc id), comfortably inside the session's 64m broadcast threshold
#: with margin for row overhead.
BROADCAST_MAX_BAND_ROWS = 500_000


def fold_incremental_dedup_batch(
    batch_df: DataFrame,
    band_dir: str,
    pairs_dir: str,
    text_col: str,
    id_col: str,
) -> None:
    """One streaming ingest-dedup fold step, a ``foreachBatch`` body:
    band the batch (MinHash-LSH), pair it against the PERSISTED band
    table of everything ingested so far — never base×base — and append
    the pairs and the batch's own band rows, growing the base for the
    next batch. Per-batch cost is O(batch signatures + collisions); the
    corpus-sized quadratic term never recurs. Batches over
    ``BROADCAST_MAX_BAND_ROWS`` band rows (backfills) use a shuffled
    join + parallel append instead of the small-batch broadcast +
    coalesce(1) fast path — same pair algebra, OOM-safe plan.

    Pairs are orientation-normalized (doc_lo < doc_hi), so the
    accumulated pair set is independent of batch arrival order. Under
    ``foreachBatch``'s at-least-once contract a retried batch may
    append duplicate band/pair rows; both are SETS, so readers take
    ``distinct()`` and converge. Seed ``band_dir`` with the base
    corpus' band rows and ``pairs_dir`` with an empty frame of the pair
    schema, so the first read never races the first append."""
    from asritha_metamorphetl_spark.operators.dedup import lsh_banded

    spark = batch_df.sparkSession
    # pin: the batch bands feed BOTH the pair join and the append —
    # without this the shingle/signature pipeline runs twice.
    # spread=False: a micro-batch is small by the streaming-ingest
    # contract, so the under-parallelization repartition inside
    # lsh_banded would cost a shuffle + one task per core per batch for
    # sub-millisecond hashing work.
    batch_b = lsh_banded(
        batch_df, text_col, id_col, spread=False
    ).localCheckpoint(eager=True)
    # "Small by the streaming-ingest contract" is now ENFORCED, not
    # assumed (ADVICE r12): a backfill replayed through this fold (an
    # initial load arriving as one giant batch) would otherwise
    # broadcast an unbounded frame and coalesce(1) its append —
    # executor/driver OOM and a single-writer bottleneck. Counting the
    # CHECKPOINTED band frame is a recompute-free bounded job; above
    # the threshold the fold falls back to the shuffled band-key join
    # and a normally-parallel append. (spread=False stays correct for
    # big batches too: a large file-backed batch already arrives with
    # one input partition per file split, so the hashing runs wide
    # without the repartition lsh_banded would add.)
    small_batch = batch_b.count() <= BROADCAST_MAX_BAND_ROWS
    existing = spark.read.parquet(band_dir)
    left = (
        existing.withColumn("is_new", F.lit(False))
        .unionByName(batch_b.withColumn("is_new", F.lit(True)))
        .alias("l")
    )
    right = batch_b.alias("r")
    pairs = (
        # Broadcast the BATCH side: a streaming ingest batch is small by
        # contract while the persisted band table is corpus-sized, so
        # shuffling both sides on band_key (the default sort-merge plan)
        # pays a corpus-sized shuffle per micro-batch; broadcasting the
        # batch's bands makes per-batch cost one streamed scan of the
        # band table with no shuffle at all.
        left.join(F.broadcast(right) if small_batch else right, "band_key")
        .filter(F.col("l.doc_id") != F.col("r.doc_id"))
        # existing rows pair with every colliding batch row; batch-
        # internal rows only pair forward so each appears once
        .filter(~F.col("l.is_new") | (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(
            F.least(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_lo"),
            F.greatest(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_hi"),
        )
        .distinct()
    )
    # coalesce(1): the signature pipeline runs wide (operators/dedup.py
    # _spread repartitions to defaultParallelism before hashing), so an
    # uncoalesced append lands one near-empty file PER CORE PER BATCH
    # and every later batch's band read pays the listing; coalescing the
    # already-checkpointed batch_b merges partitions without recomputing
    # the pipeline. A batch's bands/pairs are small by the streaming-
    # ingest contract — one file each is the right layout. Above the
    # backfill threshold the single-file layout (like the broadcast) is
    # wrong, so big batches append at their natural parallelism.
    if small_batch:
        pairs.coalesce(1).write.mode("append").parquet(pairs_dir)
        batch_b.coalesce(1).write.mode("append").parquet(band_dir)
    else:
        pairs.write.mode("append").parquet(pairs_dir)
        batch_b.write.mode("append").parquet(band_dir)


def fold_countmin_batch(
    batch_df: DataFrame,
    batch_id: int,
    sketch_dir: str,
    text_col: str,
    depth: int,
    width: int,
    salt: str,
) -> None:
    """One Count-Min fold step, a ``foreachBatch`` body: sketch the
    batch's tokens and publish the partial under
    ``sketch_dir/batch_id=<n>``, OVERWRITING that subdirectory, so a
    retried batch replaces rather than double-counts its partial (a
    sum, unlike the dedup pair SET, is not idempotent under re-append).
    The sketch is linear, so readers fold every partial with one
    ``groupBy(row, cell).sum(n)`` whatever the batch order and
    boundaries. Seed the base corpus' sketch as ``batch_id=-1``."""
    from asritha_metamorphetl_spark.operators.frequent import countmin_sketch

    toks = batch_df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    part = countmin_sketch(toks, "tok", depth=depth, width=width, salt=salt)
    # <= depth*width rows — one file per partial, not one per task
    part.coalesce(1).write.mode("overwrite").parquet(
        f"{sketch_dir}/batch_id={batch_id}"
    )


def fold_weighted_sample_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    weight_fn,
    id_col: str,
    k: int,
    salt: str = "es:",
) -> None:
    """One micro-batch of the Efraimidis–Spirakis weighted-sample fold,
    a ``foreachBatch`` body: order statistics over fixed per-row keys
    are mergeable — topk(A ∪ B) = topk(topk(A) ∪ B) — so the batch's
    keyed rows fold with the persisted k-best and the k-best of the
    union OVERWRITES ``state_dir/batch_id=<n>``. A RETRY (same batch_id
    delivered twice) folds from the newest state strictly older than
    ``n``, never its own prior attempt, so it recomputes the identical
    state. Readers take the highest batch_id. ``weight_fn(df)`` adds
    the row-local weight column ``w`` (> 0); seed the base corpus'
    top-k as ``batch_id=-1``."""
    from asritha_metamorphetl_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )

    spark = batch_df.sparkSession
    keyed = weighted_sample_without_replacement(
        weight_fn(batch_df), "w", id_col, k, salt=salt
    )
    # Fold ONLY from states strictly older than this batch: on a
    # retry (state write succeeded, checkpoint commit didn't) the
    # newest partition is batch_id=<n> itself, and reading it
    # lazily while mode("overwrite") deletes it would lose the
    # state or FileNotFound the tasks. batch n-1's state + this
    # batch's rows re-fold to the identical result (idempotent).
    state = spark.read.parquet(state_dir).filter(
        F.col("batch_id") < F.lit(batch_id)
    )
    latest = state.filter(
        F.col("batch_id")
        == state.agg(F.max("batch_id")).collect()[0][0]
    ).drop("batch_id")
    merged = (
        latest.unionByName(keyed)
        .dropDuplicates([id_col])
        .orderBy(F.col("es_key").desc(), F.col(id_col))
        .limit(k)
    )
    merged.coalesce(1).write.mode("overwrite").parquet(
        f"{state_dir}/batch_id={batch_id}"
    )


def gram_moments_stream(
    vecs: DataFrame,
    state_dir: str,
    vec_col: str,
    dim: int,
):
    """Streaming maintenance of the second-moment sweep (the online-PCA
    state): each micro-batch runs ``operators/linalg.gram_moments`` over
    its vectors and publishes the partial (i, j, val) moment rows under
    ``state_dir/batch_id=<n>`` — OVERWRITING that batch's own
    subdirectory, because moments are SUMS and a retried batch under
    foreachBatch's at-least-once contract must replace, never
    double-count, its partial (the Count-Min discipline). Moments are
    LINEAR, so readers fold every partial with one
    ``groupBy(i, j).sum(val)`` and the result is independent of batch
    order and boundaries — identical to one pass over the whole corpus,
    which is what lets covariance/PCA state stay fresh while data
    streams in, without ever re-scanning history. Seed the base corpus'
    moments as ``batch_id=-1``.

    Per-batch cost: one Arrow pass over the batch plus a bounded
    d²+d+1-row write. Reader cost: O(moment rows · batches).

    Returns the DataStreamWriter — caller adds checkpoint/trigger and
    ``.start()``.
    """
    from asritha_metamorphetl_spark.operators.linalg import gram_moments

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = gram_moments(batch_df, vec_col, dim)
        part.coalesce(1).write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={batch_id}"
        )

    return vecs.writeStream.foreachBatch(apply_batch)


def hll_registers_stream(
    vecs: DataFrame,
    state_dir: str,
    col: str,
    group_cols: tuple[str, ...],
):
    """Streaming maintenance of white-box HyperLogLog registers: each
    micro-batch computes its own register partial
    (``operators/frequent.hll_registers``) and APPENDS it to
    ``state_dir`` — append, not overwrite-per-batch, because register
    merge is MAX: idempotent and commutative, so a retried batch under
    foreachBatch's at-least-once contract lands a duplicate partial
    that changes nothing. This is the deliberate contrast with the sum
    algebras (Count-Min, Gram moments), which MUST overwrite their own
    ``batch_id`` partition to survive retries. Readers fold all partials
    with one ``groupBy(..., bucket).max(register)`` — identical to the
    one-shot table over the whole corpus, whatever the batch boundaries
    or delivery duplication.

    Per-batch cost: one map-side-combining MAX agg over the batch plus
    a ≤ groups × m row write. Returns the DataStreamWriter — caller
    adds checkpoint/trigger and ``.start()``.
    """
    from asritha_metamorphetl_spark.operators.frequent import hll_registers

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = hll_registers(batch_df, col, group_cols)
        part.coalesce(1).write.mode("append").parquet(state_dir)

    return vecs.writeStream.foreachBatch(apply_batch)


def last_value_fold_stream(
    stream: DataFrame,
    state_dir: str,
    key_cols: list[str],
    order_cols: list[str],
):
    """Streaming maintenance of a LAST-VALUE-PER-KEY state (the
    semi-additive balance pattern): each micro-batch unions the
    persisted per-key latest rows with its own rows and keeps, per
    key, the row with the greatest ``order_cols`` tuple — an argmax
    fold, which is mergeable (max(A ∪ B) = max(max(A), B)) and
    IDEMPOTENT (re-folding an already-folded row ties with itself and
    changes nothing), so an at-least-once upstream costs nothing.
    State after batch n lands at ``state_dir/batch_id=<n>`` (same
    publish protocol as the Count-Min / weighted-sample folds); a
    retried batch folds from the newest state with ``batch_id < n`` so
    it never lazily reads the partition its own ``overwrite`` is about
    to delete. Readers take the highest batch_id. Seed the base
    corpus' per-key latest rows as ``batch_id=-1``.

    Per-batch cost: O(batch + affected-state) — the state frame holds
    ONE row per key, never the event history."""
    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        fold_last_value_batch(
            batch_df, batch_id, state_dir, key_cols, order_cols
        )

    return stream.writeStream.foreachBatch(apply_batch)


def fold_last_value_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_cols: list[str],
    order_cols: list[str],
) -> None:
    """One micro-batch of the last-value fold, module-level so a RETRY
    (same batch_id twice) is directly testable."""
    from pyspark.sql import Window

    spark = batch_df.sparkSession
    # Strictly-older states only: a retried batch must never read
    # the batch_id=<n> partition it is about to overwrite (the
    # lazy read races the delete); folding batch n-1's state with
    # this batch's rows is bit-identical because argmax is
    # idempotent.
    state = spark.read.parquet(state_dir).filter(
        F.col("batch_id") < F.lit(batch_id)
    )
    latest = state.filter(
        F.col("batch_id")
        == state.agg(F.max("batch_id")).collect()[0][0]
    ).drop("batch_id")
    merged = latest.unionByName(batch_df.select(latest.columns))
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    folded = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    folded.coalesce(1).write.mode("overwrite").parquet(
        f"{state_dir}/batch_id={batch_id}"
    )
