"""Driver-checked streaming parity queries.

The streaming surface (streaming/windows.py) is built on batch/stream
parity: every streaming transformation has a registered batch twin with
a DuckDB oracle. These queries close the loop IN THE DRIVER: they run
the real Structured Streaming pipeline — ``readStream`` over the
catalog parquet, the same windowed/stateful aggregation, a
``Trigger.AvailableNow`` run into a memory sink — and return the final
table, which the driver then hash-compares against the ORACLE OF THE
BATCH TWIN. A mismatch means streaming and batch semantics diverged.

Complete output mode is used deliberately: it makes the finite-source
run emit every window regardless of watermark progress (append mode
only emits windows the watermark has passed, which for a bounded
backfill means silently dropping the tail — the classic
availableNow-plus-append footgun). State still keys by
(window, event_type) — hash-partitioned, watermark-boundable on a live
unbounded source.

No counterpart in the reference (it has no streaming engine at all —
SURVEY.md §7.3 notes any streaming surface is green-field).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from asritha_metamorphetl_spark.functions.numeric import exact_sum
from asritha_metamorphetl_spark.plans.fixtures import _prewarm
from asritha_metamorphetl_spark.plans.registry import register
from asritha_metamorphetl_spark.sources.files import Catalog
from asritha_metamorphetl_spark.streaming.windows import (
    hourly_event_counts,
    interval_self_join,
    interval_self_join_outer,
)

_AWAIT_SEC = 120


def _overlap(*jobs, workers: int = 3) -> None:
    """Run independent fixture-build jobs (seed writes, delta landings)
    concurrently on a small pool — guide §2.6: the next job's tasks
    back-fill executors freed by the current job's tail, so a family's
    seed phase costs max(job) instead of sum(job). ONLY for jobs with
    no ordering dependency (each writes its own directory, like the
    independent folds of one micro-batch); the order of folds across
    batches and micro-batch counts are pinned semantics and never go
    through here."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(workers, len(jobs))) as pool:
        for fut in [pool.submit(job) for job in jobs]:
            fut.result()


def _land_batch(df: DataFrame, path: str, index: int) -> None:
    """Land ``df`` as ONE parquet file under ``path`` for a
    ``maxFilesPerTrigger=1`` stream, then pin the directory's and its
    files' modification times to ``1000 * (index + 1)`` seconds.
    FileStreamSource delivers files in mtime order, so batch ``index``
    is the ``index``-th micro-batch however concurrent landings
    (``_overlap``) interleave their commits."""
    import os

    df.coalesce(1).write.parquet(path)
    pinned = (1000 * (index + 1),) * 2
    for name in os.listdir(path):
        os.utime(os.path.join(path, name), pinned)
    os.utime(path, pinned)


def _materialize(
    stream_df: DataFrame,
    mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a bounded streaming query to completion (AvailableNow) into a
    uniquely-named in-memory sink and return the result table. The sink
    holds only the aggregated output (windows × types — bounded), never
    the raw stream.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    DURATION OF THIS STREAMING QUERY ONLY (restored after). For stateful
    streaming this is a first-class deploy knob, not a tuning hack: the
    partition count is frozen into the state store at first checkpoint,
    and every partition costs a state-store instance per stateful
    operator per micro-batch (measured locally: the interval join is
    5× slower at 32 partitions than at 8 on the same data — pure
    per-instance overhead). Size it to the expected key cardinality in
    the watermark horizon; the parity fixtures' horizons are small."""
    spark = stream_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    if state_partitions is not None:
        spark.conf.set(key, str(state_partitions))
    name = f"stream_result_{uuid.uuid4().hex[:12]}"
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = query.awaitTermination(_AWAIT_SEC)
            if not finished:
                # awaitTermination returns False on timeout instead of
                # raising — surface it loudly rather than hash-comparing a
                # partial memory-sink snapshot downstream.
                raise TimeoutError(
                    f"streaming query {name} still running after {_AWAIT_SEC}s"
                )
        finally:
            query.stop()
    finally:
        spark.conf.set(key, saved)
    return spark.table(name)


@register(
    "streaming_hourly_events",
    # Identical SQL to the batch twin events_hourly — that equality IS the
    # parity claim.
    oracle="""
SELECT
    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
    event_type,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def streaming_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation executed as a REAL streaming
    query (readStream → window agg → AvailableNow → memory sink), then
    compared to the batch oracle. Exercises streaming/windows.py's
    hourly_event_counts end to end, including the events.ts
    normalization on the stream path."""
    stream = Catalog(sf_dir).stream(spark, "events")
    hourly = hourly_event_counts(stream)
    out = _materialize(hourly, mode="complete", state_partitions=8)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "streaming_type_totals",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(MIN(value) AS DOUBLE) AS min_value,
       CAST(MAX(value) AS DOUBLE) AS max_value
FROM events
GROUP BY event_type
""",
)
def streaming_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running totals per event type as a streaming query — the
    unbounded-state complete-mode shape (dashboard counters). Exact
    distinct counts are unsupported on streams; a live pipeline would
    use approx_count_distinct, which has no exact oracle, so the
    registered shape sticks to oracle-exact aggregates."""
    stream = Catalog(sf_dir).stream(spark, "events")
    totals = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(F.col("value"), "total_value"),
        F.min("value").cast("double").alias("min_value"),
        F.max("value").cast("double").alias("max_value"),
    )
    return _materialize(totals, mode="complete", state_partitions=8)


@register(
    "streaming_sessions_parity",
    # The batch gaps-and-islands oracle (event_sessions) re-keyed to
    # engine-neutral session identity: (user, first/last event micros).
    # Gap compare is exact integer microseconds on both sides. Session
    # membership matches session_window() whenever no inter-event gap is
    # EXACTLY the 1800s boundary (streaming's [start, last+gap) interval
    # is half-open where the islands rule is gap > 1800s) — the event
    # fixtures have zero exact-boundary gaps at every SF, so the
    # comparison is deterministic.
    oracle="""
WITH ordered AS (
    SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
),
flagged AS (
    SELECT *,
        CASE WHEN us - LAG(us) OVER (
                 PARTITION BY user_id ORDER BY us ASC, event_id ASC)
             > 1800000000
             OR LAG(us) OVER (
                 PARTITION BY user_id ORDER BY us ASC, event_id ASC) IS NULL
             THEN 1 ELSE 0 END AS new_session
    FROM ordered
),
numbered AS (
    SELECT *,
        SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY us ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(us) AS start_us,
       MAX(us) AS end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, sid
""",
)
def streaming_sessions_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows executed as a REAL streaming query
    (session_window state merging under AvailableNow) and compared to
    the batch islands oracle on engine-neutral session identity. This is
    the strongest batch/stream parity claim in the repo: a stateful
    MERGING window whose result must be row-identical to a window-free
    SQL derivation."""
    stream = Catalog(sf_dir).stream(spark, "events")
    sess = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min(F.unix_micros("ts")).alias("start_us"),
            F.max(F.unix_micros("ts")).alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
            exact_sum(F.col("value"), "total_value"),
        )
        .select("user_id", "start_us", "end_us", "n_events", "total_value")
    )
    return _materialize(sess, mode="complete", state_partitions=8)


@register(
    "streaming_distinct_pairs",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def streaming_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication state (dropDuplicates keyed on
    (user, type)) run to completion and compared as a SET: which row of
    each key survives depends on arrival order, so only the key columns
    are emitted — those are order-invariant and exactly the batch
    DISTINCT. Exercises streaming/windows.py's dedup shape with
    driver-checked parity; a live deployment bounds the state with
    withWatermark + event-time keys."""
    stream = Catalog(sf_dir).stream(spark, "events")
    deduped = stream.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return _materialize(deduped, mode="append", state_partitions=8)


@register(
    "streaming_interval_join_parity",
    # The batch twin: a plain interval self-join — every (view, purchase)
    # pair for a user where the view precedes the purchase by <= 1 hour.
    oracle="""
SELECT p.user_id,
       v.event_id AS left_id,
       p.event_id AS right_id,
       epoch_us(v.ts) AS left_us,
       epoch_us(p.ts) AS right_us
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
""",
)
def streaming_interval_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (view→purchase
    attribution) run as a REAL streaming query in append mode and
    hash-compared to the batch join. Inner interval joins emit exactly
    the matched pairs regardless of arrival order, so the streaming
    result is row-identical to the batch twin; the double-bounded time
    condition is what lets Spark reap join state at the watermark
    (streaming/windows.interval_self_join)."""
    stream = Catalog(sf_dir).stream(spark, "events")
    # state_partitions=2: a stream-stream join keeps FOUR state stores
    # per partition (left/right rows + key-to-count indexes), so its
    # per-instance overhead is ~4x a plain agg's — measured warm at
    # sf0.1: 4.3 s at 8 partitions vs 2.6 s at 2 on identical output.
    # The parity fixture's horizon holds few keys; a live deployment
    # sizes this to horizon key cardinality (see _materialize).
    joined = interval_self_join(stream, "view", "purchase", gap="1 hour")
    return _materialize(joined, mode="append", state_partitions=2)


@register(
    "streaming_outer_join_parity",
    # Batch twin: LEFT JOIN with the same double-bounded interval. The
    # WHERE clause is the WATERMARK CLOSABILITY RULE, verified exactly:
    # a left row may only be declared unmatched once the watermark
    # (final value: max event time - 2h delay) passes its join horizon
    # (v.ts + 1h gap) — so unmatched views emit iff
    # v.ts + 3h <= max(ts); later unmatched views stay in state forever
    # on a bounded run. Matched pairs emit regardless. A Spark release
    # that changed outer-emission timing would break this hash.
    oracle="""
SELECT v.user_id,
       v.event_id AS left_id,
       p.event_id AS right_id,
       epoch_us(v.ts) AS left_us,
       epoch_us(p.ts) AS right_us
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_id IS NOT NULL
   OR v.ts + INTERVAL 3 HOUR <= (SELECT MAX(ts) FROM events)
""",
)
def streaming_outer_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join run as a real streaming
    query. Outer rows only emit when the watermark passes their join
    horizon — the part of stream-stream joins most pipelines get wrong
    (outer results are late by gap + watermark delay, and the tail of a
    bounded run never closes). The oracle encodes that closability rule
    explicitly, so this parity check pins Spark's documented emission
    semantics, not just the join condition
    (streaming/windows.interval_self_join_outer)."""
    stream = Catalog(sf_dir).stream(spark, "events")
    # state_partitions=2 for the same four-state-stores-per-partition
    # reason as the inner variant (measured there: 4.3 s @ 8 vs 2.6 s @ 2).
    joined = interval_self_join_outer(stream, "view", "purchase", gap="1 hour")
    return _materialize(joined, mode="append", state_partitions=2)


@register(
    "streaming_bucketed_cdc_parity",
    # Batch twin: plain last-writer-wins over the whole changelog (the
    # same QUALIFY merge the batch CDC queries pin), profiled live-only.
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), changelog AS (
  SELECT o_orderkey, o_custkey, cents + 500 AS cents, 'U' AS op, 10 AS seq
  FROM base WHERE o_orderkey % 5 = 1
  UNION ALL
  SELECT o_orderkey, o_custkey, cents - 900, 'U', 20
  FROM base WHERE o_orderkey % 10 = 1
  UNION ALL
  SELECT o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 'D', 15
  FROM base WHERE o_orderkey % 5 = 2
  UNION ALL
  SELECT o_orderkey, o_custkey, cents * 3, 'I', 5
  FROM base WHERE o_orderkey % 5 = 2
  UNION ALL
  SELECT o_orderkey + 500000, o_custkey, cents, 'I', 1
  FROM base WHERE o_orderkey % 5 = 3
), latest AS (
  SELECT * FROM changelog
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1
)
SELECT o_orderkey % 36 AS bucket, COUNT(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(SUM(seq) AS BIGINT) AS seq_sum
FROM latest WHERE op <> 'D'
GROUP BY o_orderkey % 36
""",
)
def streaming_bucketed_cdc_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed CDC upsert sink under a REAL streaming query: the
    changelog's three sequence bands land as parquet files, a
    ``readStream`` with ``maxFilesPerTrigger=1`` delivers them as
    separate micro-batches into ``cdc_upsert_stream_bucketed`` (one
    atomic bucketed version per batch, only delta-touched buckets
    rewritten), and the final live state is profiled against the plain
    all-at-once last-writer-wins oracle. Whatever order the source
    lists the files in, the tombstone-retaining merge converges — the
    property the sink's at-least-once ``foreachBatch`` contract needs.
    This puts the micro-batch path itself (not just the batch merge
    math) under a CORRECTNESS row. The stream run is
    ``_cdc_stream_fixture`` inside the concurrent parity suite; the
    band sequence itself is unchanged."""
    import os

    from asritha_metamorphetl_spark.operators.cdc import cdc_live
    from asritha_metamorphetl_spark.sources.bucketed import BucketedCdcTable

    root = _parity_suite(spark, sf_dir, "cdc")
    table = BucketedCdcTable(
        spark, os.path.join(root, "tbl"), keys=["o_orderkey"], n_buckets=16
    )
    return cdc_live(table.read()).groupBy(
        (F.col("o_orderkey") % 36).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
        F.sum("seq").alias("seq_sum"),
    )


def _cdc_stream_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Changelog bands + the three-micro-batch bucketed-CDC stream run,
    session-cached so the concurrent parity suite can overlap it with
    the other families. The streamed table lands under ``<root>/tbl``;
    the consumer only READS (``cdc_live`` rollup), so caching is
    sound."""
    import os

    from asritha_metamorphetl_spark.plans.catalog_queries import (
        _orders_changelog,
        _seq_band_batches,
    )
    from asritha_metamorphetl_spark.session import cached_fixture
    from asritha_metamorphetl_spark.sources.bucketed import BucketedCdcTable
    from asritha_metamorphetl_spark.streaming.windows import (
        cdc_upsert_stream_bucketed,
    )

    def build(root: str) -> None:
        src = os.path.join(root, "changelog")
        # materialize the 5-branch changelog ONCE (the three band writes
        # would otherwise each rescan orders per branch), and land each
        # band as a single file so maxFilesPerTrigger=1 delivers EXACTLY
        # three micro-batches — one per sequence band, the semantics
        # under test
        changelog = _orders_changelog(spark, sf_dir).localCheckpoint(
            eager=True
        )
        batches = _seq_band_batches(changelog)

        # three independent band writes off the pinned changelog —
        # overlap them (r14, §2.6); _land_batch keeps the band order
        def _land(i: int, b: DataFrame):
            return lambda: _land_batch(b, os.path.join(src, f"band{i}"), i)

        _overlap(*[_land(i, b) for i, b in enumerate(batches)])
        schema = batches[0].schema

        table = BucketedCdcTable(
            spark, os.path.join(root, "tbl"), keys=["o_orderkey"], n_buckets=16
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        q = (
            cdc_upsert_stream_bucketed(stream, table)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_AWAIT_SEC):
            q.stop()
            raise TimeoutError("bucketed CDC stream did not finish")

    return cached_fixture(spark, "stream_bucketed", sf_dir, build)


def _ingest_dedup_oracle() -> str:
    from asritha_metamorphetl_spark.plans.text_queries import (
        MINHASH_BANDS_CTE,
        _hex48_sql,
    )

    bucket = _hex48_sql("md5(CAST(doc_id AS VARCHAR))")
    return f"""
WITH {MINHASH_BANDS_CTE},
flags AS (
    SELECT doc_id, {bucket} % 10 >= 8 AS is_new
    FROM documents
)
SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_lo,
       GREATEST(a.doc_id, b.doc_id) AS doc_hi,
       CASE WHEN fa.is_new AND fb.is_new THEN 'delta_delta'
            ELSE 'base_delta' END AS pair_type
FROM bands a
JOIN bands b USING (band_key)
JOIN flags fa ON fa.doc_id = a.doc_id
JOIN flags fb ON fb.doc_id = b.doc_id
WHERE a.doc_id < b.doc_id
  AND (fa.is_new OR fb.is_new)
"""


def _esw_weigh(df: DataFrame) -> DataFrame:
    """Row-local rational weight for the Efraimidis–Spirakis parity —
    shared between the trilogy fixture and the parity query's docs."""
    w = (F.lit(1) + F.col("n_chars") % 100) / F.lit(101.0)
    return df.select("doc_id", w.alias("w"))


def _docs_trilogy_fixture(spark: SparkSession, sf_dir: str) -> str:
    """ONE real micro-batch run shared by the three document-stream
    parities (ingest dedup / Count-Min / weighted sample — VERDICT r10
    directive #4: each used to pay its own full stream cycle over the
    IDENTICAL three delta files, ~13.6 s of the bench tail for ~6 s of
    distinct data work). The base/delta split, the three landed delta
    files, and the three seeded states are byte-identical to the former
    per-query builds; one ``readStream`` with ``maxFilesPerTrigger=1``
    delivers the same three micro-batches, and the combined
    ``foreachBatch`` applies each algebra's fold (sets, sums, order
    statistics) to its OWN state directory — per-batch semantics,
    retry contracts, and final artifacts are unchanged, so each parity
    query's oracle hash still certifies its own fold. Cached per
    (session, sf) via ``cached_fixture``; consumers treat the artifacts
    as read-only."""
    import os

    from asritha_metamorphetl_spark.operators.dedup import lsh_banded
    from asritha_metamorphetl_spark.operators.frequent import countmin_sketch
    from asritha_metamorphetl_spark.operators.sampling import (
        hash_bucket,
        weighted_sample_without_replacement,
    )
    from asritha_metamorphetl_spark.plans.catalog_queries import (
        CMS_DEPTH,
        CMS_SALT,
        CMS_WIDTH,
    )
    from asritha_metamorphetl_spark.session import cached_fixture
    from asritha_metamorphetl_spark.streaming.windows import (
        fold_countmin_batch,
        fold_incremental_dedup_batch,
        fold_weighted_sample_batch,
    )

    def build(root: str) -> None:
        docs = Catalog(sf_dir).load(spark, "documents")
        bucket = hash_bucket(F.col("doc_id"), 10)
        base = docs.filter(bucket <= 7)
        # three filtered re-scans of the small parquet are cheaper than
        # one eager materialization of the text payload (measured 4.3 s
        # vs ~1.5 s at sf0.1)
        delta = docs.filter(bucket >= 8)

        band_dir = os.path.join(root, "bands")
        pairs_dir = os.path.join(root, "pairs")
        sketch_dir = os.path.join(root, "sketch")
        esw_dir = os.path.join(root, "esw")
        src = os.path.join(root, "delta")

        # seeds: base band rows + empty pair frame (dedup), base sketch
        # partial (Count-Min), base top-200 (weighted sample), plus the
        # three delta landings — four INDEPENDENT write jobs, so run
        # them concurrently (r11 directive #1: the sequential seed
        # writes were the bulk of the trilogy's build wall-clock; the
        # band seed alone is a full shingle→minhash pass over 80% of
        # the corpus and the others idle behind it for free)
        def seed_bands() -> None:
            lsh_banded(base, "text", "doc_id").write.parquet(band_dir)
            spark.createDataFrame(
                [], "doc_lo long, doc_hi long"
            ).write.parquet(pairs_dir)

        def seed_sketch() -> None:
            base_toks = base.select(
                F.explode(F.split(F.col("text"), " ")).alias("tok")
            )
            countmin_sketch(
                base_toks,
                "tok",
                depth=CMS_DEPTH,
                width=CMS_WIDTH,
                salt=CMS_SALT,
            ).coalesce(1).write.parquet(
                os.path.join(sketch_dir, "batch_id=-1")
            )

        def seed_esw() -> None:
            weighted_sample_without_replacement(
                _esw_weigh(base), "w", "doc_id", 200, salt="esw:"
            ).coalesce(1).write.parquet(os.path.join(esw_dir, "batch_id=-1"))

        def land_delta() -> None:
            # land the delta ONCE as three single-file batches
            for i in range(3):
                _land_batch(
                    delta.filter(F.col("doc_id") % 3 == i),
                    os.path.join(src, f"batch{i}"),
                    i,
                )

        _overlap(seed_bands, seed_sketch, seed_esw, land_delta, workers=4)

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            # pin the batch once — three folds would each re-read the
            # source file and re-plan the scan
            b = batch_df.localCheckpoint(eager=True)
            # The three folds are INDEPENDENT algebras over the same
            # pinned batch, each into its own state directory, so
            # within a micro-batch they run concurrently — per-batch
            # wall drops to max(fold) instead of sum(fold) (measured
            # ~5.3 s → ~3 s per batch). Inter-fold order was never part
            # of any parity claim; each query's oracle certifies its
            # own fold's final state.
            folds = (
                lambda: fold_incremental_dedup_batch(
                    b, band_dir, pairs_dir, "text", "doc_id"
                ),
                lambda: fold_countmin_batch(
                    b,
                    batch_id,
                    sketch_dir,
                    "text",
                    depth=CMS_DEPTH,
                    width=CMS_WIDTH,
                    salt=CMS_SALT,
                ),
                lambda: fold_weighted_sample_batch(
                    b, batch_id, esw_dir, _esw_weigh, "doc_id", 200, "esw:"
                ),
            )
            _overlap(*folds)

        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        # NOTE: shuffle partitions stay at the session's 32 here —
        # unlike the state-store streams _materialize documents, the
        # dedup fold joins the batch against the CORPUS-sized band
        # table every micro-batch, and throttling that join's
        # parallelism measured ~2x slower at 8 partitions
        q = (
            stream.writeStream.foreachBatch(apply)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_AWAIT_SEC):
            q.stop()
            raise TimeoutError("docs trilogy stream did not finish")

    return cached_fixture(spark, "stream_docs_trilogy", sf_dir, build)


def _parity_suite(spark: SparkSession, sf_dir: str, family: str) -> str:
    """The root of streaming-parity fixture ``family``, built with EVERY
    file-fold parity family concurrently on first touch (``_prewarm``;
    VERDICT r11 directive #1): docs trilogy, events last-value pair,
    gram moments, HLL registers, MoR deletes, bucketed CDC, the
    inverted-arrival folds and the watermark-drop stream are independent
    jobs over different tables. Each family keeps its own
    ``cached_fixture`` label, checkpoint, and UNCHANGED fold sequence —
    concurrency only overlaps wall-clock across families, it cannot
    interleave work within one (every state dir is family-private), so
    each parity's oracle hash still certifies its own fold exactly."""
    # Micro-batch folds move KB-to-MB frames; at the session's 32
    # shuffle partitions every tiny distinct/agg/topk inside a fold
    # spawns 32 tasks and fixed per-task overhead dominates (profiled:
    # the dedup fold was 3.2 s/batch at 32 partitions on 5k docs). Pin
    # 8 for the builds — but scoped to a PRIVATE BUILD SESSION:
    # ``spark.newSession()`` shares the SparkContext (same
    # applicationId, so scratch roots, cached-fixture markers, and the
    # artifact paths consumers read are unchanged) while owning its own
    # SQLConf, so the caller's session conf is never touched and a
    # concurrent NON-suite query in a ``--jobs`` sweep keeps shuffling
    # at the session's 32 partitions for the whole build window
    # (VERDICT r12 finding #2 / ADVICE r12: the old session-global
    # set/restore could silently throttle unrelated queries).
    # Historical note: the dedup fold once NEEDED 32 because its band
    # join shuffled the corpus-sized band table per batch; the fold now
    # broadcasts the batch side (no shuffle), which is what makes the
    # low setting safe for the builds.
    build_spark = spark.newSession()
    build_spark.conf.set("spark.sql.shuffle.partitions", "8")
    # LONGEST-FIRST submission order (measured isolated build seconds;
    # the classic makespan heuristic): with a bounded pool the slowest
    # family must start first or it becomes the tail all by itself.
    families = {
        "trilogy": _docs_trilogy_fixture,
        "hll": _hll_state_fixture,
        "lastvalue": _events_lastvalue_fixture,
        "latebatch": _latebatch_state_fixture,
        "mor": _mor_stream_fixture,
        "cdc": _cdc_stream_fixture,
        "gram": _gram_state_fixture,
        "wmdrop": _wmdrop_state_fixture,
    }
    return _prewarm(build_spark, sf_dir, families, family)


@register("streaming_ingest_dedup_parity", oracle=_ingest_dedup_oracle())
def streaming_ingest_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup under a REAL streaming query: the base corpus'
    band rows are seeded as the persisted band artifact, the delta
    documents land as three parquet files, a ``readStream`` with
    ``maxFilesPerTrigger=1`` delivers them as separate micro-batches
    into the incremental-dedup fold (each batch pairs against
    base + everything ingested before it, appends its pairs, grows the
    band table), and the ACCUMULATED pair set is compared against the
    all-at-once batch oracle. Because pairs are orientation-normalized,
    the accumulated set is identical whatever order the batches arrive
    in — the property the at-least-once ``foreachBatch`` contract
    needs. This puts the streaming ingest-dedup path itself (not just
    the batch join math) under a CORRECTNESS row. The micro-batch run
    is the shared ``_docs_trilogy_fixture`` (one stream, three fold
    algebras, each into its own state — the dedup fold and its
    artifacts are identical to a standalone run)."""
    import os

    from asritha_metamorphetl_spark.operators.sampling import hash_bucket

    docs = Catalog(sf_dir).load(spark, "documents")
    root = _parity_suite(spark, sf_dir, "trilogy")
    pairs = spark.read.parquet(os.path.join(root, "pairs")).distinct()
    flags = docs.select(
        "doc_id", (hash_bucket(F.col("doc_id"), 10) >= 8).alias("is_new")
    )
    return (
        pairs.join(
            flags.select(
                F.col("doc_id").alias("doc_lo"), F.col("is_new").alias("lo_new")
            ),
            "doc_lo",
        )
        .join(
            flags.select(
                F.col("doc_id").alias("doc_hi"), F.col("is_new").alias("hi_new")
            ),
            "doc_hi",
        )
        .select(
            "doc_lo",
            "doc_hi",
            F.when(F.col("lo_new") & F.col("hi_new"), F.lit("delta_delta"))
            .otherwise(F.lit("base_delta"))
            .alias("pair_type"),
        )
    )


def _cms_batch_oracle() -> str:
    from asritha_metamorphetl_spark.plans.catalog_queries import (
        _cms_cells_sql,
    )

    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), cells AS (
  {_cms_cells_sql("tok")}
)
SELECT row_i AS cms_row, cell, CAST(COUNT(*) AS BIGINT) AS n
FROM cells GROUP BY row_i, cell
"""


@register("streaming_countmin_parity", oracle=_cms_batch_oracle())
def streaming_countmin_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of a Count-Min sketch under a REAL
    streaming query, proved equal to sketching the whole corpus at
    once: the base corpus' sketch is seeded as the ``batch_id=-1``
    partial, three delta files arrive as separate micro-batches
    (``maxFilesPerTrigger=1``), each publishes its partial sketch by
    OVERWRITING its own ``batch_id=<n>`` subdirectory (idempotent under
    foreachBatch's at-least-once retries — a sum, unlike a set, cannot
    tolerate re-append), and the reader folds all partials with one
    ``groupBy(row, cell).sum``. The sketch's LINEARITY is the property
    under the hash: cell-wise sums commute, so the accumulated sketch
    is bit-identical whatever the batch boundaries — the batch oracle
    sketches all documents in one pass. The micro-batch run is the
    shared ``_docs_trilogy_fixture`` (one stream, three fold algebras,
    each into its own state — the Count-Min fold and its partials are
    identical to a standalone run)."""
    import os

    root = _parity_suite(spark, sf_dir, "trilogy")
    return (
        spark.read.parquet(os.path.join(root, "sketch"))
        .groupBy("row", "cell")
        .agg(F.sum("n").alias("n"))
        .select(F.col("row").alias("cms_row"), "cell", "n")
    )


def _es_parity_oracle() -> str:
    from asritha_metamorphetl_spark.plans.text_queries import _hex48_sql

    u48 = _hex48_sql("md5('esw:' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH keyed AS (
    SELECT doc_id,
           (1 + (n_chars % 100)) / 101.0 AS w,
           ROUND(LN((({u48} % 1000000) + 1) / 1000000.0)
                 / ((1 + (n_chars % 100)) / 101.0), 6) AS es_key
    FROM documents
)
SELECT doc_id, ROUND(w, 6) AS w, es_key
FROM keyed
ORDER BY es_key DESC, doc_id
LIMIT 200
"""


@register("streaming_weighted_sample_parity", oracle=_es_parity_oracle())
def streaming_weighted_sample_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming maintenance of the Efraimidis–Spirakis weighted
    sample under a REAL streaming query, proved equal to the one-shot
    batch sample: the base corpus' top-200 is seeded as batch_id=-1,
    three delta files arrive as separate micro-batches, each folds
    topk(distinct(latest_state ∪ batch_keys)) and publishes the new
    state under its own batch_id (idempotent: re-folding rows already
    in the state is a no-op after the id-dedup). Order statistics
    over fixed content-hash keys are MERGEABLE — topk(A ∪ B) =
    topk(topk(A) ∪ B) — which is the third merge algebra in the
    streaming trilogy (sets: ingest dedup; sums: Count-Min; order
    statistics: this). The oracle draws the same sample from all
    documents at once. Weights are a row-local rational of n_chars so
    every engine reproduces them exactly. The micro-batch run is the
    shared ``_docs_trilogy_fixture`` (one stream, three fold algebras,
    each into its own state — the top-k fold and its per-batch states
    are identical to a standalone run)."""
    import os

    root = _parity_suite(spark, sf_dir, "trilogy")
    state = spark.read.parquet(os.path.join(root, "esw"))
    latest = state.agg(F.max("batch_id")).collect()[0][0]
    return (
        state.filter(F.col("batch_id") == latest)
        .select(
            "doc_id", F.round(F.col("w"), 6).alias("w"), "es_key"
        )
    )


def _gram_parity_oracle() -> str:
    # the batch twin's oracle verbatim: full-corpus covariance — the
    # parity claim is that the streamed fold lands on the identical
    # rounded matrix whatever the batch boundaries. FINITE-VECTOR-gated
    # exactly like the batch twin (embedding_covariance_matrix): one
    # NaN/Inf vector poisons its whole row+column of moments, and the
    # numpy partial-Gram fold and DuckDB's SUM disagree on NaN cells.
    from asritha_metamorphetl_spark.plans.linalg_queries import (
        _LA_VEC_GATE,
        _cov_core_sql,
    )

    return f"""
WITH {_cov_core_sql(_LA_VEC_GATE)}
SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j, c AS cov
FROM cov
"""


def _gram_state_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Seeds + three-micro-batch stream run for the gram-moments parity,
    as a session-cached read-only fixture (the fold sequence is
    byte-identical to the former inline build; caching it lets the
    parity suite overlap this stream with the five other families —
    VERDICT r11 directive #1). State lands under ``<root>/moments``."""
    import os

    from asritha_metamorphetl_spark.operators.linalg import gram_moments
    from asritha_metamorphetl_spark.operators.sampling import hash_bucket
    from asritha_metamorphetl_spark.plans.text_queries import EMB_DIM
    from asritha_metamorphetl_spark.session import cached_fixture
    from asritha_metamorphetl_spark.streaming.windows import (
        gram_moments_stream,
    )

    def build(root: str) -> None:
        from asritha_metamorphetl_spark.operators.similarity import (
            finite_vectors,
        )

        # gated like the batch covariance twin (oracle mirrors)
        emb = finite_vectors(Catalog(sf_dir).load(spark, "embeddings"))
        bucket = hash_bucket(F.col("vec_id"), 10)
        base = emb.filter(bucket <= 7)
        delta = emb.filter(bucket >= 8)

        state_dir = os.path.join(root, "moments")
        src = os.path.join(root, "delta")

        # seed moments + the three delta landings: four independent
        # write jobs — overlap them (r14, §2.6)
        def _land(i: int):
            return lambda: _land_batch(
                delta.filter(F.col("vec_id") % 3 == i),
                os.path.join(src, f"batch{i}"),
                i,
            )

        _overlap(
            lambda: gram_moments(base, "embedding", EMB_DIM)
            .coalesce(1)
            .write.parquet(os.path.join(state_dir, "batch_id=-1")),
            *[_land(i) for i in range(3)],
        )

        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        q = (
            gram_moments_stream(stream, state_dir, "embedding", EMB_DIM)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_AWAIT_SEC):
            q.stop()
            raise TimeoutError("gram moments stream did not finish")

    return cached_fixture(spark, "stream_gram", sf_dir, build)


@register("streaming_gram_parity", oracle=_gram_parity_oracle())
def streaming_gram_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the second-moment (online-PCA) state
    under a REAL streaming query, proved equal to the one-shot batch
    covariance: the base corpus' Gram/sum/count partials are seeded as
    ``batch_id=-1``, three delta files arrive as separate micro-batches
    (``maxFilesPerTrigger=1``), each publishing its moment partial by
    OVERWRITING its own ``batch_id=<n>`` subdirectory (sums cannot
    tolerate re-append under at-least-once retries), and the reader
    folds every partial with one ``groupBy(i, j).sum`` before the SAME
    bounded-frame covariance derivation the batch operator uses. The
    moment algebra's LINEARITY is the property under the hash — the
    fourth mergeable-fold algebra the streaming surface proves, after
    sets (ingest dedup), sums (Count-Min), and order statistics
    (weighted sample): dense matrices. The micro-batch run is
    ``_gram_state_fixture`` inside the concurrent parity suite
    (``_parity_suite``); the fold sequence itself is unchanged. Inputs
    are FINITE-VECTOR-gated exactly like the batch covariance twin —
    moment LINEARITY only holds over finite summands (NaN + x loses
    the information a mergeable fold must preserve)."""
    import os

    from asritha_metamorphetl_spark.operators.linalg import (
        covariance_from_moments,
    )
    from asritha_metamorphetl_spark.plans.linalg_queries import LA_DECIMALS

    root = _parity_suite(spark, sf_dir, "gram")
    folded = (
        spark.read.parquet(os.path.join(root, "moments"))
        .groupBy("i", "j")
        .agg(F.sum("val").alias("val"))
        .localCheckpoint(eager=False)  # three bounded-frame consumers
    )
    return covariance_from_moments(folded, decimals=LA_DECIMALS)


def _hll_parity_oracle() -> str:
    # the batch register table's oracle verbatim — the parity claim is
    # that the streamed max-fold lands on the identical registers
    # whatever the batch boundaries (and despite base/delta overlap on
    # l_orderkey: multi-line orders straddle the split)
    from asritha_metamorphetl_spark.plans.sketch_queries import (
        _hll_reg_core_sql,
    )

    return f"""
WITH {_hll_reg_core_sql()}
SELECT flag, bucket, register FROM hll_reg
"""


def _hll_state_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Seeds + three-micro-batch stream run for the HLL-register parity,
    session-cached so the concurrent parity suite can overlap it with
    the other five families (fold sequence unchanged). Registers land
    under ``<root>/registers``."""
    import os

    from asritha_metamorphetl_spark.operators.frequent import hll_registers
    from asritha_metamorphetl_spark.session import cached_fixture
    from asritha_metamorphetl_spark.streaming.windows import (
        hll_registers_stream,
    )

    def build(root: str) -> None:
        li = Catalog(sf_dir).load(spark, "lineitem").select(
            "l_returnflag", "l_orderkey"
        )
        # integer-modulo split: the oracle is split-agnostic, so the split
        # only needs determinism — an md5-based bucket here costs a digest
        # per row per filter evaluation (measured ~10 s of pure split
        # overhead at sf0.1) for no semantic gain
        bucket = F.col("l_orderkey") % 10
        base = li.filter(bucket <= 7)
        delta = li.filter(bucket >= 8)

        state_dir = os.path.join(root, "registers")
        src = os.path.join(root, "delta")

        # seed registers + the three delta landings are four independent
        # write jobs into private paths — overlap them (r14, §2.6)
        def _land(i: int):
            return lambda: _land_batch(
                delta.filter(F.col("l_orderkey") % 3 == i),
                os.path.join(src, f"batch{i}"),
                i,
            )

        _overlap(
            lambda: hll_registers(base, "l_orderkey", ("l_returnflag",))
            .coalesce(1)
            .write.parquet(state_dir),
            *[_land(i) for i in range(3)],
        )

        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        q = (
            hll_registers_stream(
                stream, state_dir, "l_orderkey", ("l_returnflag",)
            )
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_AWAIT_SEC):
            q.stop()
            raise TimeoutError("hll register stream did not finish")

    return cached_fixture(spark, "stream_hll", sf_dir, build)


@register("streaming_hll_parity", oracle=_hll_parity_oracle())
def streaming_hll_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of HyperLogLog distinct-count state under a
    REAL streaming query, proved register-identical to the one-shot
    batch table: the base corpus' registers are seeded into the state
    directory, three delta files arrive as separate micro-batches
    (``maxFilesPerTrigger=1``) each APPENDING its own register partial
    (max-merge is idempotent — duplicate delivery is harmless, unlike
    the sum algebras which must overwrite per batch_id), and the reader
    folds every partial with one ``groupBy(flag, bucket).max``. The
    split deliberately straddles orders (an l_orderkey's lines land in
    both base and delta): MAX absorbs the overlap, which is exactly why
    distinct-count state is the easiest sketch to keep fresh at 100 TB.
    The fifth mergeable-fold algebra the streaming surface proves, after
    sets, sums, order statistics, and matrices: idempotent max. The
    micro-batch run is ``_hll_state_fixture`` inside the concurrent
    parity suite; the fold sequence itself is unchanged."""
    import os

    root = _parity_suite(spark, sf_dir, "hll")
    return (
        spark.read.parquet(os.path.join(root, "registers"))
        .groupBy("l_returnflag", "bucket")
        .agg(F.max("register").alias("register"))
        .select(
            F.col("l_returnflag").alias("flag"),
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("register").cast("bigint").alias("register"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming merge-on-read deletes: erasure batches folding into delete
# files under a real micro-batch query, with a re-delivered batch
# ---------------------------------------------------------------------------


def _mor_streaming_oracle() -> str:
    from asritha_metamorphetl_spark.plans.catalog_queries import _MOR_DELETED

    return f"""
SELECT o_orderpriority,
       COUNT(*) AS n_live,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS live_cents
FROM orders
WHERE NOT {_MOR_DELETED}
GROUP BY o_orderpriority
"""


def _mor_stream_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Working copy of the pristine MoR fixture (delete commits
    stripped) + the three-delete-batch stream run, session-cached so the
    concurrent parity suite can overlap it with the other families. The
    streamed table lands under ``<root>/tbl``; the consumer only READS
    (aggregates over live rows), so caching is sound."""
    import os
    import shutil

    from asritha_metamorphetl_spark.plans.catalog_queries import (
        _MOR_D1,
        _MOR_D2,
        _mor_table,
    )
    from asritha_metamorphetl_spark.session import cached_fixture
    from asritha_metamorphetl_spark.sources.mor import MergeOnReadTable

    def build(root: str) -> None:
        orders = Catalog(sf_dir).load(spark, "orders")
        # Base table: a private copy of the shared pristine MoR fixture
        # with its delete commits stripped — the stream below must
        # apply them itself. Saves re-running write_base; the extra
        # o_custkey column is inert for the aggregates.
        pristine = _mor_table(spark, sf_dir)
        tbl_root = os.path.join(root, "tbl")

        def _copy_base() -> None:
            shutil.copytree(
                pristine.root,
                tbl_root,
                ignore=shutil.ignore_patterns("_FIXTURE_READY"),
            )
            shutil.rmtree(
                os.path.join(tbl_root, "deletes"), ignore_errors=True
            )

        src = os.path.join(root, "deletekeys")
        d1 = orders.filter(_MOR_D1).select("o_orderkey").localCheckpoint()
        d2 = orders.filter(_MOR_D2).select("o_orderkey")
        # one file per batch so maxFilesPerTrigger=1 yields EXACTLY three
        # micro-batches; batch2 re-delivers batch0's keys verbatim. The
        # FS copy of the base table and the three key-batch writes are
        # independent — overlap them (r14, §2.6).
        _overlap(
            _copy_base,
            lambda: _land_batch(d1, os.path.join(src, "b0"), 0),
            lambda: _land_batch(d2, os.path.join(src, "b1"), 1),
            lambda: _land_batch(d1, os.path.join(src, "b2"), 2),
        )
        t = MergeOnReadTable(
            spark, tbl_root, "o_orderkey", n_files=pristine.n_files
        )

        stream = (
            spark.readStream.schema("o_orderkey bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, _eid: t.delete_keys(batch.select("o_orderkey"))
            )
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_AWAIT_SEC):
            q.stop()
            raise TimeoutError("MoR delete stream did not finish")

    return cached_fixture(spark, "stream_mor", sf_dir, build)


@register("streaming_mor_delete_parity", oracle=_mor_streaming_oracle())
def streaming_mor_delete_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes under a REAL streaming query — the GDPR /
    erasure-pipeline shape at 100 TB: delete-key batches arrive as
    files, a ``readStream`` with ``maxFilesPerTrigger=1`` delivers them
    as separate micro-batches, and ``foreachBatch`` folds each into the
    MoR table as one positional delete file (O(batch) work: a
    column-pruned base resolve + a tiny write — the base is never
    rewritten mid-stream). The THIRD batch re-delivers the first —
    exactly the at-least-once duplicate a restarted sink produces — and
    must be a no-op because the read-side anti-join dedups positions.
    The final live state is profiled against the batch predicate
    oracle, putting the micro-batch delete path itself under a
    CORRECTNESS row (the batch-side math is ``mor_delete_scan``). The
    stream run is ``_mor_stream_fixture`` inside the concurrent parity
    suite; the delete-batch sequence itself is unchanged."""
    import os

    from asritha_metamorphetl_spark.plans.catalog_queries import MOR_NFILES
    from asritha_metamorphetl_spark.sources.mor import MergeOnReadTable

    root = _parity_suite(spark, sf_dir, "mor")
    t = MergeOnReadTable(
        spark, os.path.join(root, "tbl"), "o_orderkey", n_files=MOR_NFILES
    )
    return t.read().groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum("cents").alias("live_cents"),
    )


def _semi_additive_oracle() -> str:
    # the batch twin's oracle verbatim: parity claims the streamed
    # fold lands on the identical per-month totals whatever the batch
    # boundaries and despite the re-delivered batch
    from asritha_metamorphetl_spark.plans.timeseries_queries import (
        SEMI_ADDITIVE_ORACLE,
    )

    return SEMI_ADDITIVE_ORACLE


def _events_lastvalue_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Shared build for the two last-value fold parities over events
    (VERDICT r10 directive #4): ONE pinned scan of the encoded events
    feeds both the semi-additive micro-batch stream (state under
    ``semiadd/``) and the retry-contract direct folds (state under
    ``retry/``). Each fold sequence — seeds, batch boundaries, the
    re-delivered batch, the duplicated batch_id — is exactly the former
    per-query build; only the source scan and the md5 bucket column are
    computed once instead of twice (the md5-per-row-per-filter cost the
    hll parity already documents). Cached per (session, sf); consumers
    treat the state directories as read-only."""
    import os

    from asritha_metamorphetl_spark.operators.sampling import hash_bucket
    from asritha_metamorphetl_spark.session import cached_fixture
    from asritha_metamorphetl_spark.streaming.windows import (
        fold_last_value_batch,
        last_value_fold_stream,
    )

    def build(root: str) -> None:
        ev = Catalog(sf_dir).load(spark, "events")
        enc = ev.select(
            "user_id",
            "event_type",
            (F.year("ts") * 100 + F.month("ts")).alias("ym"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            "ts",
            "event_id",
            hash_bucket(F.col("event_id"), 10).alias("_b"),
        ).localCheckpoint(eager=True)

        # --- semi-additive micro-batch stream (keys: user_id, ym) ---
        sa = enc.select("user_id", "ym", "cents", "ts", "event_id", "_b")
        base = sa.filter(F.col("_b") <= 7).drop("_b")
        delta = sa.filter(F.col("_b") >= 8).drop("_b")
        sa_state = os.path.join(root, "semiadd")
        src = os.path.join(root, "delta")

        w = Window.partitionBy("user_id", "ym").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        d0 = delta.filter(F.col("event_id") % 2 == 0)
        d1 = delta.filter(F.col("event_id") % 2 == 1)

        # --- retry-contract direct folds (key: user_id) ---
        rf = enc.select(
            "user_id", "event_type", "cents", "ts", "event_id", "_b"
        )
        seed = rf.filter(F.col("_b") <= 5).drop("_b")
        b0 = rf.filter((F.col("_b") == 6) | (F.col("_b") == 7)).drop("_b")
        b1 = rf.filter(F.col("_b") >= 8).drop("_b")
        rf_state = os.path.join(root, "retry")
        wu = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )

        # the two seed writes and three delta landings are five
        # independent write jobs into private paths — overlap them
        # (r14, §2.6); both fold sequences below see all their inputs
        # complete exactly as before
        _overlap(
            lambda: base.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .coalesce(1)
            .write.parquet(os.path.join(sa_state, "batch_id=-1")),
            lambda: seed.withColumn("_rn", F.row_number().over(wu))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .coalesce(1)
            .write.parquet(os.path.join(rf_state, "batch_id=-1")),
            lambda: _land_batch(d0, os.path.join(src, "b0"), 0),
            lambda: _land_batch(d1, os.path.join(src, "b1"), 1),
            # re-delivery
            lambda: _land_batch(d0, os.path.join(src, "b2"), 2),
        )

        def run_semiadd_stream() -> None:
            stream = (
                spark.readStream.schema(delta.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{src}/*/")
            )
            q = (
                last_value_fold_stream(
                    stream, sa_state, ["user_id", "ym"], ["ts", "event_id"]
                )
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(_AWAIT_SEC):
                q.stop()
                raise TimeoutError(
                    "semi-additive fold stream did not finish"
                )

        def run_retry_folds() -> None:
            key_cols = ["user_id"]
            order_cols = ["ts", "event_id"]
            fold_last_value_batch(b0, 0, rf_state, key_cols, order_cols)
            # the retry: same frame, same batch_id, state already present
            fold_last_value_batch(b0, 0, rf_state, key_cols, order_cols)
            fold_last_value_batch(b1, 1, rf_state, key_cols, order_cols)

        # the semi-additive micro-batch stream and the retry-contract
        # fold sequence touch DISJOINT state dirs (semiadd/ vs retry/)
        # and each keeps its internal order — overlap the two sequences
        # exactly like the docs trilogy's concurrent per-batch folds
        _overlap(run_semiadd_stream, run_retry_folds, workers=2)

    return cached_fixture(spark, "stream_lastvalue_pair", sf_dir, build)


def _latest_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest published fold state: rows with the max batch_id."""
    state = spark.read.parquet(state_dir)
    latest_id = state.agg(F.max("batch_id")).collect()[0][0]
    return state.filter(F.col("batch_id") == latest_id)


@register("streaming_semi_additive_parity", oracle=_semi_additive_oracle())
def streaming_semi_additive_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming maintenance of the semi-additive LAST-VALUE state
    under a REAL streaming query, proved equal to the one-shot batch
    aggregate (``semi_additive_last_balance``): the base events'
    per-(user, month) latest rows seed batch_id=-1, three delta files
    arrive as separate micro-batches, each folds argmax-by-(ts,
    event_id) against the persisted state and republishes — and the
    THIRD batch re-delivers the first verbatim, the at-least-once
    duplicate a restarted sink produces, which the idempotent argmax
    fold must absorb. This is the fourth merge algebra in the
    streaming family (sets: ingest dedup; sums: Count-Min; order
    statistics: weighted sample; argmax: this). The final state rolls
    up to per-month totals against the split-agnostic batch oracle.
    The build is the shared ``_events_lastvalue_fixture`` (one pinned
    events scan feeds this stream and the retry-fold companion; the
    fold sequence itself is unchanged)."""
    import os

    root = _parity_suite(spark, sf_dir, "lastvalue")
    latest = _latest_state(spark, os.path.join(root, "semiadd"))
    return latest.groupBy("ym").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").cast("bigint").alias("total_last_cents"),
    )


@register(
    "streaming_retry_fold_parity",
    oracle="""
WITH enc AS (
    SELECT user_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS cents,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT event_type, COUNT(*) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM enc WHERE rn = 1
GROUP BY event_type
""",
)
def streaming_retry_fold_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The foreachBatch RETRY contract proved against the batch
    oracle: the last-value-per-user state is seeded from 60% of the
    events, two delta micro-batches fold the rest — and batch 0 is
    DELIVERED TWICE with the same batch_id (state written, checkpoint
    commit lost, batch re-run: exactly the at-least-once failure the
    r8 ADVICE flagged). The fold reads only ``batch_id < n`` states,
    so the retry neither races its own overwrite nor double-counts,
    and the final state's per-type rollup hash-matches the one-shot
    SQL over ALL events. Companion to ``streaming_semi_additive_parity``
    (which proves duplicate ROWS are absorbed; this proves duplicate
    BATCHES are). The build is the shared ``_events_lastvalue_fixture``
    (one pinned events scan feeds both; the duplicated-batch_id fold
    sequence itself is unchanged)."""
    import os

    root = _parity_suite(spark, sf_dir, "lastvalue")
    latest = _latest_state(spark, os.path.join(root, "retry"))
    return latest.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


@register(
    "streaming_first_touch_parity",
    # Batch twin of analytics3_queries.first_touch_attribution — the
    # streaming fold must land on the identical attribution table.
    oracle="""
WITH firsts AS (
    SELECT user_id, event_type AS first_type
    FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS rn
        FROM events
    ) WHERE rn = 1
),
conv AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM events GROUP BY user_id
)
SELECT f.first_type,
       COUNT(*) AS n_users,
       CAST(SUM(c.converted) AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(c.converted) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS conv_rate
FROM firsts f JOIN conv c USING (user_id)
GROUP BY f.first_type
""",
)
def streaming_first_touch_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch attribution as a REAL streaming query: one
    complete-mode per-user aggregate folds MIN(struct(us, event_id,
    event_type)) — a mergeable running minimum over the total event
    order, exactly the state a live attribution pipeline keeps — plus
    the running conversion flag, in the SAME stateful operator
    (streaming allows one aggregation; the per-type rollup happens
    batch-side on the bounded per-user sink table). Must hash-match
    the batch twin (``first_touch_attribution``'s oracle) — parity
    proves the fold order-independence that out-of-order micro-batch
    delivery requires."""
    stream = Catalog(sf_dir).stream(spark, "events")
    per_user = stream.groupBy("user_id").agg(
        F.min(
            F.struct(
                F.unix_micros(F.col("ts")).alias("us"),
                F.col("event_id").alias("event_id"),
                F.col("event_type").alias("event_type"),
            )
        ).alias("first"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    out = _materialize(per_user, mode="complete", state_partitions=8)
    return out.groupBy(
        F.col("first.event_type").alias("first_type")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(
            F.sum("converted").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("conv_rate"),
    )


@register(
    "streaming_sliding_parity",
    # Each event lands in window/slide = 4 overlapping windows; the
    # oracle replays the assignment arithmetic with integer microseconds
    # (window start = 900s-grid floor minus k slides, k = 0..3).
    oracle="""
WITH slid AS (
    SELECT e.event_type, e.value,
           (CAST(FLOOR(epoch_us(e.ts) / 900000000) AS BIGINT) - k.k)
               * 900000000 AS ws_us
    FROM events e, (VALUES (0), (1), (2), (3)) k(k)
    WHERE epoch_us(e.ts)
          - ((CAST(FLOOR(epoch_us(e.ts) / 900000000) AS BIGINT) - k.k)
             * 900000000) < 3600000000
)
SELECT strftime(to_timestamp(ws_us / 1000000), '%Y-%m-%d %H:%M:%S')
           AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(MIN(value) AS DOUBLE) AS min_value,
       CAST(MAX(value) AS DOUBLE) AS max_value
FROM slid
GROUP BY 1, 2
""",
)
def streaming_sliding_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window aggregation as a REAL streaming query
    (streaming/windows.sliding_event_stats: 1-hour windows sliding
    every 15 minutes), hash-compared to a batch oracle that replays the
    overlap assignment arithmetic exactly — each event must appear in
    precisely window/slide = 4 windows on the 15-minute grid. Pins the
    one windowed-aggregation shape the parity family lacked (tumbling:
    streaming_hourly_events; session: streaming_sessions_parity;
    sliding: this). min/max over raw doubles are order-safe (no
    summation), so the hash needs no quantization."""
    from asritha_metamorphetl_spark.streaming.windows import (
        sliding_event_stats,
    )

    stream = Catalog(sf_dir).stream(spark, "events")
    slid = sliding_event_stats(stream)
    out = _materialize(slid, mode="complete", state_partitions=8)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n_events",
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


@register(
    "streaming_static_enrich_parity",
    oracle="""
SELECT e.event_type,
       COALESCE(c.c_mktsegment, '<unmatched>') AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
)
def streaming_static_enrich_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-STATIC join under a REAL streaming query: the events
    stream enriches against the batch customer dimension
    (streaming/windows.stream_static_enrich — broadcast, re-read per
    micro-batch) and rolls up per (event_type, segment), hash-compared
    to the plain batch LEFT JOIN. The stream-static join is the one
    join shape every live mart uses (fact stream × dimension table) and
    was previously pytest-only; the left side keeps unmatched users as
    an explicit '<unmatched>' group so silent inner-join downgrades
    fail the hash."""
    from asritha_metamorphetl_spark.streaming.windows import (
        stream_static_enrich,
    )

    dim = Catalog(sf_dir).load(spark, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    stream = Catalog(sf_dir).stream(spark, "events")
    enriched = stream_static_enrich(stream, dim, on="user_id", how="left")
    agg = enriched.groupBy(
        "event_type",
        F.coalesce(F.col("segment"), F.lit("<unmatched>")).alias("segment"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(F.col("value"), "total_value"),
    )
    return _materialize(agg, mode="complete", state_partitions=8)


@register(
    "streaming_late_batch_fold_parity",
    # Split-agnostic oracle: per-user argmax by (ts, event_id) over ALL
    # events, rolled up by the day of that latest event.
    oracle="""
WITH latest AS (
    SELECT user_id, ts,
           CAST(ROUND(value * 100) AS BIGINT) AS cents,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       COUNT(*) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM latest WHERE rn = 1
GROUP BY 1
""",
)
def streaming_late_batch_fold_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The last-value fold under STRICTLY INVERTED arrival order: the
    events are split into time TERCILES (boundaries derived from the
    data's microsecond range, mirrored nowhere — the oracle is
    split-agnostic) and folded NEWEST FIRST from an empty seed, so
    every row of batches 1 and 2 is a late arrival relative to state
    already folded. The hostile-time fixture sweeps a statistical
    version of this (odd ids shifted 7 days); this query pins the
    EXTREME case — arrival order exactly anti-chronological — on the
    standard catalog under a driver hash. The argmax fold must let
    event time, never arrival time, win (fold_last_value_batch; same
    machinery as streaming_semi_additive_parity/retry_fold). The build
    runs as a family of the concurrent parity suite."""
    import os

    root = _parity_suite(spark, sf_dir, "latebatch")
    latest = _latest_state(spark, os.path.join(root, "state"))
    return latest.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


def _latebatch_state_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Empty-seed, newest-first tercile folds for the inverted-arrival
    parity, session-cached as a suite family (read-only state under
    ``<root>/state``)."""
    import os

    from asritha_metamorphetl_spark.session import cached_fixture
    from asritha_metamorphetl_spark.streaming.windows import (
        fold_last_value_batch,
    )

    def build(root: str) -> None:
        ev = Catalog(sf_dir).load(spark, "events").select(
            "user_id",
            "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            "event_id",
            F.unix_micros("ts").alias("_us"),
        ).localCheckpoint(eager=True)
        lo, hi = ev.agg(F.min("_us"), F.max("_us")).collect()[0]
        t1 = lo + (hi - lo) // 3
        t2 = lo + 2 * (hi - lo) // 3
        state = os.path.join(root, "state")
        # empty seed: the fold starts from nothing and the FIRST batch
        # it sees is the NEWEST data
        spark.createDataFrame(
            [], "user_id bigint, ts timestamp, cents bigint, event_id bigint"
        ).coalesce(1).write.parquet(os.path.join(state, "batch_id=-1"))
        batches = (
            ev.filter(F.col("_us") >= t2),       # newest first
            ev.filter((F.col("_us") >= t1) & (F.col("_us") < t2)),
            ev.filter(F.col("_us") < t1),        # oldest last
        )
        for i, b in enumerate(batches):
            fold_last_value_batch(
                b.drop("_us"), i, state, ["user_id"], ["ts", "event_id"]
            )

    return cached_fixture(spark, "stream_latebatch", sf_dir, build)


#: Watermark delay of the drop-parity stream, in days.
WMDROP_DELAY_DAYS = 15
_WM_DAY_US = 86_400_000_000


def _wmdrop_oracle() -> str:
    d = _WM_DAY_US
    delay = WMDROP_DELAY_DAYS * d
    return f"""
WITH cls AS (
    SELECT event_type, event_id, epoch_us(ts) AS us,
           (SELECT epoch_us(MIN(ts)) FROM events) + {10 * d} AS c1,
           (SELECT epoch_us(MIN(ts)) FROM events) + {20 * d} AS c2
    FROM events
), wm AS (
    -- late-event filter watermark: Spark applies the PREVIOUS trigger's
    -- watermark to late rows, so when the old batch (b2) arrives the
    -- filter holds the watermark b1 ran with = ms-floored max event
    -- time of b0 (mid, even event_ids) minus the delay. Eviction /
    -- emission use the CURRENT watermark; after the final batch that is
    -- ms-floored max over ALL events minus the delay.
    SELECT CAST(FLOOR(MAX(CASE WHEN us >= c1 AND us < c2
                               AND event_id % 2 = 0
                          THEN us END) / 1000.0) * 1000 AS BIGINT)
               - {delay} AS wm_late,
           CAST(FLOOR(MAX(us) / 1000.0) * 1000 AS BIGINT)
               - {delay} AS wm_final
    FROM cls
), kept AS (
    SELECT event_type,
           CAST(FLOOR(us / 3600000000) AS BIGINT) * 3600000000 AS ws_us
    FROM cls
    WHERE NOT (us < c1
               AND CAST(FLOOR(us / 3600000000) AS BIGINT) * 3600000000
                   + 3600000000 <= (SELECT wm_late FROM wm))
)
SELECT strftime(to_timestamp(ws_us / 1000000), '%Y-%m-%d %H:%M:%S')
           AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM kept
WHERE ws_us + 3600000000 <= (SELECT wm_final FROM wm)
GROUP BY 1, 2
"""


@register("streaming_watermark_drop_parity", oracle=_wmdrop_oracle())
def streaming_watermark_drop_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The availableNow-plus-append WATERMARK CONTRACT made exact — the
    footgun the module docstring warns about, pinned under a driver
    hash instead of prose. Four micro-batches arrive in a deliberately
    hostile order (mid-period evens, mid-period odds, the OLDEST ten
    days, the newest ten days; file mtimes pin the order), an hourly
    append-mode aggregation runs with a {15}-day watermark, and the
    emitted table must match an oracle that encodes BOTH documented
    rules:

    - LATE-ROW DROP: rows are dropped when their window end has been
      passed by the PREVIOUS trigger's watermark (Spark lags the
      late-event filter one trigger behind eviction — measured: the old
      batch loses exactly the windows ending before
      ms_floor(max ts of batch 0) − delay; 563 rows at sf0.01, visible
      as numRowsDroppedByWatermark).
    - EMISSION: append mode emits only windows whose end the FINAL
      watermark (ms-floored global max − delay) has passed; newer
      windows stay in state forever on a bounded run and must NOT
      appear.

    A Spark release that changed late-filter lag, eviction timing, or
    the ms flooring of event-time stats breaks this hash. Boundary
    ties cannot blur the contract on this catalog: window ends are
    exact hours while both watermarks carry odd microseconds. The
    stream run is ``_wmdrop_state_fixture`` inside the concurrent
    parity suite."""
    import os

    root = _parity_suite(spark, sf_dir, "wmdrop")
    out = spark.read.parquet(os.path.join(root, "result"))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n_events",
    )


def _wmdrop_state_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Hostile-order four-batch watermark stream for the drop parity,
    session-cached as a suite family; the append-mode emissions land
    as parquet under ``<root>/result``."""
    import os

    from asritha_metamorphetl_spark.session import cached_fixture

    def build(root: str) -> None:
        ev = Catalog(sf_dir).load(spark, "events")
        us = F.unix_micros("ts")
        lo = ev.agg(F.min(us)).collect()[0][0]
        c1 = lo + 10 * _WM_DAY_US
        c2 = lo + 20 * _WM_DAY_US
        src = os.path.join(root, "src")
        batches = (
            ev.filter((us >= c1) & (us < c2) & (F.col("event_id") % 2 == 0)),
            ev.filter((us >= c1) & (us < c2) & (F.col("event_id") % 2 == 1)),
            ev.filter(us < c1),   # late arrivals, two triggers behind
            ev.filter(us >= c2),  # the newest data closes the run
        )
        # four independent single-file writes — overlap them (r14,
        # §2.6); _land_batch pins each landing's mtime, so the delivery
        # order is identical however the writes interleave
        def _land(i: int, b: DataFrame):
            return lambda: _land_batch(b, os.path.join(src, f"b{i}"), i)

        _overlap(*[_land(i, b) for i, b in enumerate(batches)])

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/")
        )
        agg = (
            stream.withWatermark("ts", f"{WMDROP_DELAY_DAYS} days")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", os.path.join(root, "result"))
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(_AWAIT_SEC):
            q.stop()
            raise TimeoutError("watermark drop stream did not finish")

    return cached_fixture(spark, "stream_wmdrop", sf_dir, build)


@register(
    "streaming_new_users_parity",
    # Batch twin of analytics3_queries.daily_new_vs_returning's "new"
    # column: the streaming min-day fold must land on the same
    # first-seen-per-day counts.
    oracle="""
WITH firsts AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id
)
SELECT CAST(first_day AS VARCHAR) AS day,
       COUNT(*) AS n_new_users
FROM firsts GROUP BY first_day
""",
)
def streaming_new_users_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily NEW-user counts as a streaming query: one complete-mode
    per-user MIN(day) fold — the running first-seen state a live
    growth dashboard keeps — with the per-day rollup batch-side over
    the bounded per-user sink. Must hash-match the batch first-seen
    oracle; parity proves the min fold absorbs out-of-order
    micro-batch delivery (a user's later events can arrive first and
    the fold still lands on the true first day)."""
    stream = Catalog(sf_dir).stream(spark, "events")
    per_user = stream.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    out = _materialize(per_user, mode="complete", state_partitions=8)
    return out.groupBy(
        F.date_format("first_day", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new_users"))
