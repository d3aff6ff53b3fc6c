"""Driver-visible query catalog (grows with every implemented operator).

Each ``@register`` pairs a Spark plan with its DuckDB oracle SQL — this is
the operator-coverage surface the correctness gate checks (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from asritha_metamorphetl_spark.session import scratch_dir
from asritha_metamorphetl_spark.pipelines import customer_sales_report as _csr
from asritha_metamorphetl_spark.pipelines import product_performance as _pp
from asritha_metamorphetl_spark.pipelines import supplier_performance as _sp
from asritha_metamorphetl_spark.plans.registry import register
from asritha_metamorphetl_spark.sources.files import Catalog

register("supplier_performance", oracle=_sp.ORACLE_SQL)(_sp.supplier_performance)
register("product_performance", oracle=_pp.ORACLE_SQL)(_pp.product_performance)
register("customer_sales_report", oracle=_csr.ORACLE_SQL)(_csr.customer_sales_report)


# ---------------------------------------------------------------------------
# K3 + partition pruning, proven: the reference's daily-drop layout
# (gs://bucket/YYYYMMDD/..., ingestion_task.py:235-238) as a DAY_DT-
# partitioned legacy table whose single-day read scans ONE partition.
# ---------------------------------------------------------------------------


@register(
    "legacy_day_slice",
    oracle="""
SELECT s_nationkey, COUNT(*) AS n_sup,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM supplier
WHERE s_suppkey % 3 = 1
GROUP BY s_nationkey
""",
)
def legacy_day_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dated legacy layout end-to-end: three daily snapshots (each a
    disjoint supplier slice) append into a DAY_DT-partitioned warehouse
    via the ingestion pipeline, then ONE day is read back. Because
    DAY_DT is a real partition column the day filter prunes at planning
    time — the scan lists only the DAY_DT=2025-01-02 directory (pinned
    by tests/test_plan_quality.py via PartitionFilters + inputFiles);
    the other days' files are never opened. The oracle recomputes day
    2's slice arithmetically from the source table.

    At 100 TB this is the difference between scanning one day and
    scanning all of history — the reference gets the same effect from
    its YYYYMMDD path convention, but only if every reader re-implements
    the path arithmetic; a partition column makes the optimizer do it."""
    import datetime as dt
    import os
    import shutil

    from asritha_metamorphetl_spark.pipelines.ingestion import (
        Warehouse,
        ingest_entity,
    )

    from asritha_metamorphetl_spark.session import cached_fixture

    sup = Catalog(sf_dir).load(spark, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )

    # Deterministic dated layout, built ONCE per session (the read below
    # is read-only, so consumers share the cached build).
    def build(root: str) -> None:
        wh = Warehouse(root)
        for i, day in enumerate(
            (dt.date(2025, 1, 1), dt.date(2025, 1, 2), dt.date(2025, 1, 3))
        ):
            feed = sup.filter(F.col("s_suppkey") % 3 == i)
            conformed = ingest_entity(
                feed, wh, "supplier", feed.schema, ["s_suppkey"], day=day
            )
            conformed.unpersist()

    root = cached_fixture(spark, "legacy_prune", sf_dir, build)
    legacy = spark.read.parquet(Warehouse(root).legacy_path("supplier"))
    day2 = legacy.filter(F.col("DAY_DT") == F.lit("2025-01-02").cast("date"))
    return day2.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_sup"),
        F.sum(F.col("s_acctbal").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_bal"),
    )


def _zorder3_oracle() -> str:
    from asritha_metamorphetl_spark.functions.numeric import morton_key_n_sql

    z = morton_key_n_sql(["xb", "yb", "zb"], bits=6)
    return f"""
WITH base AS (
  SELECT o_custkey % 64 AS xb,
         LEAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) // 40000, 63) AS yb,
         o_orderkey % 64 AS zb
  FROM orders
)
SELECT ({z} >> 9) AS zbucket,
       COUNT(*) AS n,
       MIN(xb) AS min_x, MAX(xb) AS max_x,
       MIN(yb) AS min_y, MAX(yb) AS max_y,
       MIN(zb) AS min_z, MAX(zb) AS max_z
FROM base
GROUP BY ({z} >> 9)
"""


@register("zorder3_layout_profile", oracle=_zorder3_oracle())
def zorder3_layout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-dimensional Morton code (customer x price-band x key band,
    6 bits each) profiled per 512-code z-range: every bucket's bounding
    box stays small in ALL THREE dimensions — the layout for tables
    queried along three independent axes (tenant x day x region). The
    oracle runs the identical generated 18-bit interleave
    (functions/numeric.morton_key_n + morton_key_n_sql); same pure
    shift/mask projection + hash aggregate as the 2-D profile."""
    from asritha_metamorphetl_spark.functions.numeric import morton_key_n

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = Catalog(sf_dir).load(spark, "orders").select(
        (F.col("o_custkey") % 64).alias("xb"),
        F.least(F.floor(cents / 40000), F.lit(63)).cast("long").alias("yb"),
        (F.col("o_orderkey") % 64).alias("zb"),
    )
    z = morton_key_n([F.col("xb"), F.col("yb"), F.col("zb")], bits=6)
    return (
        base.withColumn("zbucket", F.shiftright(z, 9))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("xb").alias("min_x"),
            F.max("xb").alias("max_x"),
            F.min("yb").alias("min_y"),
            F.max("yb").alias("max_y"),
            F.min("zb").alias("min_z"),
            F.max("zb").alias("max_z"),
        )
    )


# ---------------------------------------------------------------------------
# CDC changelog apply — the incremental alternative to the reference's
# full daily snapshot rewrite (ingestion_task.py re-writes every row
# every day). Money moves as integer cents so Spark and DuckDB agree
# bit-for-bit with no float-summation or decimal-scale drift.
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), changelog AS (
  SELECT o_orderkey, o_custkey, 'X1' AS o_orderstatus,
         cents + 500 AS cents, 'U' AS op, 10 AS seq
  FROM base WHERE o_orderkey % 7 = 1
  UNION ALL
  SELECT o_orderkey, o_custkey, 'X2', cents - 700, 'U', 20
  FROM base WHERE o_orderkey % 14 = 1
  UNION ALL
  SELECT o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
         CAST(NULL AS BIGINT), 'D', 15
  FROM base WHERE o_orderkey % 7 = 2
  UNION ALL
  SELECT o_orderkey, o_custkey, 'X0', cents, 'U', 5
  FROM base WHERE o_orderkey % 7 = 2
  UNION ALL
  SELECT o_orderkey + 100000, o_custkey, 'N', cents * 2, 'I', 1
  FROM base WHERE o_orderkey % 7 = 3
), latest AS (
  SELECT * FROM changelog
  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1
), merged AS (
  SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.cents
  FROM base b ANTI JOIN latest l ON b.o_orderkey = l.o_orderkey
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, cents
  FROM latest WHERE op <> 'D'
)
SELECT o_orderstatus, o_orderkey % 25 AS bucket,
       COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
FROM merged
GROUP BY o_orderstatus, o_orderkey % 25
"""


# ---------------------------------------------------------------------------
# N-gram LM quality scoring (CCNet-style perplexity filter), bit-exact.
# ---------------------------------------------------------------------------


@register(
    "bigram_lm_scores",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
), counts AS (
  SELECT w1, w2, COUNT(*) AS cbg FROM bg GROUP BY w1, w2
), prefix AS (
  SELECT w1, CAST(SUM(cbg) AS BIGINT) AS cp FROM counts GROUP BY w1
), scored AS (
  SELECT b.doc_id, COALESCE((1000000 * c.cbg) // p.cp, 0) AS ppm
  FROM bg b
  LEFT JOIN counts c ON b.w1 = c.w1 AND b.w2 = c.w2
  LEFT JOIN prefix p ON b.w1 = p.w1
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(ppm) AS BIGINT) AS sum_ppm,
       CAST(SUM(ppm) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_ppm
FROM scored GROUP BY doc_id
""",
)
def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a bigram LM on the corpus (two partial-agg hash
    aggregates) and score every document by joining its bigrams back to
    the count tables (operators/lm.py) — the CCNet-style LM quality
    filter with the model kept as DATA so web-scale bigram tables join
    instead of broadcasting. Scores are integer-ppm conditional
    probabilities, so the oracle compare is bit-exact (no float
    summation anywhere)."""
    from asritha_metamorphetl_spark.operators.lm import (
        doc_bigrams,
        score_documents,
        train_bigram_counts,
    )

    docs = Catalog(sf_dir).load(spark, "documents")
    bigrams = doc_bigrams(docs)
    bg_counts, prefix_counts = train_bigram_counts(bigrams)
    return score_documents(bigrams, bg_counts, prefix_counts)


# ---------------------------------------------------------------------------
# Snapshot-manifest tables: atomic publish + time travel + change feed,
# driver-checked end to end (sources/manifest.py).
# ---------------------------------------------------------------------------


@register(
    "snapshot_time_travel",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT 'v1' AS src, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM base WHERE o_orderkey % 2 = 0
GROUP BY o_orderstatus
UNION ALL
SELECT 'delta', o_orderstatus, COUNT(*),
       CAST(SUM(cents) AS BIGINT)
FROM base WHERE o_orderkey % 2 = 1
GROUP BY o_orderstatus
""",
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two commits into a manifest table, then (a) time-travel back to
    version 1 and (b) consume the v1→v2 change feed — each aggregated
    and tagged. The oracle recomputes both slices from the source, so a
    torn read (files leaking across versions) or a change feed that
    re-delivers history breaks the hash. This is the atomic-publish
    story the reference's dated directories approximate, made a
    correctness-gated capability (sources/manifest.py)."""
    import os
    import shutil

    from asritha_metamorphetl_spark.sources.manifest import SnapshotTable

    base = Catalog(sf_dir).load(spark, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = scratch_dir(spark, "snapshot_tbl", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    t = SnapshotTable(spark, root)
    t.commit(base.filter(F.col("o_orderkey") % 2 == 0))
    t.commit(base.filter(F.col("o_orderkey") % 2 == 1))

    def profile(df: DataFrame, src: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("total_cents"),
        ).select(F.lit(src).alias("src"), "o_orderstatus", "n", "total_cents")

    return profile(t.read(version=1), "v1").unionByName(
        profile(t.changes(since=1), "delta")
    )


_CDC_RESUMABLE_ORACLE = """
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
SELECT o_orderkey % 40 AS bucket, COUNT(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(SUM(seq) AS BIGINT) AS seq_sum
FROM latest WHERE op <> 'D'
GROUP BY o_orderkey % 40
"""


def _orders_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five-branch synthetic orders changelog shared by the CDC
    queries (competing updates, a delete outranking an earlier update,
    brand-new keys). Mirrors the ``changelog`` CTE in
    ``_CDC_RESUMABLE_ORACLE`` exactly."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = Catalog(sf_dir).load(spark, "orders").select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    k = F.col("o_orderkey")

    def branch(pred, key, cust, cents_expr, op, seq):
        return base.filter(pred).select(
            key.alias("o_orderkey"),
            cust.cast("long").alias("o_custkey"),
            cents_expr.cast("long").alias("cents"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("int").alias("seq"),
        )

    null = F.lit(None)
    return (
        branch(k % 5 == 1, k, F.col("o_custkey"), F.col("cents") + 500, "U", 10)
        .unionByName(branch(k % 10 == 1, k, F.col("o_custkey"),
                            F.col("cents") - 900, "U", 20))
        .unionByName(branch(k % 5 == 2, k, null, null, "D", 15))
        .unionByName(branch(k % 5 == 2, k, F.col("o_custkey"),
                            F.col("cents") * 3, "I", 5))
        .unionByName(branch(k % 5 == 3, k + 500000, F.col("o_custkey"),
                            F.col("cents"), "I", 1))
    )


def _seq_band_batches(changelog: DataFrame) -> list[DataFrame]:
    """Three batches split by sequence band, ordered OUT OF sequence
    (middle, newest, oldest) — the fold order the order-independent
    merge must shrug off."""
    return [
        changelog.filter(F.col("seq").between(10, 15)),  # middle first
        changelog.filter(F.col("seq") == 20),            # newest second
        changelog.filter(F.col("seq") < 10),             # oldest last
    ]


@register("cdc_resumable_state", oracle=_CDC_RESUMABLE_ORACLE)
def cdc_resumable_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORDER-INDEPENDENT CDC path (cdc_merge_batch): the changelog
    is split into three batches by sequence band and deliberately folded
    OUT OF ORDER (middle, newest, oldest) into the tombstone-retaining
    state; the oracle computes plain last-writer-wins over the union.
    Equality proves what the streaming upsert sink
    (streaming/windows.cdc_upsert_stream) relies on: batch order and
    replays don't matter, and a delete outranks any older update even
    when the older update arrives last. seq_sum pins that the WINNING
    RECORDS (not just payloads) survive the scrambled fold."""
    from asritha_metamorphetl_spark.operators.cdc import (
        cdc_live,
        cdc_merge_batch,
    )

    batches = _seq_band_batches(_orders_changelog(spark, sf_dir))
    state = None
    for b in batches:
        state = cdc_merge_batch(state, b, keys=["o_orderkey"])
    return cdc_live(state).groupBy(
        (F.col("o_orderkey") % 40).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
        F.sum("seq").alias("seq_sum"),
    )


_CDC_LATEST_CTE = """
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
"""


def _bucketed_cdc_fixture(spark: SparkSession, sf_dir: str):
    """ONE bucketed-CDC state build shared by ``cdc_bucketed_state``
    and ``cdc_bucketed_changefeed`` (round 13): both queries fold the
    IDENTICAL three sequence-band changelog batches into a 16-bucket
    table via ``merge_delta`` — deterministic data-work, so each used
    to pay its own full 3-commit build per session for byte-equivalent
    state. Both consumers are read-only (final state / time-travel +
    change feed over the recorded versions), which is exactly the
    ``cached_fixture`` contract; the fold sequence, bucket layout, and
    version chain are unchanged, and each query's oracle (plain
    last-writer-wins over the raw changelog) still certifies its own
    read path."""
    import os

    from asritha_metamorphetl_spark.session import cached_fixture
    from asritha_metamorphetl_spark.sources.bucketed import BucketedCdcTable

    def build(root: str) -> None:
        t = BucketedCdcTable(
            spark, os.path.join(root, "tbl"), keys=["o_orderkey"], n_buckets=16
        )
        for b in _seq_band_batches(_orders_changelog(spark, sf_dir)):
            t.merge_delta(b)

    root = cached_fixture(spark, "cdc_bucketed_tbl", sf_dir, build)
    return BucketedCdcTable(
        spark, os.path.join(root, "tbl"), keys=["o_orderkey"], n_buckets=16
    )


@register(
    "cdc_bucketed_state",
    oracle=_CDC_LATEST_CTE
    + """
SELECT o_orderkey % 32 AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tombstones,
       CAST(SUM(CASE WHEN op <> 'D' THEN cents ELSE 0 END) AS BIGINT)
         AS live_cents,
       CAST(SUM(seq) AS BIGINT) AS seq_sum
FROM latest
GROUP BY o_orderkey % 32
""",
)
def cdc_bucketed_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold the out-of-order changelog batches through a
    :class:`~asritha_metamorphetl_spark.sources.bucketed.BucketedCdcTable`
    — the O(delta) streaming-state layout that rewrites only
    delta-touched hash buckets per commit — and profile the FULL final
    state (tombstones included). The oracle is the plain last-writer-
    wins merge over the whole changelog, so a hash match proves
    bucketed-merge state ≡ full-merge state: bucketing is physical
    layout, never semantics. The untouched-bucket carry-forward (same
    directory, same files, not rewritten) is pinned separately by
    tests/test_bucketed.py."""
    state = _bucketed_cdc_fixture(spark, sf_dir).read()
    d = F.col("op") == "D"
    return state.groupBy((F.col("o_orderkey") % 32).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(d, 1).otherwise(0)).alias("n_tombstones"),
        F.sum(F.when(~d, F.col("cents")).otherwise(0)).alias("live_cents"),
        F.sum("seq").alias("seq_sum"),
    )


@register(
    "cdc_bucketed_changefeed",
    oracle=_CDC_LATEST_CTE
    + """
SELECT o_orderkey % 24 AS bucket,
       COUNT(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       MAX(seq) AS max_seq
FROM latest WHERE op <> 'D'
GROUP BY o_orderkey % 24
""",
)
def cdc_bucketed_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-consumption loop end-to-end: changelog batches →
    bucketed upsert sink (three commits) → a REPLICA that read version
    1 catches up by folding ``changes(v1, v3)`` — the bucket-granular
    change feed of only rewritten buckets — through the same
    order-independent merge. The result profiled here is the replica's
    LIVE state; the oracle recomputes last-writer-wins over the raw
    changelog, so equality proves the feed re-delivers enough (every
    rewritten bucket) and nothing stale survives (stale records lose
    the merge). Feed volume is O(changed buckets), never O(state) —
    this is what lets a downstream consumer track a 100 TB state table
    without rescanning it."""
    from asritha_metamorphetl_spark.operators.cdc import (
        cdc_live,
        cdc_merge_batch,
    )

    t = _bucketed_cdc_fixture(spark, sf_dir)
    versions = t.versions()
    replica = t.read(version=versions[0])
    feed = t.changes(since=versions[0], until=versions[-1])
    caught_up = cdc_merge_batch(replica, feed, keys=["o_orderkey"])
    return cdc_live(caught_up).groupBy(
        (F.col("o_orderkey") % 24).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
        F.max("seq").alias("max_seq"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregation maintenance: three deltas folded into a state
# table must equal the full recompute — the O(delta) rollup pattern.
# ---------------------------------------------------------------------------


@register(
    "incremental_revenue_state",
    oracle="""
WITH base AS (
  SELECT o_orderpriority, o_custkey % 20 AS cust_bucket,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderpriority, cust_bucket,
       COUNT(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS total,
       MIN(cents) AS vmin,
       MAX(cents) AS vmax,
       CAST(SUM(cents) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_value
FROM base
GROUP BY o_orderpriority, cust_bucket
""",
)
def incremental_revenue_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build per-(priority, customer-bucket) aggregate state from three
    disjoint order deltas and fold them together with
    ``operators.incremental.merge_agg_states`` — proving
    ``merge(state(d1), state(d2), state(d3)) == state(full)`` against a
    full-recompute oracle. This is the O(delta + state) daily-rollup
    maintenance pattern: at 100 TB the increment reads one day, never
    the history. Money is integer cents, so every merge order yields
    identical bits."""
    from asritha_metamorphetl_spark.operators.incremental import (
        agg_state,
        finalize_state,
        merge_agg_states,
    )

    base = Catalog(sf_dir).load(spark, "orders").select(
        "o_orderpriority",
        (F.col("o_custkey") % 20).alias("cust_bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    deltas = [base.filter(F.col("cents") % 3 == i) for i in range(3)]
    states = [
        agg_state(d, ["o_orderpriority", "cust_bucket"], "cents")
        for d in deltas
    ]
    merged = merge_agg_states(*states)
    return finalize_state(merged)


# ---------------------------------------------------------------------------
# Z-order (Morton) layout: the multi-column pruning story, made checkable.
# The oracle runs the IDENTICAL interleave expression generated as SQL.
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from asritha_metamorphetl_spark.functions.numeric import morton_key_sql

    z = morton_key_sql("xb", "yb", bits=8)
    return f"""
WITH base AS (
  SELECT o_custkey % 256 AS xb,
         LEAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) // 10000, 255) AS yb
  FROM orders
)
SELECT ({z} >> 6) AS zbucket,
       COUNT(*) AS n,
       MIN(xb) AS min_x, MAX(xb) AS max_x,
       MIN(yb) AS min_y, MAX(yb) AS max_y
FROM base
GROUP BY ({z} >> 6)
"""


@register("zorder_layout_profile", oracle=_zorder_oracle())
def zorder_layout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-code the orders along (customer band, price band) and
    profile each 64-code z-range: every bucket's (min,max) box in BOTH
    dimensions stays small, which is exactly why a z-clustered file
    layout lets parquet footer stats skip files for predicates on EITHER
    column (``functions.numeric.morton_key`` + ``files.write_clustered``;
    per-file box shrinkage is pinned by tests/test_layout.py). Pure JVM
    bit arithmetic — one codegen'd projection plus one hash aggregate.
    Unlike the layout test, the ORACLE here verifies the interleave
    itself: DuckDB runs the identical generated bit expression."""
    from asritha_metamorphetl_spark.functions.numeric import morton_key

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = Catalog(sf_dir).load(spark, "orders").select(
        (F.col("o_custkey") % 256).alias("xb"),
        F.least(F.floor(cents / 10000), F.lit(255)).cast("long").alias("yb"),
    )
    z = morton_key(F.col("xb"), F.col("yb"), bits=8)
    return (
        base.withColumn("zbucket", F.shiftright(z, 6))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("xb").alias("min_x"),
            F.max("xb").alias("max_x"),
            F.min("yb").alias("min_y"),
            F.max("yb").alias("max_y"),
        )
    )


@register("cdc_orders_snapshot", oracle=_CDC_ORACLE)
def cdc_orders_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a five-branch synthetic changelog (two competing updates, a
    delete that outranks an earlier update, and brand-new inserted keys)
    to the orders snapshot via ``operators.cdc.cdc_apply`` — last writer
    wins per key, winning deletes vanish, untouched rows pass through.

    Scale shape: the changelog collapses to one winner per key with a
    map-side-combinable ``max_by`` aggregate (one shuffle), then the base
    anti-joins the winning keys (AQE broadcasts when the day's delta is
    small — the typical CDC regime) and unions the surviving row images.
    The profile aggregate exists only to keep the driver compare compact;
    the merge itself is full-row."""
    from asritha_metamorphetl_spark.operators.cdc import cdc_apply

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = (
        Catalog(sf_dir)
        .load(spark, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            cents.alias("cents"),
        )
    )
    k = F.col("o_orderkey")

    def branch(pred, key, cust, status, cents_expr, op, seq):
        return base.filter(pred).select(
            key.alias("o_orderkey"),
            cust.cast("long").alias("o_custkey"),
            status.cast("string").alias("o_orderstatus"),
            cents_expr.cast("long").alias("cents"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("int").alias("seq"),
        )

    null = F.lit(None)
    changelog = (
        branch(k % 7 == 1, k, F.col("o_custkey"), F.lit("X1"),
               F.col("cents") + 500, "U", 10)
        .unionByName(branch(k % 14 == 1, k, F.col("o_custkey"), F.lit("X2"),
                            F.col("cents") - 700, "U", 20))
        .unionByName(branch(k % 7 == 2, k, null, null, null, "D", 15))
        .unionByName(branch(k % 7 == 2, k, F.col("o_custkey"), F.lit("X0"),
                            F.col("cents"), "U", 5))
        .unionByName(branch(k % 7 == 3, k + 100000, F.col("o_custkey"),
                            F.lit("N"), F.col("cents") * 2, "I", 1))
    )

    snapshot = cdc_apply(base, changelog, keys=["o_orderkey"])
    return snapshot.groupBy(
        "o_orderstatus", (F.col("o_orderkey") % 25).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum("o_custkey").alias("cust_sum"),
    )


# ---------------------------------------------------------------------------
# Zone-map data skipping: manifest-level file pruning by per-file min/max
# statistics (sources/manifest.py read_skipping) — the Delta/Iceberg
# data-skipping core. The layout is deterministic (one commit per order
# year, each repartitioned to exactly ZONEMAP_FILES_PER_COMMIT files), so
# the pruning evidence the result carries — files_total / files_read —
# is a fixed pair of literals the oracle states outright: a scan that
# fails to skip the six non-matching years breaks the hash, not just a
# perf expectation.
# ---------------------------------------------------------------------------

#: One commit per order year of THIS fixture's date range (the driver
#: testdata shifts TPC-H dates to 1995-01-01..2001-08-01 — pinned by
#: test_registry_oracle); files per commit pinned by an explicit hash
#: repartition (coalesce would inherit the scan's partitioning — one
#: tiny file at small SFs — and make the file counts SF-dependent).
ZONEMAP_YEARS = (1995, 1996, 1997, 1998, 1999, 2000, 2001)
ZONEMAP_FILES_PER_COMMIT = 2


@register(
    "zonemap_pruned_scan",
    oracle=f"""
SELECT CAST(month(o_orderdate) AS INT) AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       {len(ZONEMAP_YEARS) * ZONEMAP_FILES_PER_COMMIT} AS files_total,
       {ZONEMAP_FILES_PER_COMMIT} AS files_read
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY month(o_orderdate)
""",
)
def zonemap_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly 1996 revenue off a zone-mapped snapshot table: seven
    year-sliced commits with per-file o_orderdate min/max recorded in
    the manifest, then a read that prunes every file whose zone misses
    the predicate BEFORE Spark lists or schedules it. The aggregate must
    equal the full-table oracle (skipping is an optimization, never a
    filter) AND the carried file counts must equal the oracle's
    literals — 2 of 14 files read — so losing the pruning (or the
    stats) is a hash mismatch. At 100 TB the skipping decision is
    O(files) driver-side metadata against a manifest; the six excluded
    years' files cost zero tasks."""
    import datetime as dt
    import shutil

    from asritha_metamorphetl_spark.sources.manifest import SnapshotTable

    orders = Catalog(sf_dir).load(spark, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    from asritha_metamorphetl_spark.session import cached_fixture

    def build(root: str) -> None:
        # commit_many overlaps the seven INDEPENDENT year writes on a
        # small pool while publishing manifests strictly in order —
        # manifest chain and per-file stats identical to 7 sequential
        # commit() calls (equivalence pinned in test_manifest.py),
        # only the build wall-clock changes (guide §2.6).
        SnapshotTable(spark, root).commit_many(
            [
                orders.filter(F.year("o_orderdate") == y).repartition(
                    ZONEMAP_FILES_PER_COMMIT, "o_orderkey"
                )
                for y in ZONEMAP_YEARS
            ],
            stats_cols=["o_orderdate"],
        )

    # read-only consumer of a deterministic layout: built once/session
    t = SnapshotTable(
        spark, cached_fixture(spark, "zonemap_tbl", sf_dir, build)
    )
    pruned, report = t.read_skipping(
        [("o_orderdate", dt.datetime(1996, 1, 1), dt.datetime(1996, 12, 31))]
    )
    return (
        pruned.groupBy(F.month("o_orderdate").cast("int").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .withColumn("files_total", F.lit(report["files_total"]))
        .withColumn("files_read", F.lit(report["files_read"]))
    )


# ---------------------------------------------------------------------------
# Clustering × zone maps: the skipping payoff of a clustered layout,
# measured as a driver-checked literal. The SAME rows committed two
# ways — half-year range-clustered (one file per period) vs hashed on
# the key (every file spans the full date range) — then read through
# the identical zone-mapped path with the identical predicate. The
# clustered layout prunes 12 of 14 files; the scattered one can prune
# NOTHING (every zone overlaps every date predicate), which is the
# entire reason Z-order/range clustering exists at 100 TB: zone maps
# are only as good as the physical layout is correlated with the
# predicate columns. Both layouts must produce the identical aggregate
# (skipping is never a filter) and both file counts are oracle literals.
# ---------------------------------------------------------------------------

#: Half-year slices of the fixture's 1995-01-01..2001-08-01 order range
#: (all 14 nonempty at every shipped SF — verified 0.001/0.01/0.1).
CLUSTER_GAIN_PERIODS = 14
#: Periods overlapping the 1996 predicate (1996H1, 1996H2).
CLUSTER_GAIN_HIT_FILES = 2


@register(
    "clustered_skipping_gain",
    oracle=f"""
WITH agg AS (
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                          AND TIMESTAMP '1996-12-31'
)
SELECT 'clustered' AS layout,
       {CLUSTER_GAIN_PERIODS} AS files_total,
       {CLUSTER_GAIN_HIT_FILES} AS files_read,
       n_orders, revenue_cents
FROM agg
UNION ALL
SELECT 'scattered', {CLUSTER_GAIN_PERIODS}, {CLUSTER_GAIN_PERIODS},
       n_orders, revenue_cents
FROM agg
""",
)
def clustered_skipping_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same data, two layouts, one zone-mapped read path: half-year
    range-clustered commits (each period's rows contiguous in exactly
    one file, so every file's o_orderdate zone is tight) versus a
    single commit hash-partitioned on o_orderkey (every file's zone
    spans the whole seven years). The 1996 predicate then reads 2 of 14
    clustered files and all 14 scattered ones — both counts pinned as
    oracle literals, both aggregates required identical. The layout is
    fully deterministic: period membership is an exact date expression
    and each clustered commit repartitions to exactly one file (hash
    layout to exactly {CLUSTER_GAIN_PERIODS}), so the file counts never
    depend on scan parallelism or SF."""
    import datetime as dt
    import shutil

    from asritha_metamorphetl_spark.sources.manifest import SnapshotTable

    orders = Catalog(sf_dir).load(spark, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    halfyear = (F.year("o_orderdate") - F.lit(1995)) * 2 + (
        F.month("o_orderdate") >= 7
    ).cast("int")
    from asritha_metamorphetl_spark.session import cached_fixture, overlap

    def build(root: str) -> None:
        # The 14 per-period commits and the scattered layout are
        # independent jobs over disjoint slices; commit_many overlaps
        # the writes + stats scans (guide §2.6) while publishing the
        # same sequential manifest chain the old per-period commit()
        # loop produced, and the scattered table builds concurrently
        # on its own thread.
        clus = SnapshotTable(spark, f"{root}/clustered")
        scat = SnapshotTable(spark, f"{root}/scattered")
        overlap(
            spark,
            lambda: clus.commit_many(
                [
                    orders.filter(halfyear == p).repartition(1)
                    for p in range(CLUSTER_GAIN_PERIODS)
                ],
                stats_cols=["o_orderdate"],
            ),
            lambda: scat.commit(
                orders.repartition(CLUSTER_GAIN_PERIODS, "o_orderkey"),
                stats_cols=["o_orderdate"],
            ),
            workers=2,
        )

    # both layouts are read-only after the build: one build per session
    root = cached_fixture(spark, "cluster_gain", sf_dir, build)
    clustered = SnapshotTable(spark, f"{root}/clustered")
    scattered = SnapshotTable(spark, f"{root}/scattered")
    bounds = [
        ("o_orderdate", dt.datetime(1996, 1, 1), dt.datetime(1996, 12, 31))
    ]
    parts = []
    for layout, table in (("clustered", clustered), ("scattered", scattered)):
        df, rep = table.read_skipping(bounds)
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("revenue_cents"),
            )
            .withColumn("layout", F.lit(layout))
            .withColumn("files_total", F.lit(rep["files_total"]))
            .withColumn("files_read", F.lit(rep["files_read"]))
            .select(
                "layout", "files_total", "files_read", "n_orders",
                "revenue_cents",
            )
        )
    return parts[0].unionByName(parts[1])


# ---------------------------------------------------------------------------
# Declarative MERGE INTO (operators/merge.py): Delta-style conditional
# upsert in one equi-join pass. The query exercises every clause kind in
# one statement — conditional DELETE, conditional UPDATE with a
# fall-through (matched rows failing both conditions stay unchanged),
# conditional INSERT that rejects part of the delta — and the oracle
# replays the full clause algebra as a FULL OUTER JOIN + first-match
# CASE, so clause ordering, fall-through, and the reject path are all
# under the hash.
# ---------------------------------------------------------------------------


@register(
    "merge_into_orders",
    oracle="""
WITH t AS (
    SELECT o_orderkey AS k,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           o_orderstatus AS st
    FROM orders WHERE o_orderkey % 4 <> 0
),
s AS (
    SELECT o_orderkey AS k,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) + 500 AS cents,
           o_orderstatus AS st
    FROM orders WHERE o_orderkey % 2 = 0
),
m AS (
    SELECT CASE
             WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN
               CASE WHEN t.st = 'F' THEN 'delete'
                    WHEN s.cents % 2 = 0 THEN 'update'
                    ELSE 'keep' END
             WHEN t.k IS NOT NULL THEN 'keep'
             ELSE CASE WHEN s.st <> 'F' THEN 'insert' ELSE 'drop' END
           END AS act,
           t.cents AS t_cents, t.st AS t_st,
           s.cents AS s_cents, s.st AS s_st
    FROM t FULL OUTER JOIN s ON t.k = s.k
)
SELECT CASE WHEN act = 'insert' THEN s_st ELSE t_st END AS o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN act IN ('update', 'insert') THEN s_cents
                     ELSE t_cents END) AS BIGINT) AS total_cents
FROM m
WHERE act IN ('keep', 'update', 'insert')
GROUP BY 1
""",
)
def merge_into_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a deterministic delta (even order keys, repriced +500
    cents) into a deterministic base (keys not divisible by 4):
    matched-and-fulfilled rows DELETE, matched rows with an even new
    price UPDATE, the rest of the matched rows fall through unchanged,
    and unmatched delta rows INSERT unless fulfilled. One full-outer
    equi-join moves the base exactly once (AQE broadcasts the delta
    when it fits); the source-ambiguity guard is a delta-side window
    riding the same plan. The per-status rollup puts every clause path
    under the oracle hash."""
    from asritha_metamorphetl_spark.operators.merge import (
        WhenMatched,
        WhenNotMatched,
        merge_into,
    )

    orders = Catalog(sf_dir).load(spark, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", cents.alias("cents"), "o_orderstatus"
    )
    delta = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", (cents + 500).alias("cents"), "o_orderstatus"
    )
    merged = merge_into(
        base,
        delta,
        ["o_orderkey"],
        matched=[
            WhenMatched(
                "delete", lambda t, s: t("o_orderstatus") == "F"
            ),
            WhenMatched(
                "update",
                lambda t, s: s("cents") % 2 == 0,
                {"cents": lambda t, s: s("cents")},
            ),
        ],
        not_matched=[
            WhenNotMatched(lambda t, s: s("o_orderstatus") != "F")
        ],
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("total_cents"),
    )


@register(
    "skipgram_cooccurrence",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sg AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, 1 AS dist
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  UNION ALL
  SELECT t[i] AS w1, t[i + 2] AS w2, 2 AS dist
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
)
SELECT w1, w2, dist, COUNT(*) AS n_pairs
FROM sg
GROUP BY w1, w2, dist
HAVING COUNT(*) >= 5
""",
)
def skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus co-occurrence statistics for embedding training
    (word2vec/GloVe input): every (w1, w2) token pair at distance 1
    and 2 within a document, counted corpus-wide, thresholded at 5.
    Pair generation is a JVM higher-order function riding the scan
    stage (operators/lm.doc_skipgrams) — the 100 TB plan is one corpus
    scan plus ONE hash aggregate whose map-side combine collapses
    frequent pairs before the shuffle; no join, no window, no Python."""
    from asritha_metamorphetl_spark.operators.lm import (
        cooccurrence_counts,
        doc_skipgrams,
    )

    docs = Catalog(sf_dir).load(spark, "documents")
    return cooccurrence_counts(doc_skipgrams(docs, window=2), min_count=5)


@register(
    "skipgram_pmi",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sg AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  UNION ALL
  SELECT t[i] AS w1, t[i + 2] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
), counts AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM sg GROUP BY w1, w2
), r AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM counts GROUP BY w1
), c AS (
  SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM counts GROUP BY w2
), t AS (
  SELECT CAST(SUM(c12) AS BIGINT) AS t FROM counts
)
SELECT counts.w1, counts.w2, c12,
       ROUND(LN(CAST(c12 AS DOUBLE) * t.t / (r.c1 * c.c2)), 6) AS pmi
FROM counts
JOIN r ON counts.w1 = r.w1
JOIN c ON counts.w2 = c.w2
CROSS JOIN t
WHERE c12 >= 5
""",
)
def skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over the distance-≤2 co-occurrence
    table (operators/lm.pmi_scores) — the association statistic GloVe
    factorizes and feature selectors rank by. The raw corpus is scanned
    ONCE (the skip-gram HOF); marginals and the total derive from the
    aggregated pair counts, so everything after the first aggregate is
    O(vocabulary): two token-key hash joins (AQE-broadcastable) and a
    1-row broadcast total. PMI inputs are exact integers; the rounded
    log replays in SQL."""
    from asritha_metamorphetl_spark.operators.lm import (
        doc_skipgrams,
        pmi_scores,
    )

    docs = Catalog(sf_dir).load(spark, "documents")
    return pmi_scores(doc_skipgrams(docs, window=2), min_count=5)


CMS_DEPTH = 3
CMS_WIDTH = 1024
CMS_SALT = "cms:"
CMS_AUDIT_TOPK = 50


def _cms_cells_sql(tok_expr: str) -> str:
    """SQL twin of the sketch's per-row cell assignment."""
    from asritha_metamorphetl_spark.plans.text_queries import _hex48_sql

    parts = []
    for i in range(CMS_DEPTH):
        md5_expr = f"md5('{CMS_SALT}{i}:' || {tok_expr})"
        parts.append(
            f"SELECT {tok_expr} AS tok, {i} AS row_i, "
            f"{_hex48_sql(md5_expr)} % {CMS_WIDTH} AS cell FROM toks"
        )
    return " UNION ALL ".join(parts)


@register(
    "countmin_estimate_audit",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), cells AS (
  {_cms_cells_sql("tok")}
), sketch AS (
  SELECT row_i, cell, COUNT(*) AS n FROM cells GROUP BY row_i, cell
), exact AS (
  SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok
), top AS (
  SELECT tok, exact_n FROM exact
  ORDER BY exact_n DESC, tok LIMIT {CMS_AUDIT_TOPK}
), qcells AS (
  SELECT DISTINCT c.tok, c.row_i, c.cell
  FROM cells c JOIN top ON c.tok = top.tok
), est AS (
  SELECT q.tok, MIN(s.n) AS cms_n
  FROM qcells q JOIN sketch s ON q.row_i = s.row_i AND q.cell = s.cell
  GROUP BY q.tok
)
SELECT top.tok, exact_n, cms_n,
       cms_n >= exact_n AS overestimate_ok,
       CAST(cms_n - exact_n AS BIGINT) AS abs_err
FROM top JOIN est ON top.tok = est.tok
""",
)
def countmin_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch accuracy audit, the sketch twin of
    approx_distinct_audit: build a depth-3 x 1024 CMS of the corpus
    token stream (operators/frequent.countmin_sketch — ONE
    map-side-combining aggregate whose shuffle is bounded by
    depth*width per task, never the vocabulary), then point-query it
    for the exact top-50 tokens and put the estimate, the guaranteed
    overestimate property, and the absolute error under the oracle
    hash. Salted content hashes make the 'random' hash functions
    engine-reproducible. Where heavy_hitters answers 'which items are
    frequent' exactly, the sketch answers point queries about ANY item
    from O(depth*width) state."""
    from asritha_metamorphetl_spark.operators.frequent import (
        countmin_estimate,
        countmin_sketch,
    )

    docs = Catalog(sf_dir).load(spark, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    # ONE tokenization + count shuffle feeds both halves (round 13):
    # the sketch is built over the DISTINCT-token count frame with
    # per-key weights — identical cells (a token's occurrences all
    # hash to the same depth cells) with O(vocabulary) md5 work
    # instead of depth digests per raw token, and the exact top-50
    # reads the same checkpointed frame instead of re-tokenizing the
    # corpus.
    tc = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint(eager=False)
    )
    sketch = countmin_sketch(
        tc,
        "tok",
        depth=CMS_DEPTH,
        width=CMS_WIDTH,
        salt=CMS_SALT,
        weight="exact_n",
    )
    top = tc.orderBy(F.col("exact_n").desc(), F.col("tok")).limit(
        CMS_AUDIT_TOPK
    )
    est = countmin_estimate(
        top.select("tok"),
        sketch,
        "tok",
        depth=CMS_DEPTH,
        width=CMS_WIDTH,
        salt=CMS_SALT,
    )
    return top.join(est, "tok").select(
        "tok",
        "exact_n",
        "cms_n",
        (F.col("cms_n") >= F.col("exact_n")).alias("overestimate_ok"),
        (F.col("cms_n") - F.col("exact_n"))
        .cast("bigint")
        .alias("abs_err"),
    )


@register(
    "incremental_join_view",
    oracle="""
SELECT o.o_orderkey, l.l_linenumber, o.o_custkey, l.l_quantity
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
""",
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view: orders and lineitem are
    each split into an already-materialized OLD part and an arriving
    DELTA (independent hash splits, so delta orders have old lines and
    vice versa — all three delta-join terms are non-empty), the view
    delta is computed with ``operators/incremental.join_view_delta``
    (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, each term a BroadcastHashJoin of the small
    delta against a base-table scan — the base sides never shuffle),
    and ``V_old ∪ ΔV`` is proved row-identical to the full recompute.
    The oracle is deliberately split-agnostic: the full join. At 100 TB
    the old⋈old term is the stored view (never recomputed); each
    refresh costs one pass over the deltas plus delta-pruned base
    scans, not |A ⋈ B|."""
    from asritha_metamorphetl_spark.operators.incremental import (
        join_view_delta,
    )

    cat = Catalog(sf_dir)
    orders = cat.load(spark, "orders").select("o_orderkey", "o_custkey")
    li = cat.load(spark, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity"
    )
    # integer-modulo splits (independent mixes per side): the oracle is
    # split-agnostic, so the split only needs determinism — md5 buckets
    # here would re-hash every row on every one of the four consumers
    a_split = F.col("o_orderkey") % 10
    b_split = (F.col("o_orderkey") * 31 + F.col("l_linenumber")) % 10
    a_old, a_delta = orders.filter(a_split <= 7), orders.filter(a_split >= 8)
    b_old, b_delta = li.filter(b_split <= 7), li.filter(b_split >= 8)

    view_old = a_old.join(b_old, "o_orderkey")
    delta = join_view_delta(a_old, a_delta, b_old, b_delta, ["o_orderkey"])
    return view_old.unionByName(delta).select(
        "o_orderkey", "l_linenumber", "o_custkey", "l_quantity"
    )


# ---------------------------------------------------------------------------
# Merge-on-read positional deletes (sources/mor.py): the Iceberg-v2
# delete-file read path + targeted compaction, oracle-replayed
# ---------------------------------------------------------------------------

#: MoR layout knobs, shared verbatim with the SQL oracles: file id is a
#: plain modulo so DuckDB replays the physical assignment.
MOR_NFILES = 8
MOR_COMPACT_RATIO = 0.1

#: Delete predicates (deliberately FILE-SKEWED so compaction has both
#: hot files to rewrite and cold files to leave pending):
#: d1 hits every file (~urgent finished orders); d2 hits only files 0-2.
_MOR_D1 = "o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'"
_MOR_D2 = f"o_orderkey % {MOR_NFILES} < 3 AND o_orderpriority = '5-LOW'"
_MOR_DELETED = f"(({_MOR_D1}) OR ({_MOR_D2}))"


def _mor_table(spark: SparkSession, sf_dir: str, label: str | None = None):
    """The shared PRISTINE MoR fixture, built once per session
    (``cached_fixture``): orders as base (integer cents), delete commit
    d1, delete commit d2, then d1 AGAIN — the idempotent re-delete an
    at-least-once upstream produces. Returns the table.

    Read-only consumers (``mor_delete_scan``) use it in place; mutating
    consumers pass ``label`` to get a private working copy
    (``fixture_working_copy``) so compaction never dirties the cache."""
    from asritha_metamorphetl_spark.session import (
        cached_fixture,
        fixture_working_copy,
    )
    from asritha_metamorphetl_spark.sources.mor import MergeOnReadTable

    def build(root: str) -> None:
        orders = Catalog(sf_dir).load(spark, "orders")
        base = orders.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        t = MergeOnReadTable(spark, root, "o_orderkey", n_files=MOR_NFILES)
        t.write_base(base)
        t.delete_keys(orders.filter(_MOR_D1).select("o_orderkey"))
        t.delete_keys(orders.filter(_MOR_D2).select("o_orderkey"))
        t.delete_keys(orders.filter(_MOR_D1).select("o_orderkey"))  # re-send

    pristine = cached_fixture(spark, "mor_fixture", sf_dir, build)
    root = (
        pristine
        if label is None
        else fixture_working_copy(spark, label, sf_dir, pristine)
    )
    return MergeOnReadTable(spark, root, "o_orderkey", n_files=MOR_NFILES)


@register(
    "mor_delete_scan",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_live,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS live_cents
FROM orders
WHERE NOT {_MOR_DELETED}
GROUP BY o_orderstatus
""",
)
def mor_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read live scan: base parquet MINUS three positional
    delete commits (the third re-delivers the first — at-least-once
    idempotence) via ONE broadcast anti-join on (file, pos); the base
    is never rewritten and never shuffles. The oracle computes the
    surviving rows straight from the delete predicates, so a hash match
    proves position resolution, delete accumulation, and dedup of
    re-deliveries all compose to exact delete semantics."""
    t = _mor_table(spark, sf_dir)  # read-only: shared pristine fixture
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum("cents").alias("live_cents"),
    )


@register(
    "mor_shuffled_delete_scan",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_live,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS live_cents
FROM orders
WHERE NOT {_MOR_DELETED}
GROUP BY o_orderstatus
""",
)
def mor_shuffled_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-delete-set read path: the same live scan as
    ``mor_delete_scan`` but with ``broadcast_threshold_bytes=0``, so
    the anti-join runs WITHOUT the broadcast hint — the shape that
    survives when the pending delete set is billions of (file, pos)
    pairs and a forced broadcast would OOM the driver (the round-7
    scale finding). Answers must be identical through either join
    strategy; this row pins the shuffled shape under the driver's hash
    while ``tests/test_mor.py`` pins the plan switch itself."""
    from asritha_metamorphetl_spark.sources.mor import MergeOnReadTable

    t = _mor_table(spark, sf_dir)  # shared pristine fixture (read-only)
    big = MergeOnReadTable(
        spark, t.root, "o_orderkey", n_files=MOR_NFILES,
        broadcast_threshold_bytes=0,
    )
    return big.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum("cents").alias("live_cents"),
    )


@register(
    "mor_compaction_profile",
    oracle=f"""
WITH assigned AS (
    SELECT o_orderkey % {MOR_NFILES} AS file_id,
           CASE WHEN {_MOR_DELETED} THEN 1 ELSE 0 END AS del
    FROM orders
),
stats AS (
    SELECT file_id,
           COUNT(*) AS n_rows,
           CAST(SUM(del) AS BIGINT) AS n_deleted
    FROM assigned GROUP BY file_id
)
SELECT file_id, n_rows, n_deleted,
       ROUND(CAST(n_deleted AS DOUBLE) / CAST(n_rows AS DOUBLE), 4)
           AS delete_ratio,
       CAST(n_deleted AS DOUBLE) / CAST(n_rows AS DOUBLE)
           >= {MOR_COMPACT_RATIO} AND n_deleted > 0 AS compacted,
       CASE WHEN CAST(n_deleted AS DOUBLE) / CAST(n_rows AS DOUBLE)
                 >= {MOR_COMPACT_RATIO} AND n_deleted > 0
            THEN n_rows - n_deleted ELSE n_rows END AS n_base_post,
       CASE WHEN CAST(n_deleted AS DOUBLE) / CAST(n_rows AS DOUBLE)
                 >= {MOR_COMPACT_RATIO} AND n_deleted > 0
            THEN CAST(0 AS BIGINT) ELSE n_deleted END AS n_pending_post,
       n_rows - n_deleted AS n_live
FROM stats
""",
)
def mor_compaction_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted compaction end-to-end: per-file delete ratios (the
    maintenance trigger), then ``compact`` folds deletes into ONLY the
    files over threshold; cold files keep their base bytes and pending
    delete entries. Every post-compaction column is measured from the
    ACTUAL rewritten table state (base counts re-read from disk,
    pending deletes re-read from the delete dir) while the oracle
    derives what selective copy-on-write MUST leave behind from the
    predicates alone — a rewrite that touched the wrong file, dropped
    the wrong delete rows, or lost live rows breaks the hash. The
    invariant column ``n_live`` pins read-parity across compaction."""
    t = _mor_table(spark, sf_dir, "mor_compact")
    # EAGER checkpoint: compaction rewrites the very files this lazy
    # frame reads — materialize the pre-state before mutating the table.
    pre = (
        t.delete_stats()
        .select(
            F.col("_file").alias("file_id"),
            "n_rows",
            "n_deleted",
            "delete_ratio",
        )
        .localCheckpoint()
    )
    # hand compact the pinned pre-state stats (same table version, no
    # commit in between) so the base+deletes scan behind delete_stats
    # runs once, not twice (r14)
    hot = t.compact(
        min_delete_ratio=MOR_COMPACT_RATIO,
        stats=pre.select(
            F.col("file_id").alias("_file"), "n_deleted", "delete_ratio"
        ),
    )
    # post-state resolves through the committed manifest (round 9:
    # rewritten files live in a new generation dir; data/ keeps the
    # superseded hot dirs for snapshot readers until vacuum)
    _, manifest_post = t._resolve()
    base_post = (
        t._base_frame(manifest_post)
        .groupBy(F.col("_file").alias("file_id"))
        .agg(F.count(F.lit(1)).alias("n_base_post"))
    )
    dels_post = t._delete_rows()
    if dels_post is None:
        pending = base_post.select(
            "file_id", F.lit(0).cast("long").alias("n_pending_post")
        )
    else:
        pending = (
            dels_post.distinct()
            .groupBy(F.col("_file").alias("file_id"))
            .agg(F.count(F.lit(1)).alias("n_pending_post"))
        )
    live_post = (
        t.read()
        .groupBy(F.col("_file").alias("file_id"))
        .agg(F.count(F.lit(1)).alias("n_live"))
    )
    # LEFT joins from pre (the authoritative per-file row set): a file
    # whose rows were ALL deleted leaves the table at compaction, so it
    # has no base_post/live_post group — the oracle still emits its
    # file_id with zero counts, and so must we.
    return (
        pre.withColumn("compacted", F.col("file_id").isin(hot))
        .join(base_post, "file_id", "left")
        .join(pending, "file_id", "left")
        .join(live_post, "file_id", "left")
        .select(
            "file_id",
            "n_rows",
            "n_deleted",
            "delete_ratio",
            "compacted",
            F.coalesce("n_base_post", F.lit(0).cast("long")).alias(
                "n_base_post"
            ),
            F.coalesce("n_pending_post", F.lit(0).cast("long")).alias(
                "n_pending_post"
            ),
            F.coalesce("n_live", F.lit(0).cast("long")).alias("n_live"),
        )
    )
