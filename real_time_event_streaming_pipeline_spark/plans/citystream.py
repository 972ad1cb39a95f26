"""CityStream parity queries (reference query surface, batch form).

The reference's query capability = one Spark streaming job
(consumer/.../SparkDynamoDBConsumer.java) + 7 REST endpoints doing
hand-rolled relational ops over DynamoDB
(api/.../CityStreamApiApplication.java). SURVEY.md §2.7 maps each
endpoint to a declarative query; this module implements all of them as
batch DataFrame plans over the driver `events` table, with the
CityStream domain derived deterministically (FIXTURES.md §A).

Streaming variants of the same plans live in
``real_time_event_streaming_pipeline_spark.streaming`` — per SURVEY.md
§7.0 the batch query is the source of truth and the streaming query is
its incremental view (Structured Streaming SIGMOD'18 model).

Determinism/oracle notes (SURVEY.md §7.3): timestamps are emitted as
formatted strings (DuckDB-comparable, TZ-free), collect_list is sorted
then joined, float aggregates are ROUND()ed, and every LIMIT is
preceded by a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import (
    ALERT_SEVERITIES,
    SEVERITIES,
    MICRO_FMT_SPARK,
    WINDOW_FMT_SPARK,
    city_from_user,
    event_key,
    iso_ts,
    partition_key,
    severity_from_event,
    ttl_from,
)

# ---------------------------------------------------------------------------
# Shared enrichment: driver events -> CityStream event stream
# ---------------------------------------------------------------------------


def enrich_events(ev: DataFrame) -> DataFrame:
    """S2 parse/derive stage (SparkDynamoDBConsumer.java:85-96) on any
    DataFrame with the events schema — batch or streaming: the same
    unresolved plan serves both (SURVEY.md §7.0 decision 1). All
    expressions stay in whole-stage codegen."""
    return (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("city", city_from_user(F.col("user_id")))
        .withColumn("severity", severity_from_event(F.col("event_id")))
        .withColumn("ts_iso", iso_ts(F.col("ts")))
    )


def city_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form: driver events table + CityStream enrichment."""
    return enrich_events(load(spark, sf_dir, "events"))


# DuckDB twin of city_events(); every oracle below starts with this CTE.
CITY_EVENTS_CTE = """
WITH city_events AS (
  SELECT
    event_id, ts, user_id, event_type, value, props,
    (['SF','NYC','LA','Chicago','Seattle','Boston'])[CAST(user_id % 6 AS INT) + 1] AS city,
    (['low','medium','high','critical'])[CAST(event_id % 4 AS INT) + 1] AS severity,
    strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_iso
  FROM events
),
windowed AS (
  SELECT *,
    make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000) AS window_start
  FROM city_events
)
"""


def windowed_agg(enriched: DataFrame, watermark: str | None = None) -> DataFrame:
    """A1: 5-min tumbling window agg (SparkDynamoDBConsumer.java:120-147)
    over an enriched event DataFrame — batch or streaming (pass a
    watermark for the streaming variant: state eviction bound, W1).
    groupBy(window, city, event_type) is a single hash aggregate with
    map-side partial aggregation; the shuffle key is high-cardinality
    and unskewed, so the plan scales linearly with input.

    r14 (guide §2.3 "aggregate before you shuffle"): `severities` was
    array_join(array_sort(collect_list(severity))) — collect_list
    forces ObjectHashAggregate (no whole-stage codegen) and its
    map-side partials ship EVERY severity string through the
    exchange. The enrichment severity domain is CLOSED by
    construction (severity_from_event = SEVERITIES[event_id % 4]), so
    the sorted list is just the four values' runs in alphabetical
    order: aggregate one count per severity (codegen HashAggregate;
    partials are 4 longs per group) and rebuild the identical string
    with array_repeat + concat + array_join. sorted(SEVERITIES) is
    computed, not hand-ordered, so the reconstruction order IS
    array_sort's. Bitwise-identical output (the DuckDB oracle keeps
    list_sort(list(...)) as an independent derivation; streamed ==
    batch pins cover the streaming variant). NOT applied to
    plans/native.py's twin: its severity comes from external records,
    where the closed-domain premise is not provable."""
    if watermark is not None:
        enriched = enriched.withWatermark("ts", watermark)
    sevs = sorted(SEVERITIES)
    # the per-severity counts see only the closed domain: any other
    # value would count in event_count yet vanish from `severities`, so
    # fail the query instead (in-plan, no extra job; NULL is skipped,
    # as collect_list skipped it)
    sev = F.col("severity")
    guarded = F.when(sev.isNull() | sev.isin(*sevs), sev).otherwise(
        F.raise_error(
            F.concat(F.lit(f"windowed_agg: severity outside {sevs}: "), sev)
        )
    )
    return (
        enriched.withColumn("severity", guarded)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "city", "event_type")
        .agg(
            F.count("*").alias("event_count"),
            *[
                F.count(F.when(F.col("severity") == s, F.lit(1))).alias(f"_n_{i}")
                for i, s in enumerate(sevs)
            ],
            F.date_format(F.max("ts"), MICRO_FMT_SPARK).alias("last_updated"),
        )
        .select(
            F.date_format("w.start", WINDOW_FMT_SPARK).alias("window_start"),
            "city",
            "event_type",
            "event_count",
            F.array_join(
                F.concat(
                    *[
                        F.array_repeat(F.lit(s), F.col(f"_n_{i}").cast("int"))
                        for i, s in enumerate(sevs)
                    ]
                ),
                ",",
            ).alias("severities"),
            "last_updated",
            partition_key(F.col("city"), F.col("event_type"), F.col("w.start")).alias(
                "partition_key"
            ),
        )
    )


_WINDOWED_AGG_SQL = (
    CITY_EVENTS_CTE
    + """
SELECT
  strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
  city,
  event_type,
  count(*) AS event_count,
  array_to_string(list_sort(list(severity)), ',') AS severities,
  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_updated,
  city || '#' || event_type || '#' || strftime(window_start, '%Y-%m-%dT%H:%M:%S') AS partition_key
FROM windowed
GROUP BY window_start, city, event_type
"""
)


# ---------------------------------------------------------------------------
# Queries (engine) + oracles (DuckDB)
# ---------------------------------------------------------------------------


def q_raw_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P6 + S2: projection, rename, concat-derived event key, JSON
    prop extraction with an explicit schema (from_json — PERMISSIVE,
    like the reference's parse at SparkDynamoDBConsumer.java:86-88)."""
    ce = city_events(spark, sf_dir)
    return ce.select(
        F.col("event_id"),
        F.col("ts_iso").alias("event_time"),
        "city",
        "event_type",
        "severity",
        F.col("value"),
        F.from_json("props", "k INT")["k"].alias("props_k"),
        event_key(F.col("city"), F.col("event_type"), F.col("ts_iso")).alias("event_key"),
    )


_RAW_EVENTS_SQL = (
    CITY_EVENTS_CTE
    + """
SELECT
  event_id,
  ts_iso AS event_time,
  city,
  event_type,
  severity,
  value,
  CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS props_k,
  city || '-' || event_type || '-' || ts_iso AS event_key
FROM windowed
"""
)


def q_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/W2 flagship: the reference's centerpiece windowed aggregation."""
    return windowed_agg(city_events(spark, sf_dir))


def q_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: IN-list severity filter (SparkDynamoDBConsumer.java:161) —
    the alerts stream. Predicate is pushed into the parquet scan."""
    ce = city_events(spark, sf_dir)
    return ce.filter(F.col("severity").isin(*ALERT_SEVERITIES)).select(
        "event_id", "city", "event_type", "severity", F.col("ts_iso").alias("event_time")
    )


_ALERTS_SQL = (
    CITY_EVENTS_CTE
    + """
SELECT event_id, city, event_type, severity, ts_iso AS event_time
FROM windowed
WHERE severity IN ('high', 'critical')
"""
)


#: interval-join bucket width == the alert horizon (10 min in µs), so
#: a follow-up's bucket is either the alert's bucket or the next one.
_FOLLOWUP_HORIZON_US = 600_000_000


def alert_followup_pairs(enriched: DataFrame, alerts: DataFrame | None = None) -> DataFrame:
    """Interval join: every event in the same city within 10 minutes
    AFTER a high/critical alert — the batch source-of-truth whose
    incremental view is the stream-stream join in streaming/joins.py
    (same semantics and columns; tests pin streamed == this).

    Plan shape: the naive equi-join on city alone is a scale trap —
    city has 6 values (the reference's fixed domain), so every
    candidate pair in a city funnels through one reducer and the range
    predicate runs as an O(|alerts|·|events|) post-join filter per
    city (measured: 98 s at sf0.1). Instead the equi key is
    (city, time-bucket) with bucket width == horizon: each alert
    probes its own bucket and the next (explode to 2 keys), each event
    carries exactly one bucket, so every true pair meets in exactly
    one bucket (no dedup needed) and candidates are bounded by
    rate² · horizon per bucket — uniform, high-cardinality,
    shuffle-parallel. Same bucketing an executor-partitioned 100 TB
    run wants. The lag is exact integer microseconds (engine-neutral;
    float epoch seconds can flip the boundary)."""
    if alerts is None:
        alerts = enriched.filter(F.col("severity").isin(*ALERT_SEVERITIES))
    bucket_of = lambda c: F.floor(F.unix_micros(c) / F.lit(_FOLLOWUP_HORIZON_US)).cast("long")  # noqa: E731
    a = alerts.select(
        F.col("event_id").alias("alert_id"),
        F.col("city").alias("a_city"),
        F.col("ts").alias("a_ts"),
    ).withColumn(
        "bkt", F.explode(F.array(bucket_of(F.col("a_ts")), bucket_of(F.col("a_ts")) + 1))
    )
    e = enriched.select(
        F.col("event_id").alias("follow_id"),
        F.col("city").alias("e_city"),
        F.col("ts").alias("e_ts"),
    ).withColumn("bkt", bucket_of(F.col("e_ts")))
    lag_us = F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("a_ts"))
    return (
        a.join(
            e,
            (F.col("a_city") == F.col("e_city"))
            & (a["bkt"] == e["bkt"])
            & (F.col("e_ts") > F.col("a_ts"))
            & (F.col("e_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .select("alert_id", "follow_id", F.col("a_city").alias("city"), lag_us.alias("lag_us"))
    )


def q_alert_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return alert_followup_pairs(city_events(spark, sf_dir))


_ALERT_FOLLOWUPS_SQL = (
    CITY_EVENTS_CTE
    + """
SELECT a.event_id AS alert_id,
  e.event_id AS follow_id,
  a.city,
  epoch_us(e.ts) - epoch_us(a.ts) AS lag_us
FROM (SELECT * FROM windowed WHERE severity IN ('high', 'critical')) a
JOIN windowed e
  ON a.city = e.city
 AND e.ts > a.ts
 AND e.ts <= a.ts + INTERVAL 10 MINUTE
"""
)


def _engine(spark: SparkSession, sf_dir: str):
    """Oracle-pinned endpoint queries delegate to the user-facing
    facade (engine.CityStreamEngine) with fixed parameters, so the
    code users call IS the code the oracle checks (local import —
    engine.py imports this module)."""
    from ..engine import CityStreamEngine

    return CityStreamEngine(spark, sf_dir)


def q_events_by_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /events/{city}: S8+O1+O4 — key-equality filter, sort desc by
    time, limit. Correct top-k (sort-then-limit) per SURVEY.md §7.0;
    Spark compiles this to TakeOrderedAndProject (no global sort)."""
    return _engine(spark, sf_dir).events("SF", limit=50)


_EVENTS_BY_CITY_SQL = (
    CITY_EVENTS_CTE
    + """
SELECT event_id, ts_iso AS event_time, city, event_type, severity
FROM windowed
WHERE city = 'SF'
ORDER BY ts DESC, event_id DESC
LIMIT 50
"""
)


def q_summary_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /summary/{city}: A3 — the reference splits this into a Spark
    partial agg + a hand-rolled Java final agg
    (CityStreamApiApplication.java:114-123). Here it is one rollup over
    the windowed agg: per-event_type totals + grand total."""
    return _engine(spark, sf_dir).summary("NYC")


_SUMMARY_CITY_SQL = (
    CITY_EVENTS_CTE
    + """
, agg AS (
  SELECT window_start, city, event_type, count(*) AS event_count
  FROM windowed
  WHERE city = 'NYC'
  GROUP BY window_start, city, event_type
)
SELECT
  coalesce(event_type, '__TOTAL__') AS event_type,
  CAST(sum(event_count) AS BIGINT) AS total_events
FROM agg
GROUP BY ROLLUP(event_type)
"""
)


def q_cities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /cities: A4+O3 — group-sum per city over the agg table."""
    return _engine(spark, sf_dir).cities()


_CITIES_SQL = (
    CITY_EVENTS_CTE
    + """
, agg AS (
  SELECT window_start, city, event_type, count(*) AS event_count
  FROM windowed GROUP BY window_start, city, event_type
)
SELECT city, CAST(sum(event_count) AS BIGINT) AS total_events
FROM agg GROUP BY city
"""
)


def q_aggregations_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /aggregations?city&eventType&limit: P9 conjunctive predicate
    + O2 sort desc by window_start + O4 limit."""
    return _engine(spark, sf_dir).aggregations("LA", "purchase", limit=20).select(
        "window_start", "city", "event_type", "event_count", "severities"
    )


_AGGREGATIONS_FILTERED_SQL = (
    CITY_EVENTS_CTE
    + """
, agg AS (
  SELECT
    strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
    city, event_type,
    count(*) AS event_count,
    array_to_string(list_sort(list(severity)), ',') AS severities
  FROM windowed
  WHERE city = 'LA' AND event_type = 'purchase'
  GROUP BY window_start, city, event_type
)
SELECT * FROM agg
ORDER BY window_start DESC
LIMIT 20
"""
)


def q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /stats: A5 global sum + A6 conditional counts, as one
    two-row-per-metric union (reference computes these as two separate
    store reads, CityStreamApiApplication.java:297-322)."""
    return _engine(spark, sf_dir).stats()


_STATS_SQL = (
    CITY_EVENTS_CTE
    + """
SELECT 'total_events' AS metric, CAST(count(*) AS BIGINT) AS value FROM windowed
UNION ALL
SELECT 'alerts_' || severity AS metric, CAST(count(*) AS BIGINT) AS value
FROM windowed WHERE severity IN ('high', 'critical') GROUP BY severity
"""
)


def q_global_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: global group-count (the reference's console 'dashboard'
    query, complete mode — SparkDynamoDBConsumer.java:182-190)."""
    return (
        city_events(spark, sf_dir)
        .groupBy("city", "event_type", "severity")
        .agg(F.count("*").alias("event_count"))
    )


_GLOBAL_COUNTS_SQL = (
    CITY_EVENTS_CTE
    + """
SELECT city, event_type, severity, count(*) AS event_count
FROM windowed GROUP BY city, event_type, severity
"""
)


def q_alerts_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /alerts?city&hours: P10 — range predicate on time (reference
    computes cutoff = now − N hours as an ISO string and compares
    lexicographically, CityStreamApiApplication.java:149-162). Here the
    cutoff anchors on the corpus max event time (deterministic): alerts
    in the last 48 h, newest first, page of 50."""
    return _engine(spark, sf_dir).alerts(hours=48, limit=50)


_ALERTS_RECENT_SQL = (
    CITY_EVENTS_CTE
    + """
SELECT event_id, city, event_type, severity, ts_iso AS event_time
FROM windowed
WHERE severity IN ('high', 'critical')
  AND ts >= (SELECT max(ts) - INTERVAL 48 HOUR FROM windowed
             WHERE severity IN ('high', 'critical'))
ORDER BY ts DESC, event_id DESC
LIMIT 50
"""
)


def q_raw_with_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14: TTL column (epoch + 30 days). Anchored on event time (not
    wall clock) so it is deterministic and oracle-checkable."""
    ce = city_events(spark, sf_dir)
    return ce.select(
        "event_id",
        event_key(F.col("city"), F.col("event_type"), F.col("ts_iso")).alias("event_key"),
        ttl_from(F.col("ts")).alias("ttl"),
    )


_RAW_WITH_TTL_SQL = (
    CITY_EVENTS_CTE
    + """
SELECT
  event_id,
  city || '-' || event_type || '-' || ts_iso AS event_key,
  CAST(floor(epoch(ts)) AS BIGINT) + 2592000 AS ttl
FROM windowed
"""
)


def q_upsert_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's putItem upsert semantics
    (SparkDynamoDBConsumer.java:264 — last writer per key wins),
    executed through the REAL transactional-table machinery
    (streaming/tx_table.py) and oracle-checked: three epochs of
    orders-derived rows land via atomic manifest commits — epoch 0
    writes every key, epoch 1 overwrites keys with orderkey % 5 == 0,
    epoch 2 those with % 7 == 0 — and the table is read back through
    the final manifest. The emitted src_epoch comes from the table's
    own _epoch lineage column, so a green row proves the LWW merge,
    the bucketed copy-on-write, and the manifest read all composed
    correctly; DuckDB states the winner in closed form. Values use
    integer cents so no float crosses the verification boundary.

    Scale shape: each epoch rewrites only its keys' buckets; the
    read-back is eagerly localCheckpoint()ed — materialized on the
    executors' block managers with lineage truncated — so the scratch
    table can be deleted before returning WITHOUT ever collecting the
    table to the driver (the r5-flagged O(table) driver pattern), and
    no store leaks per bench invocation (the q_corpus_ingest_epochs
    discipline)."""
    import os
    import shutil
    import tempfile

    from ..streaming import tx_table

    # the %4 slice keeps the query SF-proportional while bounding the
    # three full table rewrites the ACID exercise performs — the
    # machinery exercised is identical at any slice
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 1)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = orders.select(
        F.col("o_orderkey").alias("k"), cents.alias("val_cents")
    )
    epochs = [
        base,
        base.filter(F.col("k") % 5 == 0).withColumn("val_cents", F.col("val_cents") + 1),
        base.filter(F.col("k") % 7 == 0).withColumn("val_cents", F.col("val_cents") + 2),
    ]
    tdir = tempfile.mkdtemp(prefix="tx_lww_")
    try:
        t = os.path.join(tdir, "t")
        for i, b in enumerate(epochs):
            tx_table.upsert(spark, t, b, ["k"], n_buckets=16, epoch_id=i)
        out = (
            tx_table.read_table(spark, t)
            .select(
                F.col("k").alias("o_orderkey"),
                F.col("_epoch").cast("long").alias("src_epoch"),
                "val_cents",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    return out


def q_tx_dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r5 DML surface as ONE oracle-checked lifecycle — the
    driver-checkable face of UPDATE WHERE, MERGE INTO (all three
    clauses), DELETE WHERE, and RESTORE TO VERSION composing on the
    transactional table (streaming/tx_table.py), each previously
    pytest-only:

      v0  upsert the orders slice (o_orderkey % 4 == 2, integer cents)
      v1  UPDATE WHERE val % 10 < 3 SET val += 100   (merge-on-read DV)
      v2  MERGE source = (matched keys %6==0 -> val+7; matched %5==0
          -> DELETE; unmatched keys k+10^8 for k%9==0 -> INSERT 42)
          in DV mode — updates via sidecar kill + append
      ──  CLONE @ v2 (shallow, pinned snapshot) → branch table   (r8,
          VERDICT r7 #6 — inside this face's job budget, 2 commits)
      v3  DELETE WHERE k % 11 == 0 on MAIN          (copy-on-write)
      c1  UPDATE WHERE k % 13 == 0 SET val += 1000 on the CLONE (DV)
      v4  RESTORE MAIN TO v2 — O(metadata) rollback undoing v3

    Branch isolation is the point of the interleave: main's DELETE and
    RESTORE happen AFTER the clone, the clone's UPDATE happens between
    them, and the final read-backs of BOTH branches are oracle-pinned
    — main equals the v2 state, the clone equals v2 with the %13
    update applied, and neither leaked into the other (hard-linked
    immutable files + fresh manifests, vacuum-proof by construction).
    n_versions pins the exact commit count per branch (main 5,
    clone 2 — no silent retries/extra commits). The read-back is
    localCheckpoint()ed so the scratch tables die with the query and
    nothing is ever collected to the driver."""
    import os
    import shutil
    import tempfile

    from ..streaming import tx_table

    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 2)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = orders.select(F.col("o_orderkey").alias("k"), cents.alias("val_cents"))
    tdir = tempfile.mkdtemp(prefix="tx_dml_")
    try:
        t = os.path.join(tdir, "t")
        tx_table.upsert(spark, t, base, ["k"], n_buckets=16, epoch_id=0)
        tx_table.update_where(
            spark, t, F.col("val_cents") % 10 < 3,
            {"val_cents": F.col("val_cents") + 100}, mode="dv",
        )
        matched = (
            tx_table.read_table(spark, t)
            .filter(F.col("k") % 6 == 0)
            .select("k", (F.col("val_cents") + 7).alias("mv"))
        )
        inserts = base.filter(F.col("k") % 9 == 0).select(
            (F.col("k") + 100_000_000).alias("k"),
            F.lit(42).cast("long").alias("val_cents"),
            F.lit(None).cast("long").alias("mv"),
        )
        src = matched.withColumn("val_cents", F.lit(None).cast("long")).select(
            "k", "val_cents", "mv"
        ).unionByName(inserts)
        v2 = tx_table.merge(
            spark, t, src,
            when_matched_update={"val_cents": F.col("_src_mv")},
            when_matched_delete=F.col("k") % 5 == 0,
            mode="dv",
        )
        c = os.path.join(tdir, "c")
        tx_table.clone(t, c, version=v2, mode="shallow")
        tx_table.delete_where(spark, t, F.col("k") % 11 == 0)
        cv = tx_table.update_where(
            spark, c, F.col("k") % 13 == 0,
            {"val_cents": F.col("val_cents") + 1000}, mode="dv",
        )
        v4 = tx_table.restore(t, v2)
        main = tx_table.read_table(spark, t).select(
            F.col("k").alias("o_orderkey"),
            "val_cents",
            F.lit("main").alias("branch"),
            F.lit(v4 + 1).cast("long").alias("n_versions"),
        )
        branch = tx_table.read_table(spark, c).select(
            F.col("k").alias("o_orderkey"),
            "val_cents",
            F.lit("clone").alias("branch"),
            F.lit(cv + 1).cast("long").alias("n_versions"),
        )
        out = main.unionByName(branch).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    return out


_TX_DML_LIFECYCLE_SQL = """
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders WHERE o_orderkey % 4 = 2
),
u AS (  -- v1: UPDATE WHERE v % 10 < 3 SET v += 100
  SELECT k, CASE WHEN v % 10 < 3 THEN v + 100 ELSE v END AS v FROM base
),
m AS (  -- v2: MERGE (matched %5==0 delete, matched %6==0 update, inserts)
  SELECT k, CASE WHEN k % 6 = 0 THEN v + 7 ELSE v END AS v
  FROM u WHERE NOT (k % 6 = 0 AND k % 5 = 0)
  UNION ALL
  SELECT k + 100000000 AS k, CAST(42 AS BIGINT) AS v
  FROM base WHERE k % 9 = 0
)
SELECT k AS o_orderkey, v AS val_cents, 'main' AS branch,
       CAST(5 AS BIGINT) AS n_versions
FROM m  -- v3 DELETE WHERE is undone by the v4 RESTORE
UNION ALL  -- the clone branched at v2 and applied ONLY the %13 update
SELECT k AS o_orderkey,
       CASE WHEN k % 13 = 0 THEN v + 1000 ELSE v END AS val_cents,
       'clone' AS branch, CAST(2 AS BIGINT) AS n_versions
FROM m
"""


_UPSERT_LWW_SQL = """
SELECT o_orderkey,
  CAST(CASE WHEN o_orderkey % 7 = 0 THEN 2
            WHEN o_orderkey % 5 = 0 THEN 1
            ELSE 0 END AS BIGINT) AS src_epoch,
  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
    + CAST(CASE WHEN o_orderkey % 7 = 0 THEN 2
                WHEN o_orderkey % 5 = 0 THEN 1
                ELSE 0 END AS BIGINT) AS val_cents
FROM orders
WHERE o_orderkey % 4 = 1
"""


QUERIES = {
    "cs_raw_events": q_raw_events,
    "cs_windowed_agg": q_windowed_agg,
    "cs_alerts": q_alerts,
    "cs_events_by_city": q_events_by_city,
    "cs_summary_city": q_summary_city,
    "cs_cities": q_cities,
    "cs_aggregations_filtered": q_aggregations_filtered,
    "cs_stats": q_stats,
    "cs_global_counts": q_global_counts,
    "cs_alerts_recent": q_alerts_recent,
    "cs_raw_with_ttl": q_raw_with_ttl,
    "cs_alert_followups": q_alert_followups,
    "cs_upsert_lww": q_upsert_lww,
    "cs_tx_dml_lifecycle": q_tx_dml_lifecycle,
}

ORACLE = {
    "cs_raw_events": _RAW_EVENTS_SQL,
    "cs_windowed_agg": _WINDOWED_AGG_SQL,
    "cs_alerts": _ALERTS_SQL,
    "cs_events_by_city": _EVENTS_BY_CITY_SQL,
    "cs_summary_city": _SUMMARY_CITY_SQL,
    "cs_cities": _CITIES_SQL,
    "cs_aggregations_filtered": _AGGREGATIONS_FILTERED_SQL,
    "cs_stats": _STATS_SQL,
    "cs_global_counts": _GLOBAL_COUNTS_SQL,
    "cs_alerts_recent": _ALERTS_RECENT_SQL,
    "cs_raw_with_ttl": _RAW_WITH_TTL_SQL,
    "cs_alert_followups": _ALERT_FOLLOWUPS_SQL,
    "cs_upsert_lww": _UPSERT_LWW_SQL,
    "cs_tx_dml_lifecycle": _TX_DML_LIFECYCLE_SQL,
}
