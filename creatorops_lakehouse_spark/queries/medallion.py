"""End-to-end medallion composition under the driver's DuckDB oracle.

The reference IS a composed pipeline — ``local/run_all.ps1:19-23`` runs
bronze ingest → silver transform → gold KPIs sequentially over generated
NDJSON. Every stage of our port is verified by pytest goldens and
per-operator oracle twins, but this module puts the COMPOSITION itself
under the driver's hash gate: stage the driver's ``events`` rows as
contract-shaped NDJSON, run the real pipeline (``bronze.ingest_ndjson`` →
``silver.transform`` with contract + dedup → ``gold`` KPIs, each layer
written to and re-read from its partitioned table exactly like
``pipelines/run_all.py``), and hash a long-format metric summary against
one DuckDB SQL statement that independently re-derives every number from
the raw ``events`` parquet.

Staging is a deterministic pure function of ``(event_id, ts, user_id,
value)`` so the oracle can reproduce it in SQL without parsing JSON:

- ``m = event_id % 97`` selects injected contract violations: m=0 a
  malformed JSON line (parsing), m=1 a missing storyId (validation), m=2 an
  unknown eventType (enum_check), m=3 a non-numeric wordCount
  (metric_check), m=4 an out-of-range engagementScore on a reader event
  (metric_check), m=5 a future occurredAt (the D4 clock-skew guard). Every
  other row is a valid event.
- valid rows map ``event_id % 3`` → chapter_written (wordCount = value in
  cents) | scene_revised (revisionCount = event_id % 7) | publish_released.
- rows with ``m > 5 AND event_id % 11 = 0`` are RE-INGESTED in a second
  bronze batch with bumped metrics (+1000 words / +5 revisions) and a later
  ingested_at — D1 dedup must keep the batch-2 version, so the gold word
  and revision totals prove keep-latest ran (reference semantics:
  runbooks/silver-transform.md:114-122).

The output rows also pin conservation (bronze = silver + rejects +
superseded duplicates) and the per-reason reject taxonomy
(sql/ddl/03_silver_rejects.sql:13-19).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from creatorops_lakehouse_spark.queries import load, query

_REASONS = (
    "JSON_PARSE_FAILED",
    "MISSING_STORY_ID",
    "INVALID_EVENT_TYPE",
    "NON_NUMERIC_WORD_COUNT",
    "INVALID_ENGAGEMENT_SCORE",
    "FUTURE_OCCURRED_AT",
)

_ORACLE = """
WITH base AS (
    SELECT event_id,
           ts,
           user_id,
           event_id % 97 AS m,
           event_id % 3 AS t3,
           ABS(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS wc0,
           event_id % 7 AS rc0
    FROM events
),
good AS (
    SELECT *,
           CASE WHEN t3 = 0 THEN 'chapter_written'
                WHEN t3 = 1 THEN 'scene_revised'
                ELSE 'publish_released' END AS etype,
           (event_id % 11 = 0) AS dup
    FROM base WHERE m > 5
),
eff AS (
    SELECT *,
           wc0 + CASE WHEN dup THEN 1000 ELSE 0 END AS wc,
           rc0 + CASE WHEN dup THEN 5 ELSE 0 END AS rc,
           CAST(ts AS DATE) AS d
    FROM good
),
vel AS (
    SELECT d, user_id, COUNT(*) AS ch, SUM(wc) AS words
    FROM eff WHERE etype = 'chapter_written' GROUP BY d, user_id
),
churn AS (
    SELECT d, user_id, COUNT(*) AS revs, SUM(rc) AS rcsum
    FROM eff WHERE etype = 'scene_revised' GROUP BY d, user_id
)
SELECT 'bronze_rows' AS metric,
       CAST((SELECT COUNT(*) FROM base)
            + (SELECT COUNT(*) FROM good WHERE dup) AS BIGINT) AS value
UNION ALL SELECT 'silver_rows', (SELECT COUNT(*) FROM good)
UNION ALL SELECT 'reject_rows', (SELECT COUNT(*) FROM base WHERE m <= 5)
UNION ALL SELECT 'dups_superseded', (SELECT COUNT(*) FROM good WHERE dup)
UNION ALL SELECT 'conservation_ok', CAST(1 AS BIGINT)
UNION ALL SELECT 'reject_JSON_PARSE_FAILED',
                 (SELECT COUNT(*) FROM base WHERE m = 0)
UNION ALL SELECT 'reject_MISSING_STORY_ID',
                 (SELECT COUNT(*) FROM base WHERE m = 1)
UNION ALL SELECT 'reject_INVALID_EVENT_TYPE',
                 (SELECT COUNT(*) FROM base WHERE m = 2)
UNION ALL SELECT 'reject_NON_NUMERIC_WORD_COUNT',
                 (SELECT COUNT(*) FROM base WHERE m = 3)
UNION ALL SELECT 'reject_INVALID_ENGAGEMENT_SCORE',
                 (SELECT COUNT(*) FROM base WHERE m = 4)
UNION ALL SELECT 'reject_FUTURE_OCCURRED_AT',
                 (SELECT COUNT(*) FROM base WHERE m = 5)
UNION ALL SELECT 'velocity_rows', (SELECT COUNT(*) FROM vel)
UNION ALL SELECT 'chapters_total',
                 (SELECT CAST(COALESCE(SUM(ch), 0) AS BIGINT) FROM vel)
UNION ALL SELECT 'words_total',
                 (SELECT CAST(COALESCE(SUM(words), 0) AS BIGINT) FROM vel)
UNION ALL SELECT 'churn_rows', (SELECT COUNT(*) FROM churn)
UNION ALL SELECT 'revision_events_total',
                 (SELECT CAST(COALESCE(SUM(revs), 0) AS BIGINT) FROM churn)
UNION ALL SELECT 'revision_sum_total',
                 (SELECT CAST(COALESCE(SUM(rcsum), 0) AS BIGINT) FROM churn)
UNION ALL SELECT 'published_total',
                 (SELECT COUNT(*) FROM eff WHERE etype = 'publish_released')
UNION ALL SELECT 'distinct_event_dates',
                 (SELECT COUNT(DISTINCT d) FROM eff)
"""


def _staged_lines(ev: DataFrame, bump: bool) -> DataFrame:
    """Contract-shaped NDJSON line per event row (see module docstring).

    ``bump`` marks batch-2 re-ingest lines: same identity fields, metric
    values shifted so keep-latest dedup is observable in the gold totals.
    """
    m = F.col("event_id") % 97
    t3 = F.col("event_id") % 3
    s = lambda c: c.cast("string")  # noqa: E731
    wc0 = F.abs((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
    rc0 = F.col("event_id") % 7
    wc = wc0 + F.lit(1000 if bump else 0)
    rc = rc0 + F.lit(5 if bump else 0)

    etype = (
        F.when(m == 2, F.lit("bogus_type"))
        .when(m == 4, F.lit("reader_engagement"))
        .when(t3 == 0, F.lit("chapter_written"))
        .when(t3 == 1, F.lit("scene_revised"))
        .otherwise(F.lit("publish_released"))
    )
    occurred = F.when(m == 5, F.lit("2031-01-01T00:00:00Z")).otherwise(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    )
    word_str = F.when(m == 3, F.lit("NaNope")).when(
        (m > 5) & (t3 == 0), s(wc)
    )
    rev_str = F.when((m > 5) & (t3 == 1), s(rc))
    score_str = F.when(m == 4, F.lit("150.0"))
    metrics = F.map_filter(
        F.create_map(
            F.lit("wordCount"), word_str,
            F.lit("revisionCount"), rev_str,
            F.lit("engagementScore"), score_str,
        ),
        lambda k, v: v.isNotNull(),
    )
    payload = F.struct(
        F.concat(F.lit("ev-"), s(F.col("event_id"))).alias("eventId"),
        etype.alias("eventType"),
        F.lit(1).alias("eventVersion"),
        occurred.alias("occurredAt"),
        F.struct(
            F.concat(F.lit("t"), s(F.col("user_id") % 10)).alias("tenantId"),
            F.concat(F.lit("a"), s(F.col("user_id"))).alias("authorId"),
            F.lit("pro").alias("plan"),
        ).alias("tenant"),
        F.struct(
            F.concat(F.lit("sr"), s(F.col("user_id") % 50)).alias("seriesId"),
            F.when(m != 1, F.concat(F.lit("s"), s(F.col("user_id") % 100))).alias(
                "storyId"
            ),
            F.concat(F.lit("c"), s(F.col("event_id"))).alias("chapterId"),
        ).alias("entity"),
        metrics.alias("metrics"),
        F.struct(
            F.lit("medallion-sim").alias("service"),
            F.lit("test").alias("env"),
            F.lit("local").alias("region"),
            F.concat(F.lit("ev-"), s(F.col("event_id"))).alias("traceId"),
        ).alias("producer"),
    )
    line = F.when(
        m == 0,
        F.concat(F.lit('{"eventId": "ev-'), s(F.col("event_id")), F.lit('", BROKEN')),
    ).otherwise(F.to_json(payload))
    return ev.select(line.alias("value"))


@query("events_medallion_e2e_verdict", oracle=_ORACLE)
def events_medallion_e2e_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the COMPOSED bronze→silver→gold pipeline on staged NDJSON and
    return a long-format (metric, value) summary the oracle re-derives
    independently (reference composition: local/run_all.ps1:19-23).

    Eager by design (a verdict harness, excluded from bench like all
    ``*_verdict`` audits): every layer is written to and re-read from its
    partitioned table, all summary scalars are collected, and the scratch
    tree is deleted before returning a literal DataFrame.
    """
    from creatorops_lakehouse_spark.operators.cache import release_scoped_caches
    from creatorops_lakehouse_spark.pipelines.bronze import ingest_ndjson
    from creatorops_lakehouse_spark.pipelines.gold.kpis import (
        revision_churn_daily,
        writing_velocity_daily,
    )
    from creatorops_lakehouse_spark.pipelines.silver import transform
    from creatorops_lakehouse_spark.sources.tables import (
        TableSpec,
        read_table,
        write_table,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    m = F.col("event_id") % 97
    dup_cond = (m > 5) & (F.col("event_id") % 11 == 0)

    root = tempfile.mkdtemp(prefix="medallion_e2e_")
    try:
        raw1, raw2 = os.path.join(root, "raw1"), os.path.join(root, "raw2")
        _staged_lines(ev, bump=False).write.text(raw1)
        _staged_lines(ev.filter(dup_cond), bump=True).write.text(raw2)

        bronze_spec = TableSpec(
            "bronze.events", os.path.join(root, "bronze"), ("p_ingest_date",)
        )
        batch1 = ingest_ndjson(
            spark, raw1, bronze_spec,
            ingest_id="batch1", ingested_at="2030-01-01 00:00:00",
        )
        dups = ingest_ndjson(
            spark, raw2, bronze_spec,
            ingest_id="batch2", ingested_at="2030-01-01 01:00:00",
        )
        bronze_rows = batch1 + dups

        good, bad = transform(
            read_table(spark, bronze_spec),
            as_of_ts="2030-01-02 00:00:00",
            rejected_at="2030-01-02 00:00:00",
        )
        silver_spec = TableSpec(
            "silver.events", os.path.join(root, "silver"), ("p_event_date",)
        )
        rejects_spec = TableSpec(
            "silver.rejects", os.path.join(root, "rejects"), ("p_ingest_date",)
        )
        write_table(good, silver_spec)
        write_table(bad, rejects_spec)
        silver = read_table(spark, silver_spec)
        rejects = read_table(spark, rejects_spec)

        vel_spec = TableSpec(
            "gold.velocity", os.path.join(root, "gold_velocity"), ("p_event_date",)
        )
        churn_spec = TableSpec(
            "gold.churn", os.path.join(root, "gold_churn"), ("p_event_date",)
        )
        write_table(writing_velocity_daily(silver), vel_spec)
        write_table(revision_churn_daily(silver), churn_spec)
        vel = read_table(spark, vel_spec)
        churn = read_table(spark, churn_spec)

        silver_rows = silver.count()
        reject_rows = rejects.count()
        reason_counts = {
            r["reject_reason"]: r["n"]
            for r in rejects.groupBy("reject_reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        v = vel.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("chapters_written").alias("ch"),
            F.sum("words_written").alias("words"),
        ).collect()[0]
        c = churn.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("revision_events").alias("revs"),
            F.sum("revision_count_sum").alias("rcsum"),
        ).collect()[0]
        published = silver.filter(F.col("event_type") == "publish_released").count()
        n_dates = silver.select("p_event_date").distinct().count()
    finally:
        release_scoped_caches()
        shutil.rmtree(root, ignore_errors=True)

    conservation_ok = int(bronze_rows == silver_rows + reject_rows + dups)
    metrics = [
        ("bronze_rows", bronze_rows),
        ("silver_rows", silver_rows),
        ("reject_rows", reject_rows),
        ("dups_superseded", dups),
        ("conservation_ok", conservation_ok),
        *[(f"reject_{r}", int(reason_counts.get(r, 0))) for r in _REASONS],
        ("velocity_rows", int(v["rows"])),
        ("chapters_total", int(v["ch"] or 0)),
        ("words_total", int(v["words"] or 0)),
        ("churn_rows", int(c["rows"])),
        ("revision_events_total", int(c["revs"] or 0)),
        ("revision_sum_total", int(c["rcsum"] or 0)),
        ("published_total", published),
        ("distinct_event_dates", n_dates),
    ]
    return spark.createDataFrame(metrics, "metric string, value long")
