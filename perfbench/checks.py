"""Output checks, run outside every timed span.

- ``frame_hash``: row count + order-insensitive value hash, computed the
  way ``tools/check_oracle.py`` computes it, so Spark results compare
  against the pinned DuckDB oracle hashes.
- ``silver_mismatches`` / ``gold_mismatches``: the silver events table and
  the five gold tables the pipeline wrote, read back with DuckDB and
  compared row for row with an independent DuckDB recomputation over the
  raw NDJSON lines.
"""

from __future__ import annotations

import hashlib
import json
import os

GOLD_TABLES = (
    "kpi_writing_velocity_daily",
    "kpi_revision_churn_daily",
    "kpi_engagement_bands_daily",
    "kpi_dropoff_rate_daily",
    "kpi_stage_bottlenecks",
)


def duckdb_connect():
    """In-memory DuckDB that never installs or loads extensions on its
    own (parquet and json are built in)."""
    import duckdb

    return duckdb.connect(
        config={"autoinstall_known_extensions": False, "autoload_known_extensions": False}
    )


def frame_hash(df) -> tuple[int, str]:
    """(rows, hash) of a pandas DataFrame, as tools/check_oracle.py does."""
    import pandas as pd

    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype(float).round(6).map(lambda v: f"{v:.6f}")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64").astype(str)
        else:
            out[c] = s.astype(str)
    rows = sorted("\x01".join(r) for r in out.itertuples(index=False, name=None))
    return len(df), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def oracle_hashes(table_dir: str, names: list[str]) -> dict[str, list]:
    """DuckDB oracle (rows, hash) of each registered query over the
    parquet tables in ``table_dir``."""
    from creatorops_lakehouse_spark.queries import TABLES, all_oracles

    oracles = all_oracles()
    con = duckdb_connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return {n: list(frame_hash(con.execute(oracles[n]).df())) for n in names}


# --------------------------------------------------------------------------
# gold recomputation over the raw NDJSON
# --------------------------------------------------------------------------

_STAGE_CASE = " ".join(
    f"WHEN '{et}' THEN '{st}'"
    for et, st in {
        "draft_created": "DRAFT",
        "chapter_written": "WRITE",
        "scene_revised": "REVISION",
        "beta_feedback_received": "BETA",
        "submission_sent": "SUBMISSION",
        "editor_comment": "EDIT",
        "publish_scheduled": "SCHEDULED",
        "publish_released": "RELEASED",
        "reader_engagement": "ENGAGEMENT",
        "reader_dropoff": "ENGAGEMENT",
    }.items()
)

# valid, deduplicated events: every line that passes the event contract,
# the latest batch winning per eventId
_SILVER = """
CREATE TEMP TABLE silver AS
WITH lines AS (
    -- NULL for a malformed line, so no JSON function ever parses one
    SELECT batch, line_no, CASE WHEN json_valid(raw) THEN raw END AS raw FROM raw_lines
), parsed AS (
    SELECT batch, line_no,
           raw->>'$.eventId' AS event_id,
           raw->>'$.eventType' AS event_type,
           TRY_CAST(raw->>'$.eventVersion' AS INTEGER) AS event_version,
           raw->>'$.occurredAt' AS occurred_s,
           raw->>'$.tenant.tenantId' AS tenant_id,
           raw->>'$.tenant.authorId' AS author_id,
           raw->>'$.entity.storyId' AS story_id,
           raw->>'$.entity.seriesId' AS series_id,
           raw->>'$.metrics.wordCount' AS wc_s,
           raw->>'$.metrics.revisionCount' AS rc_s,
           raw->>'$.metrics.engagementScore' AS es_s,
           raw->>'$.metadata.redelivered' AS redelivered
    FROM lines WHERE raw IS NOT NULL
), typed AS (
    SELECT *,
           TRY_STRPTIME(occurred_s, '%Y-%m-%dT%H:%M:%SZ') AS occurred_at,
           TRY_CAST(wc_s AS INTEGER) AS word_count,
           TRY_CAST(rc_s AS INTEGER) AS revision_count,
           TRY_CAST(es_s AS DOUBLE) AS engagement_score
    FROM parsed
), valid AS (
    SELECT * FROM typed
    WHERE event_id IS NOT NULL AND event_type IS NOT NULL
      AND event_type IN ({types})
      AND event_version IS NOT NULL AND event_version >= 1
      AND occurred_at IS NOT NULL
      AND tenant_id IS NOT NULL AND author_id IS NOT NULL AND story_id IS NOT NULL
      AND (wc_s IS NULL OR word_count IS NOT NULL)
      AND (rc_s IS NULL OR revision_count IS NOT NULL)
      AND (es_s IS NULL OR engagement_score IS NOT NULL)
      AND (word_count IS NULL OR word_count >= 0)
      AND (revision_count IS NULL OR revision_count >= 0)
      AND (event_type NOT IN ('reader_engagement', 'reader_dropoff')
           OR engagement_score IS NULL
           OR (engagement_score >= 0 AND engagement_score <= 100))
      AND occurred_at <= TIMESTAMP '{as_of}' + INTERVAL 5 MINUTES
)
SELECT event_id, event_type, event_version, occurred_at,
       CAST(occurred_at AS DATE) AS p_event_date,
       tenant_id, author_id, story_id, series_id, word_count, revision_count,
       engagement_score, CASE event_type {stages} END AS stage, redelivered
FROM valid
QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY batch DESC, line_no DESC) = 1
"""

_EXPECTED = {
    "kpi_writing_velocity_daily": """
        SELECT p_event_date, tenant_id, author_id, story_id, series_id,
               COUNT(*) AS chapters_written,
               COALESCE(SUM(word_count), 0) AS words_written,
               AVG(word_count) AS avg_words_per_chapter
        FROM silver WHERE event_type = 'chapter_written' GROUP BY ALL""",
    "kpi_revision_churn_daily": """
        SELECT p_event_date, tenant_id, author_id, story_id, series_id,
               COUNT(*) AS revision_events,
               SUM(COALESCE(revision_count, 1)) AS revision_count_sum,
               SUM(COALESCE(revision_count, 1)) / COUNT(*) AS revision_churn_index
        FROM silver WHERE event_type = 'scene_revised' GROUP BY ALL""",
    "kpi_engagement_bands_daily": """
        SELECT p_event_date, tenant_id, story_id, series_id,
               FLOOR(LEAST(GREATEST(engagement_score, 0.0), 100.0) / 10.0) * 10.0 AS score_band,
               COUNT(*) AS engagement_events,
               AVG(engagement_score) AS avg_score_in_band,
               DATE '{as_of_date}' AS as_of_date
        FROM silver WHERE event_type = 'reader_engagement' GROUP BY ALL""",
    "kpi_dropoff_rate_daily": """
        WITH e AS (SELECT p_event_date, tenant_id, story_id, series_id, COUNT(*) AS n
                   FROM silver WHERE event_type = 'reader_engagement' GROUP BY ALL),
             d AS (SELECT p_event_date, tenant_id, story_id, series_id, COUNT(*) AS n
                   FROM silver WHERE event_type = 'reader_dropoff' GROUP BY ALL)
        SELECT COALESCE(e.p_event_date, d.p_event_date) AS p_event_date,
               COALESCE(e.tenant_id, d.tenant_id) AS tenant_id,
               COALESCE(e.story_id, d.story_id) AS story_id,
               COALESCE(e.series_id, d.series_id) AS series_id,
               COALESCE(e.n, 0) AS engagement_events,
               COALESCE(d.n, 0) AS dropoff_events,
               COALESCE(e.n, 0) + COALESCE(d.n, 0) AS total_events,
               COALESCE(d.n, 0) / (COALESCE(e.n, 0) + COALESCE(d.n, 0)) AS dropoff_rate,
               DATE '{as_of_date}' AS as_of_date
        FROM e FULL OUTER JOIN d
          ON e.p_event_date = d.p_event_date AND e.tenant_id = d.tenant_id
         AND e.story_id = d.story_id AND e.series_id = d.series_id""",
    # a story whose events tie on occurred_at across two stages has no
    # defined lead() order, so such stories (table ``ties``) are left out
    # on both sides
    "kpi_stage_bottlenecks": """
        WITH t AS (
            SELECT tenant_id, story_id, series_id, stage,
                   EPOCH(LEAD(occurred_at) OVER w) - EPOCH(occurred_at) AS secs
            FROM silver WINDOW w AS (PARTITION BY tenant_id, story_id ORDER BY occurred_at)
        ), h AS (
            SELECT tenant_id, story_id, series_id, stage, secs / 3600.0 AS hrs
            FROM t WHERE secs IS NOT NULL AND secs >= 0
        )
        SELECT tenant_id, story_id, series_id, stage,
               COUNT(*) AS stage_hops,
               AVG(hrs) AS avg_hours_in_stage,
               list_sort(list(hrs))[CAST(CEIL(0.5 * COUNT(*)) AS BIGINT)] AS p50_hours_in_stage,
               list_sort(list(hrs))[CAST(CEIL(0.9 * COUNT(*)) AS BIGINT)] AS p90_hours_in_stage,
               MAX(hrs) AS max_hours_in_stage,
               DATE '{as_of_date}' AS as_of_date
        FROM h WHERE (tenant_id, story_id) NOT IN (SELECT (tenant_id, story_id) FROM ties)
        GROUP BY ALL""",
}


def _recompute(batches: list[list[str]], as_of_ts: str):
    """DuckDB connection holding ``silver``, the recomputed valid and
    deduplicated events of ``batches`` of raw NDJSON lines (later batches
    supersede earlier ones)."""
    import pyarrow as pa

    from creatorops_lakehouse_spark.schemas import EVENT_TYPES

    con = duckdb_connect()
    batch, line_no, raw = [], [], []
    for b, lines in enumerate(batches):
        for i, ln in enumerate(lines):
            batch.append(b)
            line_no.append(i)
            raw.append(ln)
    con.register("raw_lines", pa.table({"batch": batch, "line_no": line_no, "raw": raw}))
    types = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    con.execute(_SILVER.format(types=types, as_of=as_of_ts, stages=_STAGE_CASE))
    return con


def _differing(con, got: str, exp: str) -> int:
    """Rows in one of the two relations and not the other (multiset),
    doubles compared at 6 decimals and everything else as text."""
    desc = con.execute(f"DESCRIBE {exp}").fetchall()
    sel = ", ".join(
        f"ROUND(CAST({c} AS DOUBLE), 6) AS {c}" if t == "DOUBLE"
        else f"CAST({c} AS VARCHAR) AS {c}"
        for c, t, *_ in desc
    )
    a, b = f"SELECT {sel} FROM {got}", f"SELECT {sel} FROM ({exp})"
    return int(con.execute(
        f"SELECT COUNT(*) FROM (({a} EXCEPT ALL {b}) UNION ALL ({b} EXCEPT ALL {a}))"
    ).fetchone()[0])


def silver_mismatches(batches: list[list[str]], silver_path: str, as_of_ts: str) -> int:
    """Rows that differ (both directions) between the silver events table
    at ``silver_path`` and the recomputation over ``batches``: a silver
    that kept a superseded copy of a re-delivered event differs in its
    metrics or its ``redelivered`` marker."""
    con = _recompute(batches, as_of_ts)
    exp = ("SELECT event_id, event_type, event_version, EPOCH(occurred_at) AS occurred_s, "
           "p_event_date, tenant_id, author_id, story_id, series_id, word_count, "
           "revision_count, engagement_score, stage, redelivered FROM silver")
    got = (
        "(SELECT event_id, event_type, event_version, EPOCH(occurred_at) AS occurred_s, "
        "p_event_date, tenant_id, author_id, story_id, series_id, word_count, "
        "revision_count, engagement_score, stage, "
        "raw_json->>'$.metadata.redelivered' AS redelivered "
        f"FROM read_parquet('{silver_path}/**/*.parquet', hive_partitioning = true))"
    )
    n = _differing(con, got, exp)
    con.close()
    return n


def gold_mismatches(
    batches: list[list[str]], gold_root: str, as_of_ts: str, as_of_date: str
) -> dict[str, int]:
    """Rows that differ (both directions) between each gold table the
    pipeline wrote under ``gold_root`` and the DuckDB recomputation over
    ``batches`` of raw NDJSON lines. An empty dict means every table
    matched."""
    con = _recompute(batches, as_of_ts)
    con.execute(
        "CREATE TEMP TABLE ties AS SELECT DISTINCT tenant_id, story_id FROM silver "
        "GROUP BY tenant_id, story_id, occurred_at HAVING COUNT(DISTINCT stage) > 1"
    )
    bad: dict[str, int] = {}
    for table in GOLD_TABLES:
        path = os.path.join(gold_root, table)
        got = f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
        if table == "kpi_stage_bottlenecks":
            got = f"(SELECT * FROM {got} WHERE (tenant_id, story_id) NOT IN (SELECT (tenant_id, story_id) FROM ties))"
        n = _differing(con, got, _EXPECTED[table].format(as_of_date=as_of_date))
        if n:
            bad[table] = n
    con.close()
    return bad


def load_pinned() -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")) as fh:
        return json.load(fh)
