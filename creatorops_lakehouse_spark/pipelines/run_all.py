"""End-to-end orchestrator: generate → bronze → silver → gold.

Python replacement for the reference's local/run_all.ps1:19-23 (sequential
job chain), sharing ONE SparkSession across stages instead of building five
(the reference builds a session per job). Data still flows between stages
via tables on disk — the lakehouse is the inter-stage contract.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from creatorops_lakehouse_spark.generator import (
    GeneratorConfig,
    generate_events,
    write_ndjson_partitioned,
)
from creatorops_lakehouse_spark.pipelines import silver as silver_mod
from creatorops_lakehouse_spark.pipelines.bronze import ingest_ndjson
from creatorops_lakehouse_spark.pipelines.gold import (
    dropoff_rate_daily,
    engagement_bands_daily,
    revision_churn_daily,
    stage_bottlenecks,
    writing_velocity_daily,
)
from creatorops_lakehouse_spark.sources.tables import (
    lakehouse_specs,
    read_table,
    write_table,
)


@dataclass
class RunStats:
    bronze_rows: int
    silver_rows: int
    reject_rows: int
    gold_rows: dict[str, int]


def run_all(
    spark: SparkSession,
    root: str,
    cfg: GeneratorConfig | None = None,
    as_of_ts: str | None = None,
    as_of_date: str | None = None,
    ingested_at: str | None = None,
) -> RunStats:
    """Full pipeline over a lakehouse root directory. Deterministic when the
    as_of/ingested_at parameters are pinned. ``RunStats`` holds the rows
    this run wrote to each table, as counted by the write jobs
    (``write_table``'s return value) — no table is re-read to count it."""
    specs = lakehouse_specs(root)
    cfg = cfg or GeneratorConfig()
    events = generate_events(cfg)
    write_ndjson_partitioned(events, f"{root}/raw/events")

    bronze_rows = ingest_ndjson(
        spark,
        f"{root}/raw/events/p_event_date=*/events.ndjson",
        specs["bronze_events_raw"],
        ingested_at=ingested_at,
    )
    silver_df, rejects_df = silver_mod.transform(
        read_table(spark, specs["bronze_events_raw"]),
        as_of_ts=as_of_ts,
        rejected_at=as_of_ts,
    )
    silver_rows = write_table(silver_df, specs["silver_events"])
    reject_rows = write_table(rejects_df, specs["silver_rejects"])

    silver = read_table(spark, specs["silver_events"])
    gold = {
        "gold_writing_velocity": writing_velocity_daily(silver),
        "gold_revision_churn": revision_churn_daily(silver),
        "gold_engagement_bands": engagement_bands_daily(silver, as_of_date),
        "gold_dropoff_rate": dropoff_rate_daily(silver, as_of_date),
        "gold_stage_bottlenecks": stage_bottlenecks(silver, as_of_date),
    }
    gold_rows = {key: write_table(df, specs[key]) for key, df in gold.items()}

    return RunStats(
        bronze_rows=bronze_rows,
        silver_rows=silver_rows,
        reject_rows=reject_rows,
        gold_rows=gold_rows,
    )


def main() -> None:  # pragma: no cover - manual entry point
    import sys

    from creatorops_lakehouse_spark.session import build_spark

    root = sys.argv[1] if len(sys.argv) > 1 else "out/lakehouse"
    spark = build_spark("creatorops-run-all")
    stats = run_all(spark, root)
    print(stats)


if __name__ == "__main__":
    main()
