"""End-to-end pipeline property tests: generator → bronze → silver → gold
over a temp lakehouse root (conservation, determinism, partition layout)."""

from __future__ import annotations

import json
import os
import threading

import pyspark.sql.functions as F
import pytest

from creatorops_lakehouse_spark.generator import GeneratorConfig, generate_events
from creatorops_lakehouse_spark.pipelines import silver
from creatorops_lakehouse_spark.pipelines.bronze import ingest_ndjson
from creatorops_lakehouse_spark.pipelines.run_all import run_all
from creatorops_lakehouse_spark.sources.tables import (
    TableSpec,
    lakehouse_specs,
    read_table,
    write_table,
)

CFG = GeneratorConfig(seed=22, n_tenants=2, authors_per_tenant=2, stories_per_author=1, days=10)
AS_OF_TS = "2026-05-01 00:00:00"


@pytest.fixture(scope="module")
def stats_and_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lakehouse"))
    stats = run_all(
        spark, root, cfg=CFG, as_of_ts=AS_OF_TS, as_of_date="2026-05-01",
        ingested_at=AS_OF_TS,
    )
    return stats, root


def test_generator_deterministic():
    a = generate_events(CFG)
    b = generate_events(CFG)
    assert a == b
    assert len(a) > 50


def test_conservation(stats_and_root):
    stats, _ = stats_and_root
    # generator corpus is all-valid and unique → rejects 0, silver == bronze
    assert stats.reject_rows == 0
    assert stats.silver_rows == stats.bronze_rows
    assert stats.bronze_rows == len(generate_events(CFG))


def test_partition_layout(stats_and_root):
    _, root = stats_and_root
    specs = lakehouse_specs(root)
    silver_dir = specs["silver_events"].path
    parts = [d for d in os.listdir(silver_dir) if d.startswith("p_event_date=")]
    assert parts, "silver must be hive-partitioned by p_event_date"


def test_gold_tables_nonempty(stats_and_root):
    stats, _ = stats_and_root
    for name, n in stats.gold_rows.items():
        assert n > 0, f"{name} is empty"


def test_silver_stage_always_derived(stats_and_root, spark):
    _, root = stats_and_root
    silver = read_table(spark, lakehouse_specs(root)["silver_events"])
    bad = silver.filter(F.col("stage").isNull()).count()
    assert bad == 0


def _table_rows(spark, spec, where=None) -> int:
    """Rows re-read from a written table; an empty write leaves no data
    files (and no schema), which reads as 0 rows."""
    if not any(f.endswith(".parquet") for _, _, fs in os.walk(spec.path) for f in fs):
        return 0
    df = read_table(spark, spec)
    return (df.filter(where) if where is not None else df).count()


def test_run_stats_match_written_tables(spark, stats_and_root):
    stats, root = stats_and_root
    specs = lakehouse_specs(root)
    # bronze is append-only: count the batch this run stamped (a rerun on
    # the same root appends a second ingest date)
    this_batch = F.col("p_ingest_date") == F.lit(AS_OF_TS[:10]).cast("date")
    assert stats.bronze_rows == _table_rows(spark, specs["bronze_events_raw"], this_batch)
    assert stats.silver_rows == _table_rows(spark, specs["silver_events"])
    assert stats.reject_rows == _table_rows(spark, specs["silver_rejects"])
    assert set(stats.gold_rows) == {k for k in specs if k.startswith("gold_")}
    for key, n in stats.gold_rows.items():
        assert n == _table_rows(spark, specs[key]), key


def _within(seconds: float, fn):
    """``fn()``'s result, failing instead of hanging if it blocks."""
    out = []
    t = threading.Thread(target=lambda: out.append(fn()), daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"did not return within {seconds}s"
    assert out, "raised; see the thread traceback above"
    return out[0]


def test_write_table_returns_rows_written(spark, tmp_path):
    # empty partitioned frame (an empty KPI on a tiny corpus): 0, no hang
    spec = TableSpec("gold.empty", str(tmp_path / "empty"), ("p_event_date",))
    empty = (
        spark.range(10)
        .filter("id < 0")
        .groupBy(F.current_date().alias("p_event_date"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert _within(120, lambda: write_table(empty, spec)) == 0
    assert _table_rows(spark, spec) == 0

    # append and dynamic partition overwrite: the rows of this write only
    spec = TableSpec("t.parts", str(tmp_path / "parts"), ("p",))

    def rows(n, p):
        return spark.createDataFrame([(i, p) for i in range(n)], "id int, p string")

    assert write_table(rows(3, "a").unionByName(rows(2, "b")), spec) == 5
    assert write_table(rows(4, "b"), spec, mode="append") == 4
    assert _table_rows(spark, spec) == 9
    assert write_table(rows(7, "a"), spec) == 7  # replaces partition a only
    assert _table_rows(spark, spec) == 7 + 6

    # a malformed line and a contract violation reach the rejects table
    events = generate_events(CFG)[:20]
    bad_type = dict(events[0], eventId="bad-type", eventType="story_deleted")
    lines = [json.dumps(e) for e in events] + ["{not json", json.dumps(bad_type)]
    raw = tmp_path / "raw.ndjson"
    raw.write_text("\n".join(lines) + "\n")
    specs = lakehouse_specs(str(tmp_path / "lh"))
    bronze_rows = ingest_ndjson(
        spark, str(raw), specs["bronze_events_raw"], ingested_at=AS_OF_TS
    )
    assert bronze_rows == len(lines) == _table_rows(spark, specs["bronze_events_raw"])
    good, bad = silver.transform(
        read_table(spark, specs["bronze_events_raw"]), as_of_ts=AS_OF_TS, rejected_at=AS_OF_TS
    )
    assert write_table(good, specs["silver_events"]) == 20
    assert write_table(bad, specs["silver_rejects"]) == 2
    assert _table_rows(spark, specs["silver_rejects"]) == 2


def test_rerun_overwrite_idempotent(spark, stats_and_root):
    stats, root = stats_and_root
    stats2 = run_all(
        spark, root, cfg=CFG, as_of_ts=AS_OF_TS, as_of_date="2026-05-01",
        ingested_at="2026-05-02 00:00:00",
    )
    # bronze appends (two batches), but silver dedups back to one copy
    assert stats2.silver_rows == stats.silver_rows
    assert stats2.gold_rows == stats.gold_rows


def test_sql_views_match_dataframe_results(spark):
    """spark.sql over register_views' temp views returns the same rows as
    the DataFrame formulation — the SQL-first usage surface is live."""
    from creatorops_lakehouse_spark.queries import register_views
    from creatorops_lakehouse_spark.queries.relational import (
        tpch_q1_pricing_summary,
    )

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    got = spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).collect()
    assert len(got) > 0 and all(r.n > 0 for r in got)
    # a full TPC-H-shape query agrees between the two surfaces
    df_rows = sorted(map(tuple, tpch_q1_pricing_summary(spark, sf).collect()))
    sql_rows = sorted(
        map(
            tuple,
            spark.sql(
                """
                SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
                       COUNT(*) AS count_order
                FROM lineitem
                WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
                GROUP BY 1, 2
                """
            ).collect(),
        )
    )
    got_counts = {(r[0], r[1]): r[-1] for r in df_rows}
    sql_counts = {(r[0], r[1]): r[-1] for r in sql_rows}
    assert got_counts == sql_counts
