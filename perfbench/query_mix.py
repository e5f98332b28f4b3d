"""``query_mix``: query the tables.

Each pass runs the registered queries below, one from every query module
(two from ``events``), in a fixed order; a query op builds the query and
collects its result to the driver. Caches stay as a long-lived session
leaves them, and nothing is written. The first pass runs cold, in the
fresh session, so the order is fixed: in a cold pass, whichever query
first uses an operator pays its JIT and code generation.

The traced run then runs the curation job a training-data team runs over
the same ``documents`` table, ``curation.run`` and
``curation.write_result`` (every stage table and the audit manifest), for
the ``curation.*`` layer metrics. It is outside the pass: at 100-170
Spark jobs it takes 27-45 s whatever the document count, more than the
untraced runs can spend.

The tables are generated from a fixed data seed, so that every result can
be checked, outside the timed span, against the DuckDB oracle's row count
and order-insensitive hash pinned in ``pinned.json`` (``pin.py``); the
curation manifest is checked against the oracle of the registered
``docs_curation_e2e_verdict`` query, which recomputes the same chain. The
workload seed therefore changes nothing here.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import checks, inputs
from perfbench.common import median_of

#: one query per module (two from ``events``); events_pivot_daily_types
#: (functions), docs_temperature_mixture (llmprep) and
#: graph_degree_histogram (graph) stand in for costlier queries of their
#: modules, to keep a run inside its time budget (README.md)
SQL_QUERIES = (
    "events_cohort_retention",
    "events_session_windows",
    "tpch_q3_shipping_priority",
    "tpch_q9_profit_by_nation_year",
    "events_pivot_daily_types",
)
OPERATOR_QUERIES = (
    "docs_exact_dedup_clusters",
    "emb_cosine_topk_bruteforce",
    "docs_quality_signals",
    "docs_temperature_mixture",
    "graph_degree_histogram",
)
#: the registered query whose DuckDB oracle recomputes the curation
#: manifest (its pin is the expected manifest row)
CURATION_ORACLE = "docs_curation_e2e_verdict"
#: manifest row count column -> the stage table write_result persisted
CURATION_TABLES = {"n_quality": "quality", "n_neardup": "deduped",
                   "n_clean": "clean_train", "n_mixture": "mixture"}
#: modules the queries above come from; each is one traced layer
MODULES = (
    "events", "advanced", "relational", "tpch_extra", "functions",
    "dedup", "similarity", "text", "llmprep", "graph",
)
LAYER_FIELDS = ("wall_s", "jobs", "stages", "executor_run_s", "shuffle_write_bytes", "driver_gap_s")


def run(ctx) -> None:
    from creatorops_lakehouse_spark.queries import all_queries

    spark, rec, tr = ctx.spark, ctx.record, ctx.tracer
    table_dir = os.path.join(ctx.work_dir, "tables")
    stage_s, sizes = median_of(lambda: inputs.write_tables(table_dir))
    rec.setup_s = ctx.session_s + stage_s
    registry = all_queries()
    names = SQL_QUERIES + OPERATOR_QUERIES
    layer = {n: "queries." + registry[n].__module__.rsplit(".", 1)[1] for n in names}
    pinned = checks.load_pinned()["query_mix"]
    rec.inputs = {"tables": sizes, "queries": len(names)}
    if ctx.trace:
        rec.inputs["curated_docs"] = sizes["documents"]

    sql_s, op_s, cur_s = [], [], []
    p = 0
    ctx.clock.start()
    while p == 0 or ctx.clock.more():
        tr.op = p
        times: dict[str, float] = {}
        cpu_s = 0.0
        for n in names:
            rec.attempted += 1
            c = ctx.cpu.now()
            t = time.perf_counter()
            try:
                with tr.span(layer[n], n):
                    pdf = registry[n](spark, table_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                rec.fail(f"{n}: {type(e).__name__}: {e}")
                continue
            dt = time.perf_counter() - t
            c = ctx.cpu.now() - c
            got = list(checks.frame_hash(pdf))
            if got != pinned[n]:
                rec.fail(f"{n}: (rows, hash) {got} != oracle {pinned[n]}")
                continue
            times[n] = dt
            cpu_s += c
            rec.calls.append((n, dt))
            if ctx.trace:
                ctx.cached_mb = max(ctx.cached_mb, tr.cached_mb())
        if len(times) == len(names):
            rec.passes.append(sum(times.values()))
            rec.cpu_passes.append(cpu_s)
            sql_s.append(sum(times[n] for n in SQL_QUERIES))
            op_s.append(sum(times[n] for n in OPERATOR_QUERIES))
        if ctx.trace:
            cur_s.append(_curate(ctx, table_dir, p, pinned[CURATION_ORACLE]))
            tr.collect()
            ctx.layer_samples.append(_layer_metrics(tr, p, ctx.cached_mb))
        p += 1
    if sql_s:
        rec.detail["sql_queries_s"] = statistics.median(sql_s)
        rec.detail["operator_queries_s"] = statistics.median(op_s)
    cur_s = [x for x in cur_s if x is not None]
    if cur_s:
        rec.detail["curation_s"] = statistics.median(cur_s)
        rec.detail["curation_docs_per_s"] = sizes["documents"] / statistics.median(cur_s)


def _curate(ctx, table_dir: str, p: int, pin: list) -> float | None:
    """One checked curation run over the documents table; its seconds,
    or None if it failed."""
    from creatorops_lakehouse_spark import curation
    from creatorops_lakehouse_spark.queries import load

    spark, rec, tr = ctx.spark, ctx.record, ctx.tracer
    rec.attempted += 1
    t = time.perf_counter()
    try:
        with tr.span("curation", "run"):
            result = curation.run(
                spark, load(spark, table_dir, "documents").select("doc_id", "text", "lang")
            )
        with tr.span("curation", "write_result"):
            specs = curation.write_result(spark, result, os.path.join(ctx.work_dir, f"curation-{p}"))
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        rec.fail(f"curation: {type(e).__name__}: {e}")
        return None
    dt = time.perf_counter() - t
    ctx.cached_mb = max(ctx.cached_mb, tr.cached_mb())
    problems = _check_curation(spark, specs, pin)
    if problems:
        rec.fail(f"curation: {problems}")
        return None
    rec.calls.append(("curation", dt))
    return dt


def _check_curation(spark, specs: dict, pin: list) -> list[str]:
    """The persisted manifest equals the oracle's row, its two
    conservation flags hold, and each persisted stage table has the row
    count the manifest reports for it."""
    from creatorops_lakehouse_spark.sources.snapshots import snapshot_read

    out = []
    manifest = snapshot_read(spark, specs["manifest"]).toPandas()
    got = list(checks.frame_hash(manifest))
    if got != pin:
        out.append(f"manifest (rows, hash) {got} != oracle {pin}")
    if len(manifest) == 1:
        row = manifest.iloc[0]
        if not (row["shards_conserve"] and row["pack_counts_ok"]):
            out.append("manifest conservation flags are not both true")
        for col, stage in CURATION_TABLES.items():
            n = snapshot_read(spark, specs[stage]).count()
            if n != row[col]:
                out.append(f"{stage} table has {n} rows, manifest {col} = {row[col]}")
    return out


def _layer_metrics(tr, op: int, cached_mb: float) -> dict:
    m: dict[str, float] = {"operators.cache.peak_cached_mb": cached_mb}
    for lay in [f"queries.{x}" for x in MODULES] + ["curation"]:
        acc = dict.fromkeys(LAYER_FIELDS, 0.0)
        for s in tr.layer_spans(lay, op):
            st = tr.job_stats(tr.subtree_jobs(s), s.start, s.end)
            acc["wall_s"] += s.duration
            for f in LAYER_FIELDS[1:]:
                acc[f] += st[f]
        for f in LAYER_FIELDS:
            if lay != "curation" or f != "driver_gap_s":
                m[f"{lay}.{f}"] = acc[f]
    return m
