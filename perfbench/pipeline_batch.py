"""``pipeline_batch``: build the lakehouse tables from raw events.

One op = ``run_all`` over a seeded ``GeneratorConfig`` corpus (generator →
bronze → silver → gold, plus its post-write counts), then a late batch of
re-delivered duplicates and contract violations through ``ingest_ndjson``
→ ``silver.transform`` → ``write_table``. The op runs in a fresh session
and is timed cold, as a scheduled batch job runs it.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from perfbench import checks, inputs
from perfbench.common import median_of

LAYERS = ("pipelines.bronze", "pipelines.silver", "pipelines.gold")
#: files below this size count as small in ``sources.tables.small_file_ratio``
SMALL_FILE_BYTES = 128 * 1024


def _spec_layer(args, kwargs) -> str:
    """Layer a write/read belongs to: the one that owns its table."""
    spec = args[1] if len(args) > 1 else kwargs.get("spec")
    prefix = spec.name.split(".", 1)[0]
    return {"bronze": "pipelines.bronze", "silver": "pipelines.silver",
            "gold": "pipelines.gold"}.get(prefix, "sources.tables")


def _stage(work: str, seed: int, op: int) -> dict:
    """Write one op's inputs: the corpus the benchmark expects run_all to
    generate (for the checks) and the late-batch NDJSON file."""
    from creatorops_lakehouse_spark.generator import generate_events

    cfg = inputs.medallion_config(seed * 1000 + op)
    events = generate_events(cfg)
    late = inputs.late_batch(seed * 1000 + op, events)
    root = os.path.join(work, f"lakehouse-{op}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "late"))
    late_path = os.path.join(root, "late", "late.ndjson")
    with open(late_path, "w") as fh:
        fh.write("\n".join(late.lines) + "\n")
    corpus = [json.dumps(e, separators=(",", ":")) for e in events]
    return {"cfg": cfg, "root": root, "late": late, "late_path": late_path, "corpus": corpus}


def _files(path: str, suffix: str = ".parquet") -> list[int]:
    """Sizes of the files under ``path`` whose names end with ``suffix``."""
    out = []
    for d, _, fs in os.walk(path):
        out.extend(os.path.getsize(os.path.join(d, f)) for f in fs if f.endswith(suffix))
    return out


def run(ctx) -> None:
    from creatorops_lakehouse_spark.operators.cache import release_scoped_caches
    from creatorops_lakehouse_spark.pipelines import bronze, silver
    from creatorops_lakehouse_spark.pipelines import run_all as run_all_mod
    from creatorops_lakehouse_spark.sources.tables import lakehouse_specs, read_table, write_table

    spark, rec, tr = ctx.spark, ctx.record, ctx.tracer
    stage_s, _ = median_of(lambda: _stage(ctx.work_dir, ctx.seed, 0))
    rec.setup_s = ctx.session_s + stage_s

    if ctx.trace:
        for name in ("generate_events", "write_ndjson_partitioned"):
            tr.wrap(run_all_mod, name, "generator")
        tr.wrap(run_all_mod, "ingest_ndjson", "pipelines.bronze")
        tr.wrap(bronze, "write_table", "pipelines.bronze")
        tr.wrap(silver, "transform", "pipelines.silver")
        for name in ("writing_velocity_daily", "revision_churn_daily",
                     "engagement_bands_daily", "dropoff_rate_daily", "stage_bottlenecks"):
            tr.wrap(run_all_mod, name, "pipelines.gold")
        tr.wrap(run_all_mod, "write_table", _spec_layer, "write_table")
        tr.wrap(run_all_mod, "read_table", _spec_layer, "read_table")

    op = 0
    ctx.clock.start()
    while op == 0 or ctx.clock.more():
        staged = _stage(ctx.work_dir, ctx.seed, op)
        root, late = staged["root"], staged["late"]
        specs = lakehouse_specs(root)
        tr.op = op
        rec.attempted += 1
        c0 = ctx.cpu.now()
        t0 = time.perf_counter()
        try:
            with tr.span("pipelines.run_all", "run_all"):
                stats = run_all_mod.run_all(
                    spark, root, staged["cfg"], as_of_ts=inputs.AS_OF_TS,
                    as_of_date=inputs.AS_OF_DATE, ingested_at=inputs.INGESTED_AT,
                )
            t1 = time.perf_counter()
            with tr.span("pipelines.bronze", "ingest_ndjson"):
                bronze.ingest_ndjson(
                    spark, staged["late_path"], specs["bronze_events_raw"],
                    ingested_at=inputs.LATE_INGESTED_AT,
                )
            t2 = time.perf_counter()
            with tr.span("pipelines.silver", "transform"):
                good, bad = silver.transform(
                    read_table(spark, specs["bronze_events_raw"]),
                    as_of_ts=inputs.AS_OF_TS, rejected_at=inputs.AS_OF_TS,
                )
            with tr.span("pipelines.silver", "write_table"):
                write_table(good, specs["silver_events"])
                write_table(bad, specs["silver_rejects"])
            t3 = time.perf_counter()
            cpu_s = ctx.cpu.now() - c0
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            rec.fail(f"pipeline op {op}: {type(e).__name__}: {e}")
            op += 1
            continue
        cached_mb = tr.cached_mb() if ctx.trace else 0.0
        release_scoped_caches()
        spark.catalog.clearCache()
        raw = sum(_files(os.path.join(root, "raw"), "")) + os.path.getsize(staged["late_path"])
        problems = _check(root, staged, stats)
        if problems:
            rec.fail(f"pipeline op {op}: {problems}")
        else:
            rec.calls += [("run_all", t1 - t0), ("ingest_ndjson", t2 - t1),
                          ("transform_write", t3 - t2)]
            rec.passes.append(t3 - t0)
            rec.cpu_passes.append(cpu_s)
            n_events = len(staged["corpus"]) + len(late.lines)
            rec.detail.setdefault("medallion_events_per_s", []).append(n_events / (t3 - t0))
            rec.detail.setdefault("lakehouse_bytes_per_raw_byte", []).append(
                sum(_files(root)) / raw
            )
        rec.inputs = {
            "events": len(staged["corpus"]), "late_lines": len(late.lines),
            "late_duplicates": late.duplicates, "late_rejects": late.rejects,
            "raw_ndjson_bytes": raw,
        }
        if ctx.trace:
            tr.collect()
            ctx.layer_samples.append(_layer_metrics(tr, op, root, raw, cached_mb))
        op += 1


def _check(root: str, staged: dict, stats) -> list[str]:
    """Conservation, reject taxonomy, keep-latest dedup and gold
    correctness of one op. Gold is built by ``run_all`` from the corpus
    alone; silver is rewritten by the late batch over both batches."""
    late = staged["late"]
    n_corpus, n_late = len(staged["corpus"]), len(late.lines)
    out = []
    if (stats.bronze_rows, stats.silver_rows, stats.reject_rows) != (n_corpus, n_corpus, 0):
        out.append(f"run_all stats {stats} for a {n_corpus}-event valid corpus")
    con = checks.duckdb_connect()

    def count(rel: str) -> int:
        return con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{root}/{rel}/**/*.parquet', "
            "hive_partitioning = true)"
        ).fetchone()[0]

    n_bronze = count("bronze/creatorops_events_raw")
    n_silver = count("silver/creatorops_events")
    n_rej = count("silver/creatorops_rejects")
    if n_bronze != n_corpus + n_late:
        out.append(f"bronze rows {n_bronze} != lines written {n_corpus + n_late}")
    if n_silver + n_rej + late.duplicates != n_bronze:
        out.append(f"silver {n_silver} + rejects {n_rej} + superseded {late.duplicates} != bronze {n_bronze}")
    got = dict(con.execute(
        f"SELECT reject_reason, COUNT(*) FROM read_parquet('{root}/silver/creatorops_rejects/**/*.parquet', "
        "hive_partitioning = true) GROUP BY 1"
    ).fetchall())
    if got != late.rejects:
        out.append(f"reject counts {got} != injected {late.rejects}")
    con.close()
    n = checks.silver_mismatches(
        [staged["corpus"], late.lines], os.path.join(root, "silver", "creatorops_events"),
        inputs.AS_OF_TS,
    )
    if n:
        out.append(f"silver rows differing from the DuckDB recomputation (latest batch wins): {n}")
    bad = checks.gold_mismatches(
        [staged["corpus"]], os.path.join(root, "gold"), inputs.AS_OF_TS, inputs.AS_OF_DATE
    )
    if bad:
        out.append(f"gold rows differing from the DuckDB recomputation: {bad}")
    return out


def _layer_metrics(tr, op: int, root: str, raw_bytes: int, cached_mb: float) -> dict:
    m: dict[str, float] = {}
    gen = tr.layer_spans("generator", op)
    m["generator.self_s"] = sum(tr.self_time(s) for s in gen)
    for layer in LAYERS:
        m[f"{layer}.wall_s"] = m[f"{layer}.jobs"] = m[f"{layer}.stages"] = 0
        m[f"{layer}.shuffle_write_bytes"] = 0
        for s in tr.layer_spans(layer, op):
            st = tr.job_stats(tr.subtree_jobs(s), s.start, s.end)
            m[f"{layer}.wall_s"] += s.duration
            for f in ("jobs", "stages", "shuffle_write_bytes"):
                m[f"{layer}.{f}"] += st[f]
    m["pipelines.bronze.files_written"] = len(_files(os.path.join(root, "bronze")))
    m["pipelines.silver.files_written"] = len(_files(os.path.join(root, "silver")))
    m["pipelines.gold.files_written"] = len(_files(os.path.join(root, "gold")))
    (ra,) = tr.layer_spans("pipelines.run_all", op)
    own = tr.job_stats(ra.jobs, ra.start, ra.end)
    m["pipelines.run_all.count_jobs"] = own["jobs"]
    m["pipelines.run_all.count_s"] = own["job_s"]
    sizes = _files(root)
    m["sources.tables.files_written"] = len(sizes)
    m["sources.tables.bytes_written"] = sum(sizes)
    m["sources.tables.small_file_ratio"] = sum(s < SMALL_FILE_BYTES for s in sizes) / len(sizes)
    m["sources.tables.bytes_per_raw_byte"] = sum(sizes) / raw_bytes
    m["operators.cache.peak_cached_mb"] = cached_mb
    return m
