"""``snapshot_dml``: update tables.

A seeded op stream runs against one snapshot-log table of orders-like
rows (stats on key and day, a bloom filter on customer) that has an
aggregate view over it: appends, merges, deletes and updates, point
lookups (``eq_in``), key-range reads, time-travel reads, a view refresh
per cycle, and OPTIMIZE + checkpoint + VACUUM at the end of every cycle.
The log and the directory count grow while the run reads and writes the
same table.

Every read, the head after each cycle and the view after each refresh are
compared with a pure-Python model of the applied ops. The first cycle runs
cold, in the fresh session: a warm-up cycle would cost as much again.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import inputs
from perfbench.common import median_of, nearest_rank

COMMITS = ("append", "merge", "delete", "update")
READS = ("lookup", "range", "time_travel")
MAINTENANCE = ("optimize", "checkpoint", "vacuum")
OP_KINDS = COMMITS + READS + MAINTENANCE
KEYS = ["day"]
SUMS = {"total_cents": "cents"}
MAXS = {"max_cents": "cents"}
STATS = ("order_id", "day")
BLOOM = ("cust_id",)


def _walk(path: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:  # vacuumed while listing
                pass
    return out


class Model:
    """The table as a dict order_id -> row, and its state per version."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}
        self.versions: dict[int, dict[int, tuple]] = {}

    def commit(self, version: int) -> None:
        self.versions[version] = dict(self.rows)

    def view(self) -> set[tuple]:
        acc: dict[int, list] = {}
        for _, _, day, cents, _ in self.rows.values():
            a = acc.setdefault(day, [0, 0, 0])
            a[0] += 1
            a[1] += cents
            a[2] = max(a[2], cents)
        return {(d, n, s, m) for d, (n, s, m) in acc.items()}


def _rows(rs) -> set[tuple]:
    return {(r.order_id, r.cust_id, r.day, r.cents, r.status) for r in rs}


def run(ctx) -> None:
    from creatorops_lakehouse_spark.sources import matview as mv
    from creatorops_lakehouse_spark.sources import snapshots as sn
    from creatorops_lakehouse_spark.sources.tables import TableSpec

    spark, rec, tr = ctx.spark, ctx.record, ctx.tracer
    spec = TableSpec("dml.orders", os.path.join(ctx.work_dir, "orders"))
    view = TableSpec("dml.by_day", os.path.join(ctx.work_dir, "orders_by_day"))
    stream = inputs.DmlStream(ctx.seed)
    model = Model()
    trace_rows: list[dict] = []
    cpu = [0.0]  # CPU seconds of the current cycle's ops

    def df(rows):
        return spark.createDataFrame(rows, inputs.DML_SCHEMA)

    def check_head(what: str) -> None:
        got = _rows(sn.snapshot_read(spark, spec).collect())
        if got != set(model.rows.values()):
            rec.fail(f"{what}: head differs from the model")

    def check_view(what: str) -> None:
        got = {(r.day, r.n_rows, int(r.total_cents), r.max_cents)
               for r in sn.snapshot_read(spark, view).collect()}
        if got != model.view():
            rec.fail(f"{what}: view differs from the model's GROUP BY")

    def do(op, cycle: int) -> None:
        kind = op.kind
        before = _walk(spec.path) if ctx.trace and kind in COMMITS + ("optimize",) else None
        live_rows = len(model.rows)
        expect = None
        c0 = ctx.cpu.now()
        t0 = time.perf_counter()
        lay = "sources.matview" if kind == "refresh" else "sources.snapshots"
        with tr.span(lay, kind):
            if kind == "append":
                v = sn.snapshot_write(df(op.rows), spec, stats_cols=STATS, bloom_for=BLOOM)
            elif kind == "merge":
                v = sn.snapshot_merge(spark, spec, df(op.rows), keys=["order_id"])
            elif kind == "delete":
                v = sn.snapshot_delete_where(spark, spec, {"order_id": (op.lo, op.hi)})
            elif kind == "update":
                v = sn.snapshot_update_where(
                    spark, spec, {"order_id": (op.lo, op.hi)},
                    {"cents": f"cents + {op.values[0]}"},
                )
            elif kind == "lookup":
                got = _rows(sn.snapshot_read_where(
                    spark, spec, eq_in={"cust_id": op.values}).collect())
                expect = {r for r in model.rows.values() if r[1] in op.values}
            elif kind == "range":
                got = _rows(sn.snapshot_read_where(
                    spark, spec, ranges={"order_id": (op.lo, op.hi)}).collect())
                expect = {r for r in model.rows.values() if op.lo <= r[0] <= op.hi}
            elif kind == "time_travel":
                kept = sorted(set(model.versions) & {h["version"] for h in history})
                tv = kept[op.values[0] % len(kept)]
                got = _rows(sn.snapshot_read(spark, spec, version=tv).collect())
                expect = set(model.versions[tv].values())
            elif kind == "refresh":
                _, mode = mv.refresh_agg_view(
                    spark, spec, view, KEYS, SUMS, ["order_id"], maxs=MAXS,
                    on_dml="rescan_groups",
                )
            elif kind == "optimize":
                v = sn.optimize_snapshots(spark, spec, bloom_for=BLOOM)
            elif kind == "checkpoint":
                sn.checkpoint_manifest(spec)
            elif kind == "vacuum":
                sn.vacuum_snapshots(spec, keep_last=inputs.VACUUM_KEEP)
        dt = time.perf_counter() - t0
        cpu[0] += ctx.cpu.now() - c0
        rec.attempted += 1
        changed = 0
        if kind == "append":
            model.rows.update((r[0], r) for r in op.rows)
        elif kind == "merge":
            changed = len(op.rows)
            model.rows.update((r[0], r) for r in op.rows)
        elif kind == "delete":
            doomed = [k for k in model.rows if op.lo <= k <= op.hi]
            changed = len(doomed)
            for k in doomed:
                del model.rows[k]
        elif kind == "update":
            for k, r in list(model.rows.items()):
                if op.lo <= k <= op.hi:
                    changed += 1
                    model.rows[k] = (r[0], r[1], r[2], r[3] + op.values[0], r[4])
        if kind in COMMITS or kind == "optimize":
            model.commit(v)
        if kind == "vacuum":
            history[:] = sn.snapshot_history(spec)
        elif kind in COMMITS or kind == "optimize":
            history.append({"version": v})
        ok = True
        if expect is not None and got != expect:
            rec.fail(f"{kind} (cycle {cycle}): result differs from the model")
            ok = False
        if kind == "refresh":
            n_before = rec.failed
            check_view(f"refresh (cycle {cycle})")
            ok = rec.failed == n_before
            rec.detail.setdefault("refresh_modes", []).append(mode)
        if ok:
            rec.calls.append((kind, dt))
        if ctx.trace:
            row = {"kind": kind, "op": tr.op, "changed": changed, "live_rows": live_rows}
            if before is not None:
                after = _walk(spec.path)
                new = [p for p in after if p not in before]
                row["files"] = len(new)
                row["bytes"] = sum(after[p] for p in new)
                row["data_bytes"] = sum(after[p] for p in new if p.endswith(".parquet")
                                        and os.sep + "_" not in p[len(spec.path):])
            if kind == "lookup":
                row["pruning"] = sn.pruned_dirs(spec, {}, eq_in={"cust_id": op.values})
            elif kind == "range":
                row["pruning"] = sn.pruned_dirs(spec, {"order_id": (op.lo, op.hi)})
            row["live_bytes"] = _live_bytes(sn, spec)
            trace_rows.append(row)

    def cycle(c: int) -> None:
        tr.op = c
        for op in stream.cycle() + [inputs.DmlOp(k) for k in MAINTENANCE]:
            try:
                do(op, c)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                rec.attempted += 1
                rec.fail(f"{op.kind} (cycle {c}): {type(e).__name__}: {e}")
        check_head(f"cycle {c}")

    gen_s, _ = median_of(lambda: inputs.DmlStream(ctx.seed).initial())
    initial = stream.initial()
    t0 = time.perf_counter()
    model.rows.update((r[0], r) for r in initial)
    model.commit(sn.snapshot_write(df(initial), spec, stats_cols=STATS, bloom_for=BLOOM))
    mv.create_agg_view(spark, spec, view, KEYS, SUMS, maxs=MAXS)
    rec.setup_s = ctx.session_s + gen_s + (time.perf_counter() - t0)
    history: list[dict] = sn.snapshot_history(spec)
    check_view("create_agg_view")
    rec.inputs = {"initial_rows": len(initial), "ops_per_cycle": len(inputs.DML_CYCLE) + len(MAINTENANCE)}

    c = 0
    ctx.clock.start()
    while c == 0 or ctx.clock.more():
        n_calls = len(rec.calls)
        failed = rec.failed
        cpu[0] = 0.0
        cycle(c)
        if rec.failed == failed:
            rec.passes.append(sum(t for _, t in rec.calls[n_calls:]))
            rec.cpu_passes.append(cpu[0])
        if ctx.trace:
            tr.collect()
        c += 1
    rec.inputs["cycles"] = c
    rec.inputs["final_rows"] = len(model.rows)
    rec.inputs["versions"] = sn.current_version(spec)
    commits = rec.kind_times(*COMMITS)
    lookups = rec.kind_times("lookup")
    refreshes = rec.kind_times("refresh")
    sizes = _walk(spec.path)
    live = _live_bytes(sn, spec)
    rec.detail.update({
        "commit_p50_s": nearest_rank(commits, 50) if commits else None,
        "lookup_p50_s": nearest_rank(lookups, 50) if lookups else None,
        "lookup_p90_s": nearest_rank(lookups, 90) if lookups else None,
        "refresh_p50_s": nearest_rank(refreshes, 50) if refreshes else None,
        "snapshot_bytes_per_live_byte": sum(sizes.values()) / live,
    })
    if ctx.trace:
        ctx.layer_samples.append(_layer_metrics(tr, spec, sizes, live, trace_rows, rec))


def _live_bytes(sn, spec) -> int:
    """Bytes of the data files the head version references."""
    head = sn.current_version(spec)
    return sum(sum(_walk(d).values()) for d in sn.snapshot_dirs(spec, head))


def _layer_metrics(tr, spec, sizes, live, rows, rec) -> dict:
    m: dict[str, float] = {}
    spans = [s for s in tr.spans if s.op is not None and s.op >= 0]
    for kind in OP_KINDS:
        ds = [s.duration for s in spans if s.layer == "sources.snapshots" and s.name == kind]
        m[f"sources.snapshots.{kind}.wall_s"] = statistics.median(ds) if ds else 0.0
    commit_spans = [s for s in spans if s.layer == "sources.snapshots" and s.name in COMMITS]
    stats = [tr.job_stats(tr.subtree_jobs(s), s.start, s.end) for s in commit_spans]
    m["sources.snapshots.jobs_per_commit"] = statistics.mean(st["jobs"] for st in stats)
    m["sources.snapshots.driver_gap_s"] = statistics.median(st["driver_gap_s"] for st in stats)
    crows = [r for r in rows if r["kind"] in COMMITS]
    m["sources.snapshots.files_per_commit"] = statistics.mean(r["files"] for r in crows)
    m["sources.snapshots.bytes_written_per_commit"] = statistics.mean(r["bytes"] for r in crows)
    rewritten = changed = 0.0
    for r in rows:
        if r["kind"] in ("merge", "delete", "update") and r["changed"] and r["live_rows"]:
            rewritten += r["data_bytes"]
            changed += r["changed"] * r["live_bytes"] / r["live_rows"]
    m["sources.snapshots.rewrite_bytes_per_changed_byte"] = rewritten / changed if changed else 0.0
    kept = skipped = 0
    for r in rows:
        if "pruning" in r:
            kept += len(r["pruning"][0])
            skipped += len(r["pruning"][1])
    m["sources.snapshots.pruned_dir_ratio"] = skipped / (kept + skipped) if kept + skipped else 0.0
    m["sources.snapshots.log_files"] = sum(
        1 for p in sizes if os.sep + "_manifests" + os.sep in p
    )
    m["sources.snapshots.sidecar_bytes"] = sum(
        b for p, b in sizes.items()
        if os.sep + "_bloom" + os.sep in p or os.sep + "_cdf" + os.sep in p
    )
    m["sources.snapshots.bytes_per_live_byte"] = sum(sizes.values()) / live
    ref = [s for s in spans if s.layer == "sources.matview"]
    m["sources.matview.wall_s"] = statistics.median(s.duration for s in ref)
    m["sources.matview.jobs"] = statistics.median(len(tr.subtree_jobs(s)) for s in ref)
    modes = rec.detail.get("refresh_modes", [])
    m["sources.matview.incremental_ratio"] = (
        sum(md.startswith("incremental") or md.startswith("noop") for md in modes) / len(modes)
    )
    return m
