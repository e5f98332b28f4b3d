"""Seeded input generation for the benchmark workloads.

Everything the program under test sees is produced here from the workload
seed (or, for the fixed query tables, from a constant data seed so that
their oracle hashes can be pinned):

- ``medallion_config``: the ``GeneratorConfig`` corpus of one
  ``pipeline_batch`` op (capped to a fixed event count so every op does
  the same amount of work);
- ``late_batch``: re-delivered duplicates plus seeded counts of each
  contract violation the silver layer must quarantine;
- ``write_tables``: the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registered queries read;
- ``DmlStream``: the ``snapshot_dml`` rows and op stream.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: data seed of the fixed query tables (their oracle hashes are pinned in
#: ``pinned.json``)
DATA_SEED = 20240101

# --------------------------------------------------------------------------
# pipeline_batch
# --------------------------------------------------------------------------

#: events per medallion corpus; the world below always generates more, and
#: the generator's own downsample cap trims it to exactly this many
MEDALLION_EVENTS = 3000
#: contract violations injected by the late batch, one kind each
#: (the reasons ``queries/medallion.py`` hash-checks)
REJECT_KINDS = (
    "JSON_PARSE_FAILED",
    "MISSING_STORY_ID",
    "INVALID_EVENT_TYPE",
    "NON_NUMERIC_WORD_COUNT",
    "INVALID_ENGAGEMENT_SCORE",
    "FUTURE_OCCURRED_AT",
)
#: lines in one late batch: duplicates + rejects always sum to this
LATE_LINES = 240
#: the run's pinned clock: lineage stamps and the future-event guard
AS_OF_TS = "2026-12-31 00:00:00"
AS_OF_DATE = "2026-12-31"
INGESTED_AT = "2026-05-31 00:00:00"
LATE_INGESTED_AT = "2026-05-31 06:00:00"


def medallion_config(seed: int):
    from creatorops_lakehouse_spark.generator import GeneratorConfig

    return GeneratorConfig(
        seed=seed,
        n_tenants=5,
        authors_per_tenant=8,
        stories_per_author=6,
        start_date=date(2026, 4, 1),
        days=7,
        target_total_events=MEDALLION_EVENTS,
    )


@dataclass
class LateBatch:
    lines: list[str]
    #: reject reason -> injected count
    rejects: dict[str, int]
    #: re-delivered (superseding) duplicates
    duplicates: int


def late_batch(seed: int, events: list[dict]) -> LateBatch:
    """Re-delivered duplicates of corpus events (with bumped metrics, so
    keep-latest dedup is visible in gold) plus seeded counts of each
    reject kind. Counts vary with the seed; the line total does not."""
    rng = random.Random(seed)
    n_rej = {k: rng.randint(5, 25) for k in REJECT_KINDS}
    n_dup = LATE_LINES - sum(n_rej.values())
    lines: list[str] = []
    for ev in rng.sample(events, n_dup):
        ev = json.loads(json.dumps(ev))
        metrics = ev.get("metrics")
        if metrics:
            for k in ("wordCount", "revisionCount"):
                if k in metrics:
                    metrics[k] += 1000
            if "engagementScore" in metrics:
                metrics["engagementScore"] = round(100 - metrics["engagementScore"], 1)
        else:
            ev["metadata"]["redelivered"] = "1"
        lines.append(json.dumps(ev, separators=(",", ":")))
    base = rng.sample(events, sum(n_rej.values()))
    i = 0
    for kind in REJECT_KINDS:
        for _ in range(n_rej[kind]):
            ev = json.loads(json.dumps(base[i]))
            ev["eventId"] = f"late_{seed % 100000:05d}_{i:05d}"
            i += 1
            if kind == "JSON_PARSE_FAILED":
                lines.append(f'{{"eventId":"{ev["eventId"]}","eventType":BROKEN')
                continue
            if kind == "MISSING_STORY_ID":
                ev["entity"].pop("storyId")
            elif kind == "INVALID_EVENT_TYPE":
                ev["eventType"] = "bogus_type"
            elif kind == "NON_NUMERIC_WORD_COUNT":
                ev["eventType"] = "chapter_written"
                ev["stage"] = "WRITE"
                ev["metrics"] = {"wordCount": "many"}
            elif kind == "INVALID_ENGAGEMENT_SCORE":
                ev["eventType"] = "reader_engagement"
                ev["stage"] = "ENGAGEMENT"
                ev["metrics"] = {"engagementScore": 150.0}
            elif kind == "FUTURE_OCCURRED_AT":
                ev["occurredAt"] = "2031-01-01T00:00:00Z"
            lines.append(json.dumps(ev, separators=(",", ":")))
    rng.shuffle(lines)
    return LateBatch(lines=lines, rejects=n_rej, duplicates=n_dup)


# --------------------------------------------------------------------------
# query tables (fixed data seed)
# --------------------------------------------------------------------------

#: rows at this scale relative to TPC-H sf=1 (lineitem 6M x SCALE)
SCALE = 0.05
VOCAB = (
    "a the data spark table query join filter scan sort merge group agg "
    "window stream batch column row key value hash part line order customer "
    "vector small big fast slow"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
N_DOCS = 500
N_EMBEDDINGS = 500
EMB_DIM = 64
EMB_CLUSTERS = 10


def _days(start: date, n: int, span: int, rng) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def write_tables(out_dir: str) -> dict[str, int]:
    """Write the ten query tables as parquet files under ``out_dir``;
    returns {table: rows}."""
    rng = np.random.default_rng(DATA_SEED)
    scale = SCALE
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(20, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = max(50, int(15_000 * scale))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(date(1995, 1, 1), n_ord, 2404, rng),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(date(1995, 1, 2), n_li, 2498, rng),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))]))
    tables["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, N_EMBEDDINGS)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (N_EMBEDDINGS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# snapshot_dml
# --------------------------------------------------------------------------

#: initial rows of the DML table and the shape of each cycle of ops
DML_INITIAL_ROWS = 2000
DML_DAYS = 60
DML_CUSTOMERS = 400
#: one cycle, in this order (the seed draws rows, keys and bands); the
#: first cycle runs cold, where a seeded order would move JIT cost between
#: op kinds. OPTIMIZE, checkpoint and VACUUM follow it.
DML_CYCLE = (
    "append", "lookup", "merge", "lookup", "range", "delete", "lookup",
    "update", "lookup", "time_travel", "refresh",
)
#: versions VACUUM keeps; enough that the view's watermark survives a cycle
VACUUM_KEEP = 10
DML_SCHEMA = "order_id long, cust_id long, day int, cents long, status string"


@dataclass
class DmlOp:
    kind: str
    #: rows to append or merge, as tuples in DML_SCHEMA order
    rows: list[tuple] = field(default_factory=list)
    #: key band for delete/update/range reads: order_id in [lo, hi]
    lo: int = 0
    hi: int = 0
    #: point-lookup customers / update increment / time-travel pick
    values: list[int] = field(default_factory=list)


class DmlStream:
    """Seeded row and op stream. Ops are drawn lazily, a cycle at a time,
    so a run takes as many cycles as fit in its time window; an op's
    inputs depend on the seed and its position alone. Key bands start at
    a live key, so every delete and update changes rows."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 0
        self.live: set[int] = set()

    def _rows(self, n: int, ids: list[int] | None = None) -> list[tuple]:
        r = self.rng
        if ids is None:
            ids = list(range(self.next_id, self.next_id + n))
            self.next_id += n
        self.live.update(ids)
        return [
            (i, r.randrange(DML_CUSTOMERS), r.randrange(DML_DAYS),
             r.randrange(100, 100_000), r.choice(("new", "paid", "shipped")))
            for i in ids
        ]

    def initial(self) -> list[tuple]:
        return self._rows(DML_INITIAL_ROWS)

    def _band(self, width: int) -> tuple[int, int]:
        lo = self.rng.choice(sorted(self.live))
        return lo, lo + width - 1

    def cycle(self) -> list[DmlOp]:
        ops = []
        for kind in DML_CYCLE:
            if kind == "append":
                ops.append(DmlOp(kind, rows=self._rows(100)))
            elif kind == "merge":
                lo, hi = self._band(40)
                # existing keys only: the 20 new rows take the next ids
                hi = min(hi, self.next_id - 1)
                upd = self._rows(0, ids=list(range(lo, hi + 1)))
                ops.append(DmlOp(kind, rows=upd + self._rows(20), lo=lo, hi=hi))
            elif kind in ("delete", "update", "range"):
                lo, hi = self._band(30 if kind != "range" else 200)
                if kind == "delete":
                    self.live -= set(range(lo, hi + 1))
                ops.append(DmlOp(kind, lo=lo, hi=hi, values=[self.rng.randrange(1, 500)]))
            elif kind == "lookup":
                ops.append(DmlOp(kind, values=self.rng.sample(range(DML_CUSTOMERS), 3)))
            elif kind == "time_travel":
                ops.append(DmlOp(kind, values=[self.rng.randrange(1 << 30)]))
            else:
                ops.append(DmlOp(kind))
        return ops
