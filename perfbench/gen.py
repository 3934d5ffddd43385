"""Seeded input generators for the lakehouse benchmark.

Everything here is pure Python + NumPy + pyarrow and depends only on the
seed it is given: the same seed yields byte-identical files. The engine
under test never sees the generator; it only reads the files written
here.

Generators:

- ``write_domain_files``: the four raw domain files (erp_orders CSV,
  crm_leads CSV, web_events JSON-lines, products CSV) spread over
  ``STORES`` x ``DAYS``, with a planted ``MALFORMED_FRAC`` of lines the
  reader must quarantine. No well-formed line violates a domain
  expectation (a violation aborts a pipeline run by contract).
- ``OrdersState`` / ``late_batch``: the key-level expected state of the
  curated ``erp_orders`` table and the late batches that churn it
  (upserts, inserts and deletes inside the 7-day horizon).
- ``event_drops``: the stream's parquet file drops, with a planted share
  of late (up to ``MAX_LATE_DAYS``) and out-of-order events.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

BASE_DATE = dt.date(2024, 5, 1)
ORDER_STATUSES = ("shipped", "processing", "cancelled")
LEAD_SOURCES = ("web", "event", "partner")
LEAD_STATUSES = ("contacted", "qualified", "converted", "new")
EVENT_TYPES = ("page_view", "click")
PAGES = ("/home", "/search", "/cart", "/product/P001", "/product/P002")
META = ('{"utm_source": "news"}', '{"cta": "buy"}', '{"query": "lamp"}', "{}")
CATEGORIES = ("home", "kitchen", "office", "garden")
STREAM_TYPES = ("view", "click", "purchase", "signup", "error")

STORES = 50
DAYS = 56
MALFORMED_FRAC = 0.005

DOMAIN_FILES = {
    "erp_orders": "erp_orders.csv",
    "crm_leads": "crm_leads.csv",
    "web_events": "web_events.json",
    "products": "products.csv",
}


@dataclass(frozen=True)
class DomainSize:
    orders: int
    leads: int
    events: int
    products: int


def _dates(days: int) -> list[str]:
    return [(BASE_DATE + dt.timedelta(days=i)).isoformat() for i in range(days)]


def _plant_malformed(
    rng: np.random.Generator, lines: list[str], frac: float, bad: callable
) -> int:
    """Replace a seeded ``frac`` share of ``lines`` (never the header)
    with malformed ones; returns how many were planted."""
    n = int(round(len(lines) * frac))
    for i in rng.choice(len(lines), size=n, replace=False):
        lines[i] = bad(lines[i])
    return n


def _csv_bad(line: str) -> str:
    # one field too many: PERMISSIVE CSV marks the row corrupt
    return line + ",EXTRA,FIELD"


def _json_bad(line: str) -> str:
    # truncated object: not parseable JSON
    return line[: len(line) // 2]


def write_domain_files(out_dir: str, size: DomainSize, seed: int) -> dict:
    """Write the four raw domain files; returns ``{"paths": {domain:
    path}, "lines": {domain: data lines}, "malformed": {domain: n},
    "bytes": total}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    dates = _dates(DAYS)
    stores = [f"store_{i:02d}" for i in range(1, STORES + 1)]
    paths, lines_n, bad_n, total_bytes = {}, {}, {}, 0

    def emit(domain: str, header: str | None, lines: list[str], bad) -> None:
        nonlocal total_bytes
        bad_n[domain] = _plant_malformed(rng, lines, MALFORMED_FRAC, bad)
        lines_n[domain] = len(lines)
        body = "\n".join(([header] if header else []) + lines) + "\n"
        p = os.path.join(out_dir, DOMAIN_FILES[domain])
        with open(p, "w") as fh:
            fh.write(body)
        total_bytes += len(body)
        paths[domain] = p

    n = size.orders
    st = rng.integers(0, STORES, n)
    dd = rng.integers(0, DAYS, n)
    cents = rng.integers(0, 100_000, n)
    cust = rng.integers(0, 20_000, n)
    stat = rng.integers(0, len(ORDER_STATUSES), n)
    emit(
        "erp_orders",
        "order_id,customer_id,store_id,dt,order_value,status",
        [
            f"{1 + i},C{cust[i]:05d},{stores[st[i]]},{dates[dd[i]]},"
            f"{cents[i] // 100}.{cents[i] % 100:02d},{ORDER_STATUSES[stat[i]]}"
            for i in range(n)
        ],
        _csv_bad,
    )

    n = size.leads
    st = rng.integers(0, STORES, n)
    dd = rng.integers(0, DAYS, n)
    src = rng.integers(0, len(LEAD_SOURCES), n)
    stat = rng.integers(0, len(LEAD_STATUSES), n)
    emit(
        "crm_leads",
        "lead_id,name,email,source,status,store_id,dt",
        [
            f"L{i:07d},Lead {i},lead{i}@example.com,{LEAD_SOURCES[src[i]]},"
            f"{LEAD_STATUSES[stat[i]]},{stores[st[i]]},{dates[dd[i]]}"
            for i in range(n)
        ],
        _csv_bad,
    )

    n = size.events
    st = rng.integers(0, STORES, n)
    dd = rng.integers(0, DAYS, n)
    vis = rng.integers(0, 100_000, n)
    pg = rng.integers(0, len(PAGES), n)
    et = rng.integers(0, len(EVENT_TYPES), n)
    mt = rng.integers(0, len(META), n)
    emit(
        "web_events",
        None,
        [
            f'{{"event_id": "E{i:08d}", "visitor_id": "V{vis[i]:06d}", '
            f'"store_id": "{stores[st[i]]}", "dt": "{dates[dd[i]]}", '
            f'"page": "{PAGES[pg[i]]}", "event_type": "{EVENT_TYPES[et[i]]}", '
            f'"metadata": {META[mt[i]]}}}'
            for i in range(n)
        ],
        _json_bad,
    )

    n = size.products
    st = rng.integers(0, STORES, n)
    dd = rng.integers(0, DAYS, n)
    cents = rng.integers(0, 50_000, n)
    cat = rng.integers(0, len(CATEGORIES), n)
    act = rng.integers(0, 2, n)
    emit(
        "products",
        "product_id,name,category,price,active,store_id,dt",
        [
            f"P{i:06d},Product {i},{CATEGORIES[cat[i]]},"
            f"{cents[i] // 100}.{cents[i] % 100:02d},"
            f"{'true' if act[i] else 'false'},{stores[st[i]]},{dates[dd[i]]}"
            for i in range(n)
        ],
        _csv_bad,
    )
    return {"paths": paths, "lines": lines_n, "malformed": bad_n, "bytes": total_bytes}


# FIXTURES.md section 2: the golden fct_daily_store_metrics.
GOLDEN_FACT = [
    ("store_01", dt.date(2024, 6, 1), Decimal("339.49"), 2, 0, 2),
    ("store_01", dt.date(2024, 6, 3), Decimal("0.00"), 0, 1, 0),
    ("store_02", dt.date(2024, 6, 2), Decimal("120.00"), 1, 0, 1),
    ("store_02", dt.date(2024, 6, 3), Decimal("45.90"), 1, 0, 0),
    ("store_03", dt.date(2024, 6, 3), Decimal("560.10"), 1, 0, 1),
]


# -- late batches ------------------------------------------------------------

INSERT_SHARE = 0.2
DELETE_SHARE = 0.1


@dataclass
class OrdersState:
    """Expected curated ``erp_orders`` content, keyed by order_id:
    ``{order_id: (customer_id, store_id, dt, cents, status)}``. Built
    from the same seed as the raw file, then advanced by each late
    batch exactly as the engine should advance the table."""

    rows: dict[int, tuple] = field(default_factory=dict)
    next_id: int = 0

    @classmethod
    def from_csv(cls, path: str) -> "OrdersState":
        rows = {}
        with open(path) as fh:
            next(fh)
            for line in fh:
                parts = line.rstrip("\n").split(",")
                if len(parts) != 6:
                    continue  # planted malformed line, quarantined
                oid, cust, store, d, val, status = parts
                units, frac = val.split(".")
                rows[int(oid)] = (
                    cust, store, dt.date.fromisoformat(d),
                    int(units) * 100 + int(frac), status,
                )
        return cls(rows, max(rows) + 1)


@dataclass
class LateBatch:
    upserts: list[tuple]  # (order_id, customer_id, store_id, dt, cents, status)
    deletes: list[int]
    horizon: tuple[dt.date, dt.date]  # inclusive dt range the batch touches


def late_batch(
    rng: np.random.Generator,
    state: OrdersState,
    horizon_days: int,
    n: int,
) -> LateBatch:
    """``n`` changes to keys inside the last ``horizon_days``: most are
    value/status updates, ``INSERT_SHARE`` are new orders and
    ``DELETE_SHARE`` are deletes. Applies the batch to ``state`` (the
    oracle's expected table) and returns it."""
    last = max(r[2] for r in state.rows.values())
    lo = last - dt.timedelta(days=horizon_days - 1)
    in_h = sorted(k for k, r in state.rows.items() if r[2] >= lo)
    n_ins = int(n * INSERT_SHARE)
    n_del = max(1, int(n * DELETE_SHARE))
    n_upd = n - n_ins - n_del
    picked = [in_h[i] for i in rng.permutation(len(in_h))]
    upd_keys = picked[:n_upd]
    # a delete never empties a (store_id, dt) group: the fact's horizon
    # merge upserts groups and has no contract for retiring one
    group_n: dict[tuple, int] = {}
    for k in in_h:
        g = state.rows[k][1:3]
        group_n[g] = group_n.get(g, 0) + 1
    del_keys = []
    for k in picked[n_upd:]:
        if len(del_keys) == n_del:
            break
        g = state.rows[k][1:3]
        if group_n[g] > 1:
            group_n[g] -= 1
            del_keys.append(k)
    upserts = []
    for k in upd_keys:
        cust, store, d, _, _ = state.rows[k]
        cents = int(rng.integers(0, 100_000))
        status = ORDER_STATUSES[int(rng.integers(0, len(ORDER_STATUSES)))]
        upserts.append((k, cust, store, d, cents, status))
    for _ in range(n_ins):
        k = state.next_id
        state.next_id += 1
        d = lo + dt.timedelta(days=int(rng.integers(0, horizon_days)))
        upserts.append((
            k, f"C{int(rng.integers(0, 20_000)):05d}",
            f"store_{int(rng.integers(1, STORES + 1)):02d}", d,
            int(rng.integers(0, 100_000)),
            ORDER_STATUSES[int(rng.integers(0, len(ORDER_STATUSES)))],
        ))
    for row in upserts:
        state.rows[row[0]] = row[1:]
    for k in del_keys:
        del state.rows[k]
    return LateBatch(upserts, del_keys, (lo, last))


# -- stream drops ------------------------------------------------------------

USERS = 2_000
LATE_FRAC = 0.05
MAX_LATE_DAYS = 6.5


def event_drops(
    seed: int,
    n_drops: int,
    events_per_drop: int,
    first_event_id: int = 0,
    start_hour: int = 0,
) -> list:
    """``n_drops`` pyarrow tables in the events schema (event_id, ts,
    user_id, event_type, value, props). Event time advances 6 hours per
    drop (the reference's landing cadence); inside a drop the rows are
    shuffled (out of order), and ``LATE_FRAC`` of them carry a ts up to
    ``MAX_LATE_DAYS`` behind the drop's window. ``MAX_LATE_DAYS`` stays
    under the 7-day watermark, so every event must reach the target."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-06-01T00:00:00", "us")
    six_h = np.timedelta64(6 * 3600 * 10**6, "us")
    out = []
    eid = first_event_id
    for k in range(n_drops):
        n = events_per_drop
        lo = t0 + (start_hour // 6 + k) * six_h
        off = rng.integers(0, 6 * 3600 * 10**6, n).astype("timedelta64[us]")
        late = rng.random(n) < LATE_FRAC
        back = (rng.random(n) * MAX_LATE_DAYS * 86400 * 10**6).astype("timedelta64[us]")
        ts = lo + off - np.where(late, back, np.timedelta64(0, "us"))
        out.append(pa.table({
            "event_id": pa.array(np.arange(eid, eid + n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, n).astype(np.int64)),
            "event_type": pa.array(
                np.array(STREAM_TYPES)[rng.integers(0, len(STREAM_TYPES), n)]
            ),
            "value": pa.array(rng.integers(0, 100_000, n) / 100.0),
            "props": pa.array([json.dumps({"k": int(x)}) for x in rng.integers(0, 100, n)]),
        }))
        eid += n
    return out


def publish_drop(table, drops_dir: str, name: str, staging_dir: str) -> None:
    """Atomically publish one drop: write under ``staging_dir`` (same
    file system), then rename into the watched directory, so the stream
    never lists a half-written file."""
    import pyarrow.parquet as pq

    tmp = os.path.join(staging_dir, name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(drops_dir, name))
