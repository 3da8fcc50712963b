"""Shared pieces of the workloads: row normalisation for oracle checks,
percentiles, a minimal HTTP client and the run context."""

from __future__ import annotations

import decimal
import http.client
import json
import math
import statistics
import time
from dataclasses import dataclass, field


def norm(v):
    """One cell in a form both engines agree on (floats to 9 places,
    decimals to int or float, everything else as a string)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return int(v) if f.is_integer() else round(f, 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return str(v)


def digest(cols: list[str], rows: list) -> tuple:
    """Order-insensitive identity of a result: sorted column names plus
    the sorted multiset of normalised rows (projected in that order)."""
    keys = sorted(cols)
    idx = [cols.index(k) for k in keys]
    body = sorted(repr(tuple(norm(r[i]) for i in idx)) for r in rows)
    return tuple(keys), tuple(body)


def dict_rows_digest(rows: list[dict]) -> tuple:
    cols = sorted(rows[0]) if rows else []
    return digest(cols, [[r[c] for c in cols] for r in rows])


def duck_digest(con, sql: str) -> tuple:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def pct(values: list[float], q: float) -> float:
    """Inclusive-method percentile (q in 0..100)."""
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1])


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def http_call(port: int, method: str, path: str, body: dict | None = None, headers: dict | None = None):
    """One request on a fresh connection (the server speaks HTTP/1.0);
    returns (status, decoded JSON, seconds)."""
    data = json.dumps(body).encode() if body is not None else None
    hdrs = {"Content-Type": "application/json"} if data else {}
    hdrs.update(headers or {})
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(method, path, body=data, headers=hdrs)
        resp = conn.getresponse()
        raw = resp.read()
        status = resp.status
    finally:
        conn.close()
    dt = time.perf_counter() - t0
    return status, json.loads(raw or b"null"), dt


@dataclass
class Run:
    """What one invocation measured: end-to-end and per-layer metrics,
    operations attempted and failed, and notes for stderr."""

    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    info: dict = field(default_factory=dict)

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.info.setdefault("failures", []).append(f"{n}: {why}")
