"""Seeded input generator for the benchmark workloads.

Every point table in the engine derives its position from ``event_id``
(``sqlcells.derived_lon`` / ``derived_lat`` hash the id with md5), so a
seed that only reseeded the value columns would move no point.  The seed
therefore picks WHICH ids exist: ids 0..15 are always present (registered
queries such as ``q_knn_join`` key on ``event_id < 16``), the rest are a
seeded strictly increasing walk with random gaps.  Query windows and the
skewed join's points and polygons are drawn from the same seed.

The events schema matches ``scripts/gen_sf.gen_events`` (and the sf
fixtures), so the repo's DuckDB oracles run unchanged on the written file.
Generation is numpy + pyarrow only: no Spark job runs here.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_FIXED_IDS = 16
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
TS_SPAN_US = 30 * 86_400_000_000  # events span 30 days, as in gen_sf


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts another stream's draws."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def event_ids(n: int, seed: int) -> np.ndarray:
    """``n`` distinct sorted ids: 0..15, then a seeded walk with gaps of
    1..15 (mean 8), so the id set (and with it every derived position)
    changes with the seed."""
    if n < N_FIXED_IDS:
        raise ValueError(f"need at least {N_FIXED_IDS} events, got {n}")
    gaps = rng_for(seed, "ids").integers(1, 16, n - N_FIXED_IDS)
    walk = N_FIXED_IDS - 1 + np.cumsum(gaps)
    return np.concatenate([np.arange(N_FIXED_IDS), walk]).astype(np.int64)


def _h60_mod(prefix: str, ids: np.ndarray, mod: int) -> np.ndarray:
    out = np.empty(ids.size, dtype=np.int64)
    for i, v in enumerate(ids.tolist()):
        out[i] = int(hashlib.md5(f"{prefix}{v}".encode()).hexdigest()[:15], 16) % mod
    return out


def derived_lonlat(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of ``sqlcells.derived_lon`` / ``derived_lat`` (same IEEE
    op sequence, so the values are bit-identical)."""
    lon = _h60_mod("lon:", ids, 3_600_000).astype(np.float64) / 10_000.0 - 180.0
    lat = _h60_mod("lat:", ids, 1_800_000).astype(np.float64) / 10_000.0 - 90.0
    return lon, lat


def events_table(ids: np.ndarray, seed: int) -> pa.Table:
    """The ``events`` table for the given ids (gen_sf.gen_events schema)."""
    rng = rng_for(seed, "events")
    n = ids.size
    ts_us = TS_BASE_US + rng.integers(0, TS_SPAN_US, n)
    kind = rng.integers(0, len(EVENT_TYPES), n)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        # no time zone: Spark reads it as TIMESTAMP_NTZ, DuckDB as TIMESTAMP
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n // 66), n), pa.int64()),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[kind], pa.string()),
        "value": pa.array(rng.integers(1, 49_001, n).astype(np.float64) / 100.0, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 16)


def bboxes(seed: int, stream: str, n: int) -> list[tuple[float, float, float, float]]:
    """``n`` seeded 24 x 12 degree query windows inside [-180, 180] x
    [-80, 80] (never crossing the antimeridian), corners rounded to 1e-3
    degrees.  Only the position is seeded: a lookup's cost depends on its
    window's size, which stays fixed."""
    rng = rng_for(seed, f"bbox:{stream}")
    hx, hy = 12.0, 6.0
    out = []
    for _ in range(n):
        cx = float(rng.uniform(-180.0 + hx, 180.0 - hx))
        cy = float(rng.uniform(-80.0 + hy, 80.0 - hy))
        out.append(tuple(round(v, 3) for v in (cx - hx, cy - hy, cx + hx, cy + hy)))
    return out


def hot_points(n: int, seed: int, start_id: int, box=(10.0, 10.0, 0.04)) -> pa.Table:
    """``n`` points piled into one small box (one cell at the polygon
    side's join tier) — the skew workload's hot half."""
    rng = rng_for(seed, "hot")
    x0, y0, side = box
    return pa.table({
        "event_id": pa.array(np.arange(start_id, start_id + n), pa.int64()),
        "lon": pa.array(np.round(x0 + rng.uniform(0.0, side, n), 6), pa.float64()),
        "lat": pa.array(np.round(y0 + rng.uniform(0.0, side, n), 6), pa.float64()),
    })
