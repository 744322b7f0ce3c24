"""Seeded inputs for the benchmark: the `events` rows and the statement streams.

Everything here is a pure function of the seed (numpy + pyarrow only), so the
same seed always gives the same rows and the same statements, and the program
under test only ever sees what these functions produce.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa

#: NSDb's default shard interval (30 days); the serving data spans
#: SHARDS consecutive, shard-aligned intervals
SHARD_MS = 30 * 24 * 3600 * 1000
SHARDS = 6
#: first shard start at or before 2024-01-01 on the 30-day epoch grid
START_MS = (1704067200000 // SHARD_MS) * SHARD_MS
END_MS = START_MS + SHARDS * SHARD_MS
HOUR_MS = 3600 * 1000
DAY_MS = 24 * HOUR_MS
#: live inserts land in the last days of the data range (inside the rollup
#: bounds); historical point reads stay out of it so they can be checked
#: exactly while writes run
WRITE_WINDOW_MS = 5 * DAY_MS
WRITE_LO_MS = END_MS - WRITE_WINDOW_MS
LIVE_TAG = "live"
LIVE_EVENT_ID0 = 10**9

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
PROPS = [f'{{"k": {i}}}' for i in range(100)]
TAGS = ("event_type", "user_id")


def _columns(rng: np.random.Generator, n: int, users: int) -> dict:
    return {
        "value": np.round(rng.lognormal(3.5, 1.2, n), 2),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "props": np.array(PROPS)[rng.integers(0, len(PROPS), n)],
        "user_id": rng.integers(0, users, n).astype(np.int64),
    }


def serving_events(seed: int, sf: float) -> pa.Table:
    """The `events` metric for the serving workloads: sf-scaled events
    tiled across SHARDS shards (sf 0.1 = 100k rows per shard), unique
    millisecond timestamps, NSDb metric shape (timestamp ms, value, tags
    event_type + user_id, dimensions event_id + props)."""
    rng = np.random.default_rng([seed, 1])
    n = max(int(1_000_000 * sf), 100) * SHARDS
    ts = START_MS + np.sort(rng.choice(END_MS - START_MS, n, replace=False))
    cols = _columns(rng, n, max(int(20_000 * sf), 50))
    return pa.table({
        "timestamp": ts.astype(np.int64),
        "value": cols["value"],
        "event_id": np.arange(n, dtype=np.int64),
        "event_type": cols["event_type"],
        "props": cols["props"],
        "user_id": cols["user_id"],
    })


def batch_events(seed: int, sf: float) -> pa.Table:
    """`events` in the registry's raw table shape (what the analytics
    entries read from `<dir>/events.parquet`): January 2024, sf 0.1 =
    100k rows, `ts` a naive microsecond timestamp."""
    rng = np.random.default_rng([seed, 2])
    n = max(int(1_000_000 * sf), 100)
    month_us = 31 * DAY_MS * 1000
    ts_us = 1704067200000 * 1000 + np.sort(rng.choice(month_us, n, replace=False))
    cols = _columns(rng, n, max(int(20_000 * sf), 50))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": cols["user_id"],
        "event_type": cols["event_type"],
        "value": cols["value"],
        "props": cols["props"],
    })


# ------------------------------------------------------------------ statements
def _range(rng, lo_min: int, lo_max: int, width: int) -> tuple[int, int]:
    lo = int(rng.integers(lo_min, lo_max - width))
    return lo, lo + width


def point_statement(rng) -> dict:
    """Time-range + LIMIT plain select with a unique lower bound: no plan,
    result or shape cache can serve it."""
    lo, hi = _range(rng, START_MS, WRITE_LO_MS, int(rng.integers(10, 120)) * 60_000)
    k = int(rng.integers(5, 60))
    return {
        "kind": "plain", "lo": lo, "hi": hi, "limit": k,
        "sql": f"select * from events where timestamp >= {lo} and timestamp < {hi} limit {k}",
    }


def tag_agg_statement(rng, lo: int, hi: int) -> dict:
    agg = ["count(*)", "sum(value)", "max(value)"][int(rng.integers(0, 3))]
    return {
        "kind": "tag", "lo": lo, "hi": hi, "agg": agg,
        "sql": f"select {agg} from events where timestamp >= {lo} and timestamp < {hi} "
               f"group by event_type",
    }


def temporal_statement(lo: int, hi: int, hours: int) -> dict:
    return {
        "kind": "temporal", "lo": lo, "hi": hi, "interval_ms": hours * HOUR_MS,
        "sql": f"select count(*) from events where timestamp >= {lo} and timestamp < {hi} "
               f"group by interval {hours}h",
    }


def global_statement(lo: int, hi: int) -> dict:
    return {
        "kind": "global", "lo": lo, "hi": hi,
        "sql": f"select count(*) from events where timestamp >= {lo} and timestamp < {hi}",
    }


def agg_statement(rng, kind: str) -> dict:
    """Tag group-by (`kind` "tag") or `group by interval` aggregate with
    unique bounds, 3.5 to 4.5 days wide (the scan crosses row groups and
    sometimes a shard boundary)."""
    lo, hi = _range(rng, START_MS, WRITE_LO_MS, 4 * DAY_MS + int(rng.integers(-DAY_MS // 2, DAY_MS // 2)))
    if kind == "tag":
        return tag_agg_statement(rng, lo, hi)
    return temporal_statement(lo, hi, int(rng.choice([1, 6])))


def mix(rng, block: list[str]):
    """Endless stream of operation classes: `block` in a fresh seeded order
    each time round. The mix is exact over every block, so a run's
    throughput does not move with how often the dice chose a slow class."""
    while True:
        yield from rng.permutation(block).tolist()


def hot_pool(seed: int, size: int = 32) -> list[dict]:
    """A fixed pool of statements across the four query classes (plain,
    tag group-by, global aggregate, temporal). It fits the engine's
    256-entry caches, so repeats are served from them."""
    rng = np.random.default_rng([seed, 3])
    pool = []
    for i in range(size):
        kind = i % 4
        if kind == 0:
            pool.append(point_statement(rng))
            continue
        lo, hi = _range(rng, START_MS, WRITE_LO_MS, int(rng.integers(1, 10)) * DAY_MS)
        if kind == 1:
            pool.append(tag_agg_statement(rng, lo, hi))
        elif kind == 2:
            pool.append(global_statement(lo, hi))
        else:
            pool.append(temporal_statement(lo, hi, int(rng.choice([1, 6]))))
    return pool


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


#: the rollup-routed reads of ingest_live: temporal, no WHERE, interval a
#: multiple of the 1 h rollup
ROLLUP_STATEMENTS = [
    "select count(*) from events group by interval 1d limit 10",
    "select sum(value) from events group by interval 6h limit 40",
    "select max(value) from events group by interval 12h limit 20",
]


def live_bit(i: int, rng) -> dict:
    """The i-th live insert: unique timestamp inside the write window and
    the rollup bounds, tag event_type=live so the subscription matches it."""
    step = WRITE_WINDOW_MS // 100_000
    return {
        "timestamp": WRITE_LO_MS + i * step + int(rng.integers(0, step)),
        "value": float(np.round(rng.lognormal(3.5, 1.2), 2)),
        "dimensions": {"event_id": LIVE_EVENT_ID0 + i, "props": PROPS[i % len(PROPS)]},
        "tags": {"event_type": LIVE_TAG, "user_id": int(rng.integers(0, 50))},
    }
