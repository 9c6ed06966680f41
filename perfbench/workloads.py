"""Seeded input generators and the ExampleGen job spec of each workload.

Inputs are made with numpy/pyarrow from ``--seed`` alone; the program only
ever sees the parquet files written here. Every table is cached on disk per
(workload family, seed, size and this file's source), so repeated runs skip
generation.

Timestamps are whole seconds and every float is a multiple of 0.25 below
2**20, so a float32 tf.Example round trip is exact and the digests in
``oracle.py`` compare integers only.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp())
DAY = 86_400
HISTORY_DAYS = 60
SPINE_DAYS = (10, 60)  # spine rows fall in this day range
RANGE_PARAMS = {  # the @begin_ts/@end_ts span the entity query keeps
    "begin_ts": dt.datetime(2026, 1, 16),
    "end_ts": dt.datetime(2026, 3, 2),
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
CATEGORIES = [f"cat_{i:02d}" for i in range(24)]
TIERS = ["bronze", "silver", "gold", "platinum"]
HOT_USER = 0

# Row counts per size. "bench" is what BENCHMARK.json runs; "tiny" is the
# self-test size. Recorded with depth and hot-key share in README.md.
SIZES = {
    "shallow": {  # examplegen_tfrecord
        "bench": dict(orders=12_000, events=100_000, users=5_000, customers=1_000),
        "tiny": dict(orders=2_000, events=16_000, users=800, customers=200),
    },
    "hotkey": {  # examplegen_parquet_hotkey
        "bench": dict(
            orders=24_000, events=300_000, users=3_000, customers=3_000,
            profiles=15_000, hot_share=0.02,
        ),
        "tiny": dict(
            orders=2_000, events=30_000, users=300, customers=100,
            profiles=1_500, hot_share=0.02,
        ),
    },
}


class Workload:
    """One benchmark workload: which inputs it uses and what a job does."""

    def __init__(self, name, family, output_format, features, expected_strategies):
        self.name = name
        self.family = family  # key into SIZES and the generator table
        self.output_format = output_format  # "tf_example" | "parquet"
        self.features = features  # the service's "view:feature" refs
        self.expected_strategies = expected_strategies


ENTITY_SQL = (
    "SELECT order_id, user_id, customer_id, event_timestamp, label "
    "FROM orders WHERE event_timestamp >= @begin_ts AND event_timestamp < @end_ts"
)

_SHALLOW_FEATURES = [
    "activity:amount", "activity:category", "activity:clicks",
    "activity_7d:amount_7d", "activity_7d:clicks_7d",
    "customer_profile:segment", "customer_profile:balance",
]
_HOTKEY_FEATURES = [
    "profile:tier", "profile:score",
    "events_7d:amount_7d", "events_7d:clicks_7d",
    "events_all:amount", "events_all:category",
    "customer_profile:segment", "customer_profile:balance",
]

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "examplegen_tfrecord", "shallow", "tf_example", _SHALLOW_FEATURES,
            {"activity": "pair", "activity_7d": "pair"},
        ),
        Workload(
            "examplegen_parquet_hotkey", "hotkey", "parquet", _HOTKEY_FEATURES,
            {"profile": "pair", "events_7d": "time_bucketed", "events_all": "union_window"},
        ),
    )
}

_CUSTOMER_VIEW = {
    "name": "customer_profile", "path": "customer.parquet",
    "entities": ["customer_id"], "timestamp_col": "",
    "features": ["segment", "balance"],
}


def _event_view(name, ttl_days, features, mapping=None, path="events.parquet"):
    return {
        "name": name, "path": path, "entities": ["user_id"],
        "timestamp_col": "ts", "created_col": "event_id",
        "ttl_seconds": ttl_days * DAY if ttl_days else None,
        "features": features, "field_mapping": mapping or {},
    }


REGISTRIES = {
    "shallow": {
        "views": [
            _event_view("activity", None, ["amount", "category", "clicks"]),
            _event_view(
                "activity_7d", 7, ["amount_7d", "clicks_7d"],
                {"amount": "amount_7d", "clicks": "clicks_7d"},
            ),
            _CUSTOMER_VIEW,
        ],
    },
    "hotkey": {
        "views": [
            _event_view("profile", None, ["tier", "score"], path="profiles.parquet"),
            _event_view(
                "events_7d", 7, ["amount_7d", "clicks_7d"],
                {"amount": "amount_7d", "clicks": "clicks_7d"},
            ),
            _event_view("events_all", None, ["amount", "category"]),
            _CUSTOMER_VIEW,
        ],
    },
}
for _fam, _w in (("shallow", "examplegen_tfrecord"), ("hotkey", "examplegen_parquet_hotkey")):
    REGISTRIES[_fam]["services"] = [
        {"name": "training", "features": WORKLOADS[_w].features}
    ]


def registry_yaml(family: str) -> str:
    """The registry as the JSON-compatible text ``Registry.from_yaml`` loads."""
    return json.dumps(REGISTRIES[family], indent=1)


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64") * 1_000_000, pa.timestamp("us", tz="UTC"))


def _quarter(rng, n, hi) -> np.ndarray:
    """Floats that are exact multiples of 0.25 (float32-exact)."""
    return rng.integers(0, hi * 4, n).astype("float64") / 4.0


def _users(rng, n, users, hot_share) -> np.ndarray:
    u = rng.integers(1, users, n)  # HOT_USER (0) is only drawn as the hot key
    if hot_share:
        u[rng.random(n) < hot_share] = HOT_USER
    return u


def _orders(rng, n, users, customers, hot_share) -> pa.Table:
    t = rng.integers(SPINE_DAYS[0] * DAY, SPINE_DAYS[1] * DAY, n) + T0
    order = np.argsort(t, kind="stable")
    return pa.table({
        "order_id": np.arange(n, dtype="int64"),
        "user_id": _users(rng, n, users, hot_share)[order],
        "customer_id": rng.integers(0, customers, n)[order],
        "event_timestamp": _ts(t[order]),
        "label": rng.integers(0, 2, n),
    })


def _events(rng, n, users, hot_share) -> pa.Table:
    t = np.sort(rng.integers(0, HISTORY_DAYS * DAY, n)) + T0
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),  # created-col tie-break
        "user_id": _users(rng, n, users, hot_share),
        "ts": _ts(t),
        "amount": _quarter(rng, n, 5_000),
        "category": pa.array(np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), n)]),
        "clicks": rng.integers(0, 500, n),
    })


def _profiles(rng, n, users) -> pa.Table:
    t = np.sort(rng.integers(0, HISTORY_DAYS * DAY, n)) + T0
    # Round-robin over users: every key, the hot one included, keeps the
    # same shallow depth, so auto resolves this view to ``pair``.
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "user_id": rng.permutation(np.arange(n) % users).astype("int64"),
        "ts": _ts(t),
        "tier": pa.array(np.array(TIERS)[rng.integers(0, len(TIERS), n)]),
        "score": _quarter(rng, n, 100),
    })


def _customers(rng, n) -> pa.Table:
    return pa.table({
        "customer_id": np.arange(n, dtype="int64"),
        "segment": pa.array(np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)]),
        "balance": _quarter(rng, n, 10_000),
    })


def generate(family: str, size: str, seed: int) -> dict[str, pa.Table]:
    s = SIZES[family][size]
    rng = np.random.default_rng([seed, 0 if family == "shallow" else 1])
    hot = s.get("hot_share", 0.0)
    tables = {
        "orders": _orders(rng, s["orders"], s["users"], s["customers"], hot),
        "events": _events(rng, s["events"], s["users"], hot),
        "customer": _customers(rng, s["customers"]),
    }
    if "profiles" in s:
        tables["profiles"] = _profiles(rng, s["profiles"], s["users"])
    return tables


def table_stats(tables: dict[str, pa.Table]) -> dict[str, dict]:
    """Row count, max per-key depth and hot-key share of each table."""
    out = {}
    for name, t in tables.items():
        key = "customer_id" if name == "customer" else "user_id"
        counts = np.bincount(t.column(key).to_numpy())
        out[name] = {
            "rows": t.num_rows,
            "max_key_depth": int(counts.max()),
            "hot_key_share": round(float(counts.max()) / t.num_rows, 4),
        }
    return out


def materialize(cache_root: str, family: str, size: str, seed: int) -> str:
    """Write (once) the parquet inputs; returns their directory."""
    with open(__file__, "rb") as f:  # a generator edit must not reuse old inputs
        tag = zlib.crc32(f.read() + json.dumps(SIZES[family][size]).encode())
    d = os.path.join(cache_root, f"{family}-{size}-{tag:08x}-s{seed}", "inputs")
    marker = os.path.join(d, "stats.json")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    tables = generate(family, size, seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    with open(marker + ".tmp", "w") as f:
        json.dump(table_stats(tables), f, indent=1)
    os.replace(marker + ".tmp", marker)
    return d
