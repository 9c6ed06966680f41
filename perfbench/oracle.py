"""DuckDB oracle, order-insensitive digests and independent output readers.

The oracle is the textbook point-in-time join: per entity row, the
``ROW_NUMBER`` latest-wins candidate (event time, then created column,
descending) within the view's TTL, plus a left join of the static
dimension. It is computed once per seed and stored as a digest.

A digest is ``(rows, sum(fp), sum(fp*fp mod P))`` over a per-row
fingerprint ``fp`` that mixes one integer per column. Column integers:
ints as is, floats as ``round(x * 4)`` (inputs are multiples of 0.25),
strings as their CRC-32, timestamps as epoch seconds (or, in the
tf.Example representation, the float32 seconds the encoder writes). The
same arithmetic is written once in numpy and once as a Spark expression,
so a digest aggregated inside Spark compares to one computed here.
"""

from __future__ import annotations

import gzip
import os
import struct
import zlib

import duckdb
import numpy as np
import pyarrow as pa

import workloads as wl

P = 2**31 - 1
NULL_H = 1_000_003

# Output column -> kind, per input family (entity columns, then features).
_SPINE = {
    "order_id": "int", "user_id": "int", "customer_id": "int",
    "event_timestamp": "ts", "label": "int",
}
COLUMNS = {
    "shallow": {
        **_SPINE, "amount": "float", "category": "str", "clicks": "int",
        "amount_7d": "float", "clicks_7d": "int", "segment": "str",
        "balance": "float",
    },
    "hotkey": {
        **_SPINE, "tier": "str", "score": "float", "amount_7d": "float",
        "clicks_7d": "int", "amount": "float", "category": "str",
        "segment": "str", "balance": "float",
    },
}


def _mult(name: str) -> int:
    return zlib.crc32(name.encode()) % (P - 1) + 1


# --------------------------------------------------------------------------
# oracle
# --------------------------------------------------------------------------


def _lit(d) -> str:
    return f"TIMESTAMPTZ '{d.strftime('%Y-%m-%d %H:%M:%S')}+00'"


def oracle_sql(family: str) -> str:
    reg = wl.REGISTRIES[family]
    wanted = {}
    for ref in reg["services"][0]["features"]:
        view, feat = ref.split(":")
        wanted.setdefault(view, []).append(feat)
    ctes = [
        "spine AS (SELECT * FROM orders WHERE event_timestamp >= "
        f"{_lit(wl.RANGE_PARAMS['begin_ts'])} AND event_timestamp < "
        f"{_lit(wl.RANGE_PARAMS['end_ts'])})"
    ]
    joins, select = [], ["s.*"]
    for v in reg["views"]:
        feats = wanted.get(v["name"])
        if not feats:
            continue
        src = {dst: src for src, dst in v.get("field_mapping", {}).items()}
        table = v["path"].removesuffix(".parquet")
        alias = f"v_{v['name']}"
        proj = ", ".join(f"f.{src.get(f, f)} AS {f}" for f in feats)
        select += [f"{alias}.{f}" for f in feats]
        if not v["timestamp_col"]:
            joins.append(
                f"LEFT JOIN {table} {alias} ON {alias}.{v['entities'][0]} = s.{v['entities'][0]}"
            )
            continue
        ttl = (
            f" AND f.ts >= s.event_timestamp - INTERVAL {v['ttl_seconds']} SECOND"
            if v.get("ttl_seconds") else ""
        )
        ctes.append(
            f"{alias} AS (SELECT * FROM (SELECT s.order_id, {proj}, ROW_NUMBER() "
            "OVER (PARTITION BY s.order_id ORDER BY f.ts DESC, f.event_id DESC) "
            f"AS rn FROM spine s JOIN {table} f ON f.user_id = s.user_id "
            f"AND f.ts <= s.event_timestamp{ttl}) WHERE rn = 1)"
        )
        joins.append(f"LEFT JOIN {alias} USING (order_id)")
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT {', '.join(select)} "
        "FROM spine s " + " ".join(joins)
    )


def oracle_table(inputs_dir: str, family: str) -> pa.Table:
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'; SET threads = 2; SET memory_limit = '1GB'")
        for f in os.listdir(inputs_dir):
            if f.endswith(".parquet"):
                path = os.path.join(inputs_dir, f).replace("'", "''")
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        return con.execute(oracle_sql(family)).fetch_arrow_table()
    finally:
        con.close()


# --------------------------------------------------------------------------
# digests
# --------------------------------------------------------------------------


def _canon(col: pa.ChunkedArray | pa.Array, kind: str, tf_repr: bool) -> np.ndarray:
    """One column -> its per-row integer in [0, P), NULL_H for nulls."""
    col = pa.chunked_array([col]) if isinstance(col, pa.Array) else col
    valid = ~np.asarray(col.is_null().to_numpy(zero_copy_only=False), dtype=bool)
    if kind == "str":
        uniq, inv = np.unique(
            np.asarray(col.fill_null("").to_numpy(zero_copy_only=False), dtype=object),
            return_inverse=True,
        )
        vals = np.array(
            [zlib.crc32(s if isinstance(s, bytes) else s.encode()) for s in uniq],
            dtype=np.int64,
        )[inv]
    elif kind == "ts" and pa.types.is_timestamp(col.type):
        secs = col.cast(pa.timestamp("us", tz="UTC")).cast(pa.int64()).fill_null(0)
        secs = secs.to_numpy() // 1_000_000
        if tf_repr:  # the encoder writes float32 epoch seconds
            secs = np.round(secs.astype(np.float32).astype(np.float64) * 4)
        vals = secs.astype(np.int64)
    elif kind in ("float", "ts"):
        x = col.cast(pa.float64()).fill_null(0.0).to_numpy()
        vals = np.round(x * 4).astype(np.int64)
    else:
        vals = col.cast(pa.int64()).fill_null(0).to_numpy().astype(np.int64)
    return np.where(valid, np.mod(vals, P), NULL_H)


def digest(table: pa.Table, family: str, tf_repr: bool) -> list[int]:
    fp = np.zeros(table.num_rows, dtype=np.int64)
    for name, kind in COLUMNS[family].items():
        h = _canon(table.column(name), kind, tf_repr)
        fp = np.mod(fp + np.mod(h * _mult(name), P), P)
    return [
        int(table.num_rows),
        int(fp.sum(dtype=np.int64)),
        int(np.mod(fp * fp, P).sum(dtype=np.int64)),
    ]


def add_digests(a: list[int], b: list[int]) -> list[int]:
    return [x + y for x, y in zip(a, b)]


def spark_digest_columns(family: str):
    """The same digest as Spark aggregate expressions (read-back columns:
    ints as long, floats and timestamps as double, strings as string)."""
    from pyspark.sql import functions as F

    terms = []
    for name, kind in COLUMNS[family].items():
        c = F.col(name)
        if kind == "str":
            v = F.crc32(c.cast("binary"))
        elif kind in ("float", "ts"):
            v = F.round(c * 4).cast("long")
        else:
            v = c.cast("long")
        h = F.coalesce(F.pmod(v, F.lit(P)), F.lit(NULL_H))
        terms.append(F.pmod(h * F.lit(_mult(name)), F.lit(P)))
    fp = F.pmod(sum(terms[1:], terms[0]), F.lit(P))
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(fp).alias("s1"),
        F.sum(F.pmod(fp * fp, F.lit(P))).alias("s2"),
    ]


# --------------------------------------------------------------------------
# independent output readers (no program code)
# --------------------------------------------------------------------------

_CRC_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def _masked_crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    crc ^= 0xFFFFFFFF
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def data_files(out_dir: str) -> list[str]:
    """Data files under ``out_dir`` (hidden and ``_``-prefixed files skipped)."""
    out = []
    for root, _, files in os.walk(out_dir):
        out += [
            os.path.join(root, f) for f in files
            if not f.startswith((".", "_")) and not f.endswith((".json", ".idx"))
        ]
    return sorted(out)


def split_of(path: str) -> str:
    """Split name from a ``Split-x/`` or ``split=x/`` parent directory."""
    parent = os.path.basename(os.path.dirname(path))
    for prefix in ("Split-", "split="):
        if parent.startswith(prefix):
            return parent[len(prefix):]
    raise ValueError(f"{path}: not under a split directory")


def read_tfrecord_split_records(out_dir: str) -> dict[str, list[bytes]]:
    """Raw records per split; checks the framing CRCs of each file's first
    record (a full pure-Python CRC pass per job would dominate the run)."""
    by_split: dict[str, list[bytes]] = {}
    for path in data_files(out_dir):
        with gzip.open(path, "rb") as f:
            buf = f.read()
        recs = by_split.setdefault(split_of(path), [])
        i, end, first = 0, len(buf), True
        while i < end:
            header = buf[i : i + 8]
            (length,) = struct.unpack_from("<Q", buf, i)
            rec = buf[i + 12 : i + 12 + length]
            if first:
                (lcrc,) = struct.unpack_from("<I", buf, i + 8)
                (dcrc,) = struct.unpack_from("<I", buf, i + 12 + length)
                if lcrc != _masked_crc32c(header) or dcrc != _masked_crc32c(rec):
                    raise ValueError(f"{path}: bad TFRecord CRC")
                first = False
            if len(rec) != length:
                raise ValueError(f"{path}: truncated record")
            recs.append(rec)
            i += 16 + length
    return by_split


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if b < 0x80:
            return n, i
        shift += 7


def _feature_values(buf: bytes, i: int, end: int) -> list:
    vals: list = []
    while i < end:
        kind, i = _varint(buf, i)
        ln, i = _varint(buf, i)
        j, stop = i, i + ln
        while j < stop:
            tag, j = _varint(buf, j)
            if tag == 0x0A:  # length-delimited value or packed run
                n, j = _varint(buf, j)
                body = buf[j : j + n]
                j += n
                if kind == 0x0A:
                    vals.append(body)
                elif kind == 0x12:
                    vals += struct.unpack(f"<{n // 4}f", body)
                else:
                    k = 0
                    while k < n:
                        v, k = _varint(body, k)
                        vals.append(v - (1 << 64) if v >= 1 << 63 else v)
            elif tag == 0x0D:  # unpacked float
                vals.append(struct.unpack_from("<f", buf, j)[0])
                j += 4
            elif tag == 0x08:  # unpacked int64
                v, j = _varint(buf, j)
                vals.append(v - (1 << 64) if v >= 1 << 63 else v)
            else:
                raise ValueError(f"unexpected tag {tag} in Feature list")
        i = stop
    return vals


def decode_example(buf: bytes) -> dict[str, list]:
    """Serialized tf.train.Example -> {feature: values} (own decoder)."""
    out: dict[str, list] = {}
    i, end = 0, len(buf)
    while i < end:
        tag, i = _varint(buf, i)
        ln, i = _varint(buf, i)
        if tag == 0x0A:  # Example.features
            j, fend = i, i + ln
            while j < fend:
                _, j = _varint(buf, j)
                eln, j = _varint(buf, j)
                k, eend = j, j + eln
                name, vals = None, []
                while k < eend:
                    t3, k = _varint(buf, k)
                    l3, k = _varint(buf, k)
                    if t3 == 0x0A:
                        name = buf[k : k + l3].decode()
                    elif t3 == 0x12:
                        vals = _feature_values(buf, k, k + l3)
                    k += l3
                out[name] = vals
                j = eend
        i += ln
    return out


def records_to_table(records: list[bytes], family: str) -> pa.Table:
    """Decode records into the family's columns; raises on a record whose
    feature set or arity differs from the expected schema."""
    kinds = COLUMNS[family]
    expected = set(kinds)
    cols: dict[str, list] = {n: [] for n in kinds}
    for rec in records:
        ex = decode_example(rec)
        if ex.keys() != expected:
            raise ValueError(f"record features {sorted(ex)} != {sorted(expected)}")
        for n, vals in ex.items():
            if len(vals) > 1:
                raise ValueError(f"feature {n!r} holds {len(vals)} values")
            cols[n].append(vals[0] if vals else None)
    types = {"int": pa.int64(), "float": pa.float64(), "ts": pa.float64(), "str": pa.binary()}
    return pa.table({n: pa.array(cols[n], types[k]) for n, k in kinds.items()})
