"""Dependency-free tf.train.Example wire-format codec.

Rebuilds the reference's row -> serialized ``tf.train.Example`` conversion
(``converters.py:50-53``, which delegates to
``tfx.extensions.google_cloud_big_query.utils.row_to_example``) without a
TensorFlow/protobuf dependency: the Example proto's wire format is small
enough to emit directly.

Proto schema (tensorflow/core/example/example.proto + feature.proto, all
public):

    Example    { Features features = 1; }
    Features   { map<string, Feature> feature = 1; }
    Feature    { oneof kind { BytesList bytes_list = 1;
                              FloatList float_list = 2;
                              Int64List int64_list = 3; } }
    BytesList  { repeated bytes value = 1; }
    FloatList  { repeated float value = 1 [packed = true]; }
    Int64List  { repeated int64 value = 1 [packed = true]; }

    SequenceExample { Features context = 1; FeatureLists feature_lists = 2; }
    FeatureLists    { map<string, FeatureList> feature_list = 1; }
    FeatureList     { repeated Feature feature = 1; }

Each message has one encoder and one decoder: ``encode_example`` and the
SequenceExample context share the Features encoder, and both decoders
read Features and Feature messages with the same functions.

Type map (SURVEY.md §1.2, the reference's BigQuery->tf.Example contract):

    int   -> int64_list          bool      -> int64_list (0/1)
    float -> float_list          timestamp -> seconds-as-float -> float_list
    str   -> bytes_list (utf-8)  bytes     -> bytes_list
    list of the above -> multi-element list of the same kind
    None  -> empty Feature (no kind set)

Feature names are emitted in sorted order so serialization is
deterministic (protobuf map order is unspecified; sorting makes bytes
comparable across runs/engines, which the hash-split D1 relies on).
"""

from __future__ import annotations

import datetime as dt
import math
import struct
from typing import Any

# ---------------------------------------------------------------------------
# protobuf primitives
# ---------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    """Unsigned LEB128 varint."""
    if n < 0:
        # int64 negatives encode as 10-byte two's-complement varints
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


# ---------------------------------------------------------------------------
# Feature encoders
# ---------------------------------------------------------------------------

# The smallest double that rounds past float32's largest finite value;
# struct.pack raises from here on, where a float32 cast gives +-inf.
_FLOAT32_OVERFLOW = 2.0**128 * (1 - 2.0**-25)


def _bytes_list(values: list[bytes]) -> bytes:
    body = b"".join(_len_delim(1, v) for v in values)
    return _len_delim(1, body)  # Feature.bytes_list = 1


def _float_list(values: list[float]) -> bytes:
    values = [
        math.copysign(math.inf, v) if abs(v) >= _FLOAT32_OVERFLOW else v
        for v in values
    ]
    packed = struct.pack(f"<{len(values)}f", *values)
    body = _len_delim(1, packed) if values else b""
    return _len_delim(2, body)  # Feature.float_list = 2


def _int64_list(values: list[int]) -> bytes:
    packed = b"".join(_varint(v) for v in values)
    body = _len_delim(1, packed) if values else b""
    return _len_delim(3, body)  # Feature.int64_list = 3


def _encode_value(v: Any) -> bytes:
    """One scalar/list -> Feature message bytes (empty message for None)."""
    if v is None:
        return b""
    if isinstance(v, list):
        if not v:
            return b""
        head = next((x for x in v if x is not None), None)
        vals = [x for x in v if x is not None]
        v, is_list = head, True
    else:
        vals, is_list = [v], False
    if v is None:
        return b""
    if isinstance(v, bool):
        return _int64_list([int(x) for x in vals])
    if isinstance(v, int):
        return _int64_list(list(vals))
    if isinstance(v, float):
        return _float_list(list(vals))
    if isinstance(v, (dt.datetime,)):
        # reference: TIMESTAMP -> seconds-since-epoch float (SURVEY.md §1.2).
        # tz-aware values already denote an instant (timestamp() converts);
        # naive values are assumed UTC (replace). Reinterpreting an aware
        # non-UTC value via replace() would shift it by its zone offset.
        return _float_list(
            [
                (
                    x if x.tzinfo is not None
                    else x.replace(tzinfo=dt.timezone.utc)
                ).timestamp()
                for x in vals
            ]
        )
    if isinstance(v, str):
        return _bytes_list([x.encode("utf-8") for x in vals])
    if isinstance(v, (bytes, bytearray)):
        return _bytes_list([bytes(x) for x in vals])
    raise TypeError(f"unsupported feature type {type(v).__name__}: {v!r}")


def _map_entry(key: str, value: bytes) -> bytes:
    """One entry of a ``map<string, message>`` (Features, FeatureLists)."""
    return _len_delim(
        1, _len_delim(1, key.encode("utf-8")) + _len_delim(2, value)
    )


def _encode_features(features: dict[str, Any]) -> bytes:
    """``{name: value}`` -> Features message bytes, names in sorted order."""
    return b"".join(
        [_map_entry(n, _encode_value(features[n])) for n in sorted(features)]
    )


def encode_example(row: dict[str, Any]) -> bytes:
    """dict row -> serialized tf.train.Example bytes.

    The engine-native analog of ``RowToExampleBytes``
    (``converters.py:50-53``).
    """
    return _len_delim(1, _encode_features(row))  # Example.features = 1


def encode_sequence_example(row: dict[str, Any]) -> bytes:
    """Declared-but-unimplemented in the reference (``converters.py:55-57``
    raises NotImplementedError; dispatched at ``executor.py:148-149``).
    Kept as the same explicit stub so the format dispatch surface matches;
    the working beyond-parity encoder is
    :func:`encode_sequence_example_full`.
    """
    raise NotImplementedError(
        "tf.SequenceExample output is not implemented (parity with "
        "reference converters.py:55-57); see encode_sequence_example_full"
    )


def encode_sequence_example_full(
    context: dict[str, Any], feature_lists: dict[str, list[Any]]
) -> bytes:
    """Working tf.train.SequenceExample encoder (beyond-parity).

    Proto (public): SequenceExample { Features context = 1;
    FeatureLists feature_lists = 2; }; FeatureLists { map<string,
    FeatureList> feature_list = 1; }; FeatureList { repeated Feature
    feature = 1; }. ``context`` is scalar features; each
    ``feature_lists[name]`` is a time-ordered list whose steps each
    encode as one Feature.
    """
    lists = {  # FeatureList { repeated Feature feature = 1; }
        n: b"".join([_len_delim(1, _encode_value(s)) for s in steps])
        for n, steps in feature_lists.items()
    }
    fl_msg = b"".join([_map_entry(n, lists[n]) for n in sorted(lists)])
    return _len_delim(1, _encode_features(context)) + _len_delim(2, fl_msg)


# ---------------------------------------------------------------------------
# decoder (for round-trip tests and parquet-of-examples readers)
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint in proto wire data")
        if shift > 63:
            # Wire varints are at most 10 bytes; an 11th continuation
            # byte is corruption, not a longer number.
            raise ValueError("varint exceeds 10 bytes in proto wire data")
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            # Protobuf varints are 64-bit: a 10th byte contributes bits
            # 63..69, so mask BEFORE the two's-complement fold —
            # otherwise a non-canonical final byte (e.g. 0x7F) leaves a
            # huge positive int outside int64 instead of the reference
            # protobuf's truncate-to-64-bits semantics.
            n &= (1 << 64) - 1
            if n >= 1 << 63:
                n -= 1 << 64
            return n, i
        shift += 7


def _fields(buf: bytes):
    # Bounds are checked explicitly: proto's wire format makes a
    # truncation at a FIELD boundary a valid shorter message (that
    # leniency is the format, not a bug), but a truncation INSIDE a
    # field — a declared length or fixed width running past the buffer
    # — must raise, never silently shorten via Python slicing.
    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        field, wire = key >> 3, key & 7
        if wire == 0:
            val, i = _read_varint(buf, i)
        elif wire == 2:
            ln, i = _read_varint(buf, i)
            if ln < 0:
                # A 10-byte varint can decode as signed-negative; a
                # negative declared length would move the cursor
                # BACKWARDS (i += ln) and loop forever.
                raise ValueError(
                    f"corrupt proto: field {field} declares negative "
                    f"length {ln}"
                )
            if i + ln > len(buf):
                raise ValueError(
                    f"truncated proto: field {field} declares {ln} "
                    f"bytes, {len(buf) - i} present"
                )
            val = buf[i : i + ln]
            i += ln
        elif wire == 5:
            if i + 4 > len(buf):
                raise ValueError("truncated proto: short fixed32")
            val = buf[i : i + 4]
            i += 4
        elif wire == 1:
            if i + 8 > len(buf):
                raise ValueError("truncated proto: short fixed64")
            val = buf[i : i + 8]
            i += 8
        else:  # pragma: no cover
            raise ValueError(f"unsupported wire type {wire}")
        yield field, val


def _map_entries(msg: bytes):
    """(key, value bytes) of each entry of a ``map<string, message>``
    field; a missing value is the empty message."""
    for f, entry in _fields(msg):
        if f != 1:
            continue
        key, value = None, b""
        for f2, v in _fields(entry):
            if f2 == 1:
                key = v.decode("utf-8")
            elif f2 == 2:
                value = v
        yield key, value


def _decode_feature(feature: bytes) -> list | None:
    """Feature message bytes -> its values (None when no kind is set)."""
    values: list | None = None
    for kind, body in _fields(feature):
        if kind == 1:  # bytes_list
            values = [v for f, v in _fields(body) if f == 1]
        elif kind == 2:  # float_list (packed)
            packed = b"".join(v for f, v in _fields(body) if f == 1)
            values = list(struct.unpack(f"<{len(packed) // 4}f", packed))
        elif kind == 3:  # int64_list (packed varints)
            packed = b"".join(v for f, v in _fields(body) if f == 1)
            values, i = [], 0
            while i < len(packed):
                v, i = _read_varint(packed, i)
                values.append(v)
    return values


def _decode_features(msg: bytes) -> dict[str, Any]:
    """Features message bytes -> {name: values}."""
    return {name: _decode_feature(v) for name, v in _map_entries(msg)}


def decode_example(data: bytes) -> dict[str, Any]:
    """serialized Example -> {name: list-of-values} (None for empty kind)."""
    out: dict[str, Any] = {}
    for f, msg in _fields(data):
        if f == 1:  # Example.features
            out.update(_decode_features(msg))
    return out


def decode_sequence_example(data: bytes) -> tuple[dict, dict]:
    """serialized SequenceExample -> (context, feature_lists)."""
    context: dict[str, Any] = {}
    feature_lists: dict[str, list] = {}
    for f, msg in _fields(data):
        if f == 1:  # context Features
            context.update(_decode_features(msg))
        elif f == 2:  # FeatureLists: each FeatureList is repeated Feature = 1
            for name, fl in _map_entries(msg):
                feature_lists[name] = [
                    _decode_feature(v) for f2, v in _fields(fl) if f2 == 1
                ]
    return context, feature_lists
