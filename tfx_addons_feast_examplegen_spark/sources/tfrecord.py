"""TFRecord file sink for serialized example bytes.

The reference's terminal stage ([delegated] to TFX's
``BaseExampleGenExecutor`` at ``executor.py:163,181``) writes gzipped
TFRecord files of serialized ``tf.Example`` under ``Split-{name}/``.
Rebuilt here without TensorFlow: the TFRecord framing is public and tiny —

    uint64 length (LE) | uint32 masked_crc32c(length) |
    bytes  data        | uint32 masked_crc32c(data)

crc32c (Castagnoli) is implemented with a precomputed table; the mask is
``((crc >> 15) | (crc << 17)) + 0xa282ead8``.

One writer, :func:`write_partitioned_tfrecords`: a single
``foreachPartition`` pass on executors — embarrassingly parallel, no
shuffle, no driver-side probe job, one gzipped file per partition per
split (the same layout a FileFormat sink would produce). This is
imperative I/O at the serialization edge, the one place the SURVEY
sanctions mapPartitions-style code.

One reader, :func:`read_tfrecord_dataset`: gzipped files stream whole;
uncompressed files (e.g. written by another producer) split into
record-aligned chunks by hopping frame headers.
"""

from __future__ import annotations

import gzip
import os
import struct
import uuid

_CRC_TABLE = []
_POLY = 0x82F63B78  # Castagnoli, reflected


def _build_table() -> None:
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ _POLY if c & 1 else c >> 1
        _CRC_TABLE.append(c)


_build_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def _write_record(f, rec: bytes) -> None:
    """Append one framed record to an open file handle (streaming)."""
    length = struct.pack("<Q", len(rec))
    f.write(length)
    f.write(struct.pack("<I", _masked_crc(length)))
    f.write(rec)
    f.write(struct.pack("<I", _masked_crc(rec)))


def _iter_framed(f, origin: str):
    """Yield records from an open TFRecord stream, verifying both CRCs."""
    while True:
        header = f.read(8)
        if not header:
            return
        (length,) = struct.unpack("<Q", header)
        (lcrc,) = struct.unpack("<I", f.read(4))
        if lcrc != _masked_crc(header):
            raise IOError(f"corrupt TFRecord length crc in {origin}")
        data = f.read(length)
        (dcrc,) = struct.unpack("<I", f.read(4))
        if dcrc != _masked_crc(data):
            raise IOError(f"corrupt TFRecord data crc in {origin}")
        yield data


def read_tfrecords(path: str, compressed: bool = True):
    """Iterate serialized records from a TFRecord file (verifies CRCs)."""
    opener = gzip.open if compressed else open
    with opener(path, "rb") as f:
        yield from _iter_framed(f, path)


def _local_path(p: str) -> str | None:
    """Filesystem path for a ``file:`` URI (or bare path); None otherwise."""
    if p.startswith("file://"):
        return p[len("file://"):]
    if p.startswith("file:"):
        return p[len("file:"):]
    if "://" not in p and p.startswith("/"):
        return p
    return None


def _scan_chunks(fs_path: str, origin: str, target_bytes: int):
    """Record-aligned (offset, nbytes) chunks of an UNCOMPRESSED TFRecord
    file, by hopping frame headers (16 bytes read + seek per record — no
    record data is touched). Raises on a malformed frame."""
    size = os.path.getsize(fs_path)
    chunks = []
    with open(fs_path, "rb") as f:
        start = pos = 0
        while pos < size:
            header = f.read(8)
            if len(header) < 8:
                raise IOError(f"truncated TFRecord frame in {origin}")
            (length,) = struct.unpack("<Q", header)
            (lcrc,) = struct.unpack("<I", f.read(4))
            if lcrc != _masked_crc(header):
                raise IOError(f"corrupt TFRecord length crc in {origin}")
            pos += 12 + length + 4
            if pos > size:
                raise IOError(f"truncated TFRecord record in {origin}")
            f.seek(pos)
            if pos - start >= target_bytes:
                chunks.append((start, pos - start))
                start = pos
        if pos > start:
            chunks.append((start, pos - start))
    return chunks or [(0, 0)]


def read_tfrecord_dataset(
    spark,
    path: str,
    schema,
    *,
    target_chunk_bytes: int = 64 << 20,
    max_compressed_file_bytes: int = 2 << 30,
):
    """Distributed read of a TFRecord dataset back into a typed DataFrame.

    The source side of the S6 sink, with an enforced memory contract:

    - **Listing** is metadata-only (``binaryFile`` with the content
      column pruned — the scan reads paths and lengths, never bytes).
    - **Uncompressed files are split into record-aligned byte-range
      chunks** by a distributed index pass: one task per file hops the
      frame headers (16 bytes per record, no record data) and emits
      ``(offset, nbytes)`` chunks of ~``target_chunk_bytes``. The decode
      stage then reads only its chunk — task memory is O(chunk), and a
      10 GB shard becomes ~160 parallel 64 MB tasks instead of one
      task holding 10 GB (TFRecord has no self-synchronizing marker, so
      a header-hop index is the only safe way to split; the hop pass
      touches page-cache-friendly 16-byte reads).
    - **Gzip files stream**: the decoder wraps the open file handle, so
      task memory is O(record) regardless of file size — but the file
      itself is one task (gzip is not seekable), so files larger than
      ``max_compressed_file_bytes`` fail fast with a clear message
      (straggler/time guard; raise the limit explicitly to accept the
      skew, or write uncompressed / smaller shards).
    - Decode output is yielded in bounded record batches, so the Arrow
      transfer buffer is flat too.

    Non-``file:`` filesystems (object stores) fall back to whole-file
    ``binaryFile`` loading — splitting needs seekable opens, which the
    Python side only has locally; the fallback still enforces
    ``max_compressed_file_bytes`` against ALL files as its memory guard.

    Decoding deframes (CRC-verified), decodes each ``tf.train.Example``
    with the hand-rolled wire codec, and coerces features onto
    ``schema``'s types. Supported field types mirror the encode map
    (SURVEY.md §1.2): int/long, float/double (float32 fidelity — that is
    the tf.Example contract, not a reader limitation), string, binary,
    boolean, and ``ArrayType`` of those for repeated features. A feature
    absent from a record surfaces as null; a MULTI-VALUED feature read
    into a scalar schema field raises (silent first-value truncation
    loses data).
    """
    import io
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
    )

    from ..functions.tfexample import decode_example

    names = [f.name for f in schema.fields]
    types = {f.name: f.dataType for f in schema.fields}

    def _scalar(v0, dt, name):
        if isinstance(dt, (LongType, IntegerType)):
            return int(v0)
        if isinstance(dt, BooleanType):
            return bool(v0)
        if isinstance(dt, (DoubleType, FloatType)):
            return float(v0)
        if isinstance(dt, StringType):
            return v0.decode("utf-8") if isinstance(v0, bytes) else str(v0)
        if isinstance(dt, BinaryType):
            return bytes(v0)
        raise TypeError(f"unsupported TFRecord read type for {name!r}: {dt}")

    def _coerce(v, dt, name):
        if v is None or len(v) == 0:
            return None
        if isinstance(dt, ArrayType):
            return [_scalar(x, dt.elementType, name) for x in v]
        if len(v) > 1:
            raise ValueError(
                f"feature {name!r} holds {len(v)} values but the schema "
                f"declares scalar {dt}; declare ArrayType to read "
                f"repeated features (refusing to truncate)"
            )
        return _scalar(v[0], dt, name)

    listing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.tfrecord*")
        .load(path)
    )

    batch_rows = 4096

    def _flush_ready(cols, force=False):
        n_done = len(cols[names[0]]) if names else 0
        if n_done and (force or n_done >= batch_rows):
            out = pd.DataFrame(cols, columns=names)
            for n in names:
                cols[n] = []
            return out
        return None

    def _decode_stream(f, origin, cols):
        """Decode records from an open framed stream into ``cols``,
        yielding a bounded DataFrame every ``batch_rows`` records — flat
        memory even when one (gzip) stream holds millions of records."""
        for rec in _iter_framed(f, origin):
            ex = decode_example(rec)
            for n in names:
                cols[n].append(_coerce(ex.get(n), types[n], n))
            out = _flush_ready(cols)
            if out is not None:
                yield out

    # --- local (file:) scheme: chunked + streaming decode ---------------
    files = [
        (r["path"], int(r["length"]))
        for r in listing.select("path", "length").collect()
    ]  # metadata only — one row per FILE, driver-small by definition
    local_files = [(p, _local_path(p), ln) for p, ln in files]
    if local_files and all(fs is not None for _, fs, _ in local_files):
        over = [
            (p, ln)
            for p, fs, ln in local_files
            if p.endswith(".gz") and ln > max_compressed_file_bytes
        ]
        if over:
            worst_p, worst_len = max(over, key=lambda t: t[1])
            raise ValueError(
                f"{len(over)} gzip TFRecord file(s) exceed "
                f"max_compressed_file_bytes={max_compressed_file_bytes} "
                f"(largest: {worst_p!r} at {worst_len} bytes). Gzip is "
                "not seekable, so each such file is a single streaming "
                "task — write smaller shards, use uncompressed TFRecords "
                "(which split into record-aligned chunks), or raise the "
                "limit to accept the straggler."
            )
        paths_df = spark.createDataFrame(
            [(p, fs) for p, fs, _ in local_files], "path string, fs string"
        ).repartition(max(1, min(len(local_files), 256)))

        def _index(batches):
            for pdf in batches:
                rows = {"path": [], "fs": [], "offset": [], "nbytes": []}
                for p, fs in zip(pdf["path"], pdf["fs"]):
                    if p.endswith(".gz"):
                        chunks = [(0, -1)]  # stream whole file
                    else:
                        chunks = _scan_chunks(fs, p, target_chunk_bytes)
                    for off, nb in chunks:
                        rows["path"].append(p)
                        rows["fs"].append(fs)
                        rows["offset"].append(off)
                        rows["nbytes"].append(nb)
                yield pd.DataFrame(rows)

        chunks_df = paths_df.mapInPandas(
            _index, schema="path string, fs string, offset long, nbytes long"
        )
        n_parallel = spark.sparkContext.defaultParallelism
        chunks_df = chunks_df.repartition(n_parallel)

        def _parse_chunks(batches: "Iterator[pd.DataFrame]"):
            cols: dict[str, list] = {n: [] for n in names}
            for pdf in batches:
                for p, fs, off, nb in zip(
                    pdf["path"], pdf["fs"], pdf["offset"], pdf["nbytes"]
                ):
                    if nb == -1:  # gzip: stream, O(record) memory
                        with open(fs, "rb") as raw, gzip.GzipFile(
                            fileobj=raw
                        ) as f:
                            yield from _decode_stream(f, p, cols)
                    elif nb > 0:  # bounded chunk read
                        with open(fs, "rb") as f:
                            f.seek(int(off))
                            chunk = io.BytesIO(f.read(int(nb)))
                        yield from _decode_stream(chunk, p, cols)
            out = _flush_ready(cols, force=True)
            if out is not None:
                yield out

        return chunks_df.mapInPandas(_parse_chunks, schema=schema)

    # --- non-local fallback: whole-file loads (binaryFile) --------------
    oversize = [(p, ln) for p, ln in files if ln > max_compressed_file_bytes]
    if oversize:
        worst_p, worst_len = max(oversize, key=lambda t: t[1])
        raise ValueError(
            f"{len(oversize)} TFRecord file(s) exceed "
            f"max_compressed_file_bytes={max_compressed_file_bytes} on a "
            f"non-seekable filesystem (largest: {worst_p!r} at "
            f"{worst_len} bytes); each whole file is held by one task "
            "here — write smaller shards or raise the limit explicitly."
        )

    def _parse(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        cols: dict[str, list] = {n: [] for n in names}
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                blob = bytes(content)
                if p.endswith(".gz"):
                    blob = gzip.decompress(blob)
                yield from _decode_stream(io.BytesIO(blob), p, cols)
        out = _flush_ready(cols, force=True)
        if out is not None:
            yield out

    return listing.select("path", "content").mapInPandas(_parse, schema=schema)


def write_partitioned_tfrecords(
    bytes_df,
    out_dir: str,
    *,
    bytes_col: str = "example",
    split_col: str | None = None,
    mode: str = "overwrite",
    file_prefix: str = "part",
) -> None:
    """Executor-parallel gzipped TFRecord write, ``Split-{name}/`` layout.

    ``bytes_df``: DataFrame with a binary column (and optionally a split
    column). One pass, one Spark job: each task streams its partition's
    records into one open ``{file_prefix}-<uuid>.tfrecord.gz`` per split
    it sees, creating that split's directory on first use — O(1)
    executor memory per handle regardless of partition size, no
    shuffle — mirroring the reference's per-split gzipped TFRecord dirs
    (``executor.py:163,181,186-188`` [delegated]). A split with no rows
    gets no directory.

    ``mode="overwrite"`` (default): re-running into the same ``out_dir``
    replaces the previous dataset — stale ``Split-*/`` dirs and
    ``*.tfrecord*`` files are cleared first (the parquet path gets this
    from ``mode("overwrite")``; without it, uuid-named part files from
    consecutive runs would silently accumulate and duplicate the
    dataset).

    ``mode="append"``: only files carrying THIS call's ``file_prefix``
    are replaced; everything else is left in place. This is the
    micro-batch contract: a streaming sink passes a per-batch unique
    prefix (e.g. ``part-b000007``), so batches accumulate side by side
    AND a replayed batch (restart after a crash between write and
    checkpoint commit) overwrites exactly its own shards — idempotent
    per batch, no cross-batch loss, no duplicates.
    """
    import glob
    import shutil

    if mode not in ("overwrite", "append"):
        raise ValueError("mode must be 'overwrite' or 'append'")
    if os.path.isdir(out_dir):
        if mode == "overwrite":
            for p in glob.glob(os.path.join(out_dir, "Split-*")):
                if os.path.isdir(p):
                    shutil.rmtree(p)
            for p in glob.glob(os.path.join(out_dir, "*.tfrecord*")):
                os.remove(p)
        else:
            for p in glob.glob(
                os.path.join(out_dir, f"{file_prefix}-*.tfrecord*")
            ) + glob.glob(
                os.path.join(out_dir, "Split-*", f"{file_prefix}-*.tfrecord*")
            ):
                os.remove(p)
    os.makedirs(out_dir, exist_ok=True)

    def _write_partition(rows):
        fid = uuid.uuid4().hex[:12]
        handles: dict[str, object] = {}
        try:
            for row in rows:
                key = row[split_col] if split_col else ""
                f = handles.get(key)
                if f is None:
                    sub = (
                        os.path.join(out_dir, f"Split-{key}")
                        if split_col
                        else out_dir
                    )
                    os.makedirs(sub, exist_ok=True)
                    f = gzip.open(
                        os.path.join(sub, f"{file_prefix}-{fid}.tfrecord.gz"),
                        "wb",
                    )
                    handles[key] = f
                _write_record(f, row[bytes_col])
        finally:
            for f in handles.values():
                f.close()

    bytes_df.foreachPartition(_write_partition)
