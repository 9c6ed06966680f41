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
split, named by the partition and renamed into place when the task is
done (the same layout and commit a FileFormat sink would produce). This is
imperative I/O at the serialization edge, the one place the SURVEY
sanctions mapPartitions-style code.

One reader, :func:`read_tfrecord_dataset`: gzipped files stream whole;
uncompressed files (e.g. written by another producer) split into
record-aligned chunks by hopping frame headers. Every read opens a file
the same way (the raw stream, gunzipped as it is read when the name ends
in ``.gz``), and one header reader, :func:`_read_header`, parses frames
for both the record iterator and the chunk index, so a truncated or
corrupt frame raises the same ``IOError`` naming its file on every path.
"""

from __future__ import annotations

import contextlib
import gzip
import os
import struct

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


def _read_header(f, origin: str) -> int | None:
    """Read one 12-byte frame header and return its record length; None
    at a clean end of stream. Raises ``IOError`` naming ``origin`` on a
    truncated header or a bad length CRC."""
    header = f.read(12)
    if not header:
        return None
    if len(header) < 12:
        raise IOError(f"truncated TFRecord frame header in {origin}")
    length, lcrc = struct.unpack("<QI", header)
    if lcrc != _masked_crc(header[:8]):
        raise IOError(f"corrupt TFRecord length crc in {origin}")
    return length


def _iter_framed(f, origin: str):
    """Yield records from an open TFRecord stream, verifying both CRCs."""
    while (length := _read_header(f, origin)) is not None:
        data = f.read(length)
        tail = f.read(4)
        if len(tail) < 4:  # a short payload leaves no room for its CRC
            raise IOError(f"truncated TFRecord record in {origin}")
        if struct.unpack("<I", tail)[0] != _masked_crc(data):
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
    file, by hopping frame headers (12 bytes read + seek per record — no
    record data is touched). Raises on a malformed frame."""
    size = os.path.getsize(fs_path)
    chunks = []
    with open(fs_path, "rb") as f:
        start = pos = 0
        while (length := _read_header(f, origin)) is not None:
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
      frame headers (12 bytes per record, no record data) and emits
      ``(offset, nbytes)`` chunks of ~``target_chunk_bytes``. The decode
      stage then reads only its chunk — task memory is O(chunk), and a
      10 GB shard becomes ~160 parallel 64 MB tasks instead of one
      task holding 10 GB (TFRecord has no self-synchronizing marker, so
      a header-hop index is the only safe way to split; the hop pass
      touches page-cache-friendly 12-byte reads).
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
    Python side only has locally — so there the one size guard covers
    every file, not only gzip ones. A gzip file there still decompresses
    as it is decoded, never whole. Both filesystems feed the same decode
    loop.

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

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
        StructType,
    )

    from ..functions.tfexample import decode_example

    names = [f.name for f in schema.fields]
    types = {f.name: f.dataType for f in schema.fields}
    arrow_schema = to_arrow_schema(schema)

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
    files = [
        (r["path"], int(r["length"]))
        for r in listing.select("path", "length").collect()
    ]  # metadata only — one row per FILE, driver-small by definition
    local = bool(files) and all(_local_path(p) is not None for p, _ in files)

    # One task holds each gzip file (not seekable) and, off the local
    # filesystem, each whole file.
    over = [
        (p, ln)
        for p, ln in files
        if ln > max_compressed_file_bytes and (p.endswith(".gz") or not local)
    ]
    if over:
        worst_p, worst_len = max(over, key=lambda t: t[1])
        raise ValueError(
            f"{len(over)} TFRecord file(s) exceed "
            f"max_compressed_file_bytes={max_compressed_file_bytes} "
            f"(largest: {worst_p!r} at {worst_len} bytes). Each is read by "
            "a single task: gzip is not seekable, and a non-local "
            "filesystem loads whole files. Write smaller shards, write "
            "uncompressed TFRecords on a local filesystem (which split "
            "into record-aligned chunks), or raise the limit to accept "
            "the straggler."
        )

    if local:
        paths_df = spark.createDataFrame(
            [(p, _local_path(p)) for p, _ in files], "path string, fs string"
        ).repartition(max(1, min(len(files), 256)))

        index_ddl = "path string, fs string, offset long, nbytes long"
        index_schema = to_arrow_schema(StructType.fromDDL(index_ddl))

        def _index(batches):
            for batch in batches:
                rows = [
                    {**r, "offset": off, "nbytes": nb}
                    for r in batch.to_pylist()
                    for off, nb in (
                        [(0, -1)]  # gzip: stream the whole file
                        if r["path"].endswith(".gz")
                        else _scan_chunks(
                            r["fs"], r["path"], target_chunk_bytes
                        )
                    )
                ]
                yield pa.RecordBatch.from_pylist(rows, schema=index_schema)

        inputs = paths_df.mapInArrow(_index, schema=index_ddl).repartition(
            spark.sparkContext.defaultParallelism
        )

        def _streams(batch):
            for p, fs, off, nb in zip(*batch.to_pydict().values()):
                if nb == -1:  # gzip: the whole file, streamed
                    yield p, open(fs, "rb")
                else:  # bounded chunk read
                    with open(fs, "rb") as f:
                        f.seek(off)
                        chunk = f.read(nb)
                    yield p, io.BytesIO(chunk)
    else:
        inputs = listing.select("path", "content")

        def _streams(batch):
            for p, blob in zip(*batch.to_pydict().values()):
                yield p, io.BytesIO(blob)

    batch_rows = 4096

    def _flush(cols, force=False):
        n_done = len(cols[names[0]]) if names else 0
        if n_done and (force or n_done >= batch_rows):
            batch = pa.RecordBatch.from_pydict(cols, schema=arrow_schema)
            for c in cols.values():
                c.clear()
            yield batch

    def _decode(batches):
        """Decode every record of every stream into bounded Arrow batches
        of ``batch_rows`` records. A gzip stream is decompressed as it is
        read, so memory stays flat whatever the file size."""
        cols: dict[str, list] = {n: [] for n in names}
        for batch in batches:
            for p, raw in _streams(batch):
                gz = p.endswith(".gz")
                with raw, (gzip.GzipFile(fileobj=raw) if gz else raw) as f:
                    for rec in _iter_framed(f, p):
                        ex = decode_example(rec)
                        for n in names:
                            cols[n].append(_coerce(ex.get(n), types[n], n))
                        yield from _flush(cols)
        yield from _flush(cols, force=True)

    return inputs.mapInArrow(_decode, schema=schema)


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
    records into one open ``{file_prefix}-{partition:05d}.tfrecord.gz``
    per split it sees, creating that split's directory on first use —
    O(1) executor memory per handle regardless of partition size, no
    shuffle — mirroring the reference's per-split gzipped TFRecord dirs
    (``executor.py:163,181,186-188`` [delegated]). A split with no rows
    gets no directory. A file's name comes from its partition, so it
    depends only on the input's partitioning, not on the run.

    Each attempt writes under a hidden, attempt-unique temp name
    (``.{name}.{attempt}.tmp``) and renames it into place with
    ``os.replace`` once the partition is done, after removing the temp
    files an earlier attempt at the same partition left. So a retried
    task replaces its partition's files: a failed attempt leaves neither
    a partial file nor a duplicate of the retry's records.

    ``mode="overwrite"`` (default): re-running into the same ``out_dir``
    replaces the previous dataset — stale ``Split-*/`` dirs and
    ``*.tfrecord*`` files are cleared first (the parquet path gets this
    from ``mode("overwrite")``; without it, part files of an earlier run
    that wrote more partitions would stay and duplicate the dataset).

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

    from pyspark import TaskContext

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
        ctx = TaskContext.get()
        name = f"{file_prefix}-{ctx.partitionId():05d}.tfrecord.gz"
        for p in glob.glob(os.path.join(
            glob.escape(out_dir),
            "Split-*" if split_col else "",
            glob.escape(f".{name}.") + "*.tmp",
        )):
            os.remove(p)
        tmp = f".{name}.{ctx.taskAttemptId()}.tmp"
        handles: dict[str, object] = {}
        subs: list[str] = []
        with contextlib.ExitStack() as stack:
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
                    subs.append(sub)
                    raw = stack.enter_context(
                        open(os.path.join(sub, tmp), "wb")
                    )
                    # No file name or time in the gzip header: a shard's
                    # bytes depend only on its records.
                    f = handles[key] = stack.enter_context(gzip.GzipFile(
                        filename="", mode="wb", fileobj=raw, mtime=0
                    ))
                _write_record(f, row[bytes_col])
        for sub in subs:
            os.replace(os.path.join(sub, tmp), os.path.join(sub, name))

    bytes_df.foreachPartition(_write_partition)
