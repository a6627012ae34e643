"""Training-data sink/source formats: TFRecord and WebDataset.

The two de-facto shard formats ML training loaders consume:

* **TFRecord** — length-prefixed records with masked-CRC32C framing,
  each record a ``tf.train.Example`` protobuf. This module hand-rolls
  BOTH layers in pure Python/numpy — the protobuf WIRE FORMAT is a
  tiny stable encoding (varints + length-delimited fields), so no
  tensorflow/protobuf dependency is needed (protobuf is absent in
  this container; the repo rule is to gate, stub, or re-derive —
  here the format is small enough to re-derive exactly). Files are
  valid for real TF readers: standard framing, standard Example
  schema (bytes features for strings/binary, packed Int64List for
  ints).
* **WebDataset** — POSIX tar shards whose members group by key
  (``{key}.{ext}``), readable by the webdataset loader and plain
  ``tar``. Uses the stdlib ``tarfile``.

Scale shape: one shard file per input partition, written
executor-side inside ``mapInPandas`` (rows never visit the driver);
the returned manifest (file, n_records) is the only collected data.
Combine with `pipeline.shard_training_data` +
``repartition("shard")`` for deterministic shard contents.

Pickling: the whole codec lives in `_make_codec`, a factory whose
NESTED functions the kernels close over — cloudpickle serializes
nested functions by value, so the kernels run on executors whose
Python workers cannot import this package (the repo's kernel rule;
module-level helpers would pickle by reference and raise
ModuleNotFoundError when the driver cwd is outside the repo).
Integer feature columns travel Spark→kernel as STRINGS and are
parsed back to Python ints — exact for the full int64 range and
null-safe (a nullable long column would otherwise reach pandas as
float64: NaN crashes int(), and values above 2^53 silently corrupt).

Reference analog: the reference exports CSV only (CsvWriter.cs); the
brief's training-pipeline north star needs the ML-native formats.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _clear_stale_shards(path: str, pattern: str) -> None:
    """Exporters write part-<pid> files named by input partition id; a
    re-run with FEWER partitions would leave higher-numbered shards
    from the previous run in place, and the readers (directory glob)
    would silently include them — the directory would disagree with
    the returned manifest. Remove prior matching shards up front so
    the directory is exactly the manifest after every export."""
    import glob

    for f in glob.glob(os.path.join(path, pattern)):
        os.remove(f)


def _make_codec():
    """The complete TFRecord/Example codec as NESTED functions
    (pickle-by-value; see module docstring). Returns a dict of
    callables; module-level wrappers delegate to a singleton."""
    import struct

    poly = 0x82F63B78
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)

    def crc32c(data: bytes) -> int:
        c = 0xFFFFFFFF
        for b in data:
            c = table[(c ^ b) & 0xFF] ^ (c >> 8)
        return c ^ 0xFFFFFFFF

    def masked_crc(data: bytes) -> int:
        c = crc32c(data)
        return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF

    def varint(n: int) -> bytes:
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def tag(field: int, wire: int) -> bytes:
        return varint((field << 3) | wire)

    def ld(field: int, payload: bytes) -> bytes:
        return tag(field, 2) + varint(len(payload)) + payload

    def feature_bytes(value: bytes) -> bytes:
        # Feature { bytes_list = 1 } ; BytesList { value = 1 }
        return ld(1, ld(1, value))

    def feature_int64s(values) -> bytes:
        # Feature { int64_list = 3 } ; Int64List { packed value = 1 }
        packed = b"".join(varint(v & 0xFFFFFFFFFFFFFFFF) for v in values)
        return ld(3, ld(1, packed))

    def encode_example(features: dict) -> bytes:
        entries = []
        for k in sorted(features):
            v = features[k]
            if isinstance(v, str):
                f = feature_bytes(v.encode("utf-8"))
            elif isinstance(v, (bytes, bytearray)):
                f = feature_bytes(bytes(v))
            elif isinstance(v, int):
                f = feature_int64s([v])
            elif isinstance(v, (list, tuple)):
                f = feature_int64s([int(x) for x in v])
            else:
                raise TypeError(
                    f"unsupported feature type for {k!r}: {type(v)}"
                )
            # map<string, Feature> entry: key = 1, value = 2
            entries.append(ld(1, ld(1, k.encode("utf-8")) + ld(2, f)))
        return ld(1, b"".join(entries))  # Example { features = 1 }

    def read_varint(buf: bytes, pos: int):
        n = shift = 0
        while True:
            b = buf[pos]
            pos += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n, pos
            shift += 7

    def fields(buf):
        pos = 0
        while pos < len(buf):
            t, pos = read_varint(buf, pos)
            field, wire = t >> 3, t & 7
            if wire == 2:
                ln, pos = read_varint(buf, pos)
                yield field, buf[pos : pos + ln]
                pos += ln
            elif wire == 0:
                v, pos = read_varint(buf, pos)
                yield field, v
            else:
                raise ValueError(f"unsupported wire type {wire}")

    def decode_example(data: bytes) -> dict:
        out: dict = {}
        for f1, features_msg in fields(data):
            if f1 != 1:
                continue
            for f2, entry in fields(features_msg):
                if f2 != 1:
                    continue
                key = feat = None
                for f3, v in fields(entry):
                    if f3 == 1:
                        key = v.decode("utf-8")
                    elif f3 == 2:
                        feat = v
                if key is None or feat is None:
                    continue
                for f4, payload in fields(feat):
                    if f4 == 1:  # BytesList
                        for f5, b in fields(payload):
                            if f5 == 1:
                                out[key] = b
                    elif f4 == 3:  # Int64List
                        vals = []
                        for f5, b in fields(payload):
                            if f5 != 1:
                                continue
                            if isinstance(b, int):  # non-packed
                                vals.append(b)
                            else:  # packed
                                p = 0
                                while p < len(b):
                                    v, p = read_varint(b, p)
                                    vals.append(v)
                        out[key] = [
                            v - (1 << 64) if v >= (1 << 63) else v
                            for v in vals
                        ]
        return out

    def frame(payload: bytes) -> bytes:
        ln = struct.pack("<Q", len(payload))
        return (
            ln
            + struct.pack("<I", masked_crc(ln))
            + payload
            + struct.pack("<I", masked_crc(payload))
        )

    def iter_records(path: str):
        with open(path, "rb") as f:
            while True:
                head = f.read(12)
                if not head:
                    return
                (ln,) = struct.unpack("<Q", head[:8])
                (lcrc,) = struct.unpack("<I", head[8:])
                if lcrc != masked_crc(head[:8]):
                    raise ValueError(f"{path}: corrupt length crc")
                payload = f.read(ln)
                (dcrc,) = struct.unpack("<I", f.read(4))
                if dcrc != masked_crc(payload):
                    raise ValueError(f"{path}: corrupt data crc")
                yield payload

    return {
        "crc32c": crc32c,
        "encode_example": encode_example,
        "decode_example": decode_example,
        "frame": frame,
        "iter_records": iter_records,
    }


_CODEC = _make_codec()


# public API (tests, direct callers) — delegates to the singleton
def crc32c(data: bytes) -> int:
    return _CODEC["crc32c"](data)


def encode_example(features: dict) -> bytes:
    """``tf.train.Example`` wire bytes for a dict of
    str -> bytes|str|int|list[int]; keys emitted in sorted order so
    the encoding is deterministic."""
    return _CODEC["encode_example"](features)


def decode_example(data: bytes) -> dict:
    """Decode the Example subset `encode_example` writes: bytes
    features come back as bytes, int64 features as lists of ints
    (packed or repeated varints)."""
    return _CODEC["decode_example"](data)


def iter_tfrecords(path: str):
    """Yield (and CRC-verify) record payloads from one TFRecord
    file."""
    return _CODEC["iter_records"](path)


# ------------------------------------------------------------- writers


def export_tfrecord(
    df: DataFrame,
    path: str,
    *,
    bytes_cols: tuple = ("text",),
    int_cols: tuple = ("doc_id",),
) -> list:
    """Write `df` as TFRecord shards (one per input partition,
    executor-side). Returns the collected manifest
    [(file, n_records), ...] — the only driver-side data. NULL int
    features encode as an empty Int64List (read back as None)."""
    from pyspark.sql import functions as F

    os.makedirs(path, exist_ok=True)
    _clear_stale_shards(path, "part-*.tfrecord")
    bcols = [str(c) for c in bytes_cols]
    icols = [str(c) for c in int_cols]
    out_dir = path
    codec = _make_codec()  # fresh instance: nested fns pickle by value
    # ints travel as strings: exact for the full int64 range and
    # null-safe (see module docstring)
    prepared = df.select(
        *[F.col(c).cast("string").alias(c) for c in bcols],
        *[F.col(c).cast("string").alias(c) for c in icols],
    )

    def write(batches):
        import pandas as pd
        from pyspark import TaskContext

        enc, frame = codec["encode_example"], codec["frame"]
        pid = TaskContext.get().partitionId()
        fname = os.path.join(out_dir, f"part-{pid:05d}.tfrecord")
        n = 0
        with open(fname, "wb") as f:
            for pdf in batches:
                for _, row in pdf.iterrows():
                    feats = {}
                    for c in bcols:
                        v = row[c]
                        feats[c] = "" if v is None else str(v)
                    for c in icols:
                        v = row[c]
                        feats[c] = [] if v is None else [int(v)]
                    f.write(frame(enc(feats)))
                    n += 1
        yield pd.DataFrame({"file": [fname], "n_records": [n]})

    manifest = prepared.mapInPandas(write, "file string, n_records long")
    return [(r["file"], r["n_records"]) for r in manifest.collect()]


def read_tfrecord(
    spark,
    path: str,
    *,
    bytes_cols: tuple = ("text",),
    int_cols: tuple = ("doc_id",),
):
    """Distributed TFRecord reader for shards written by
    `export_tfrecord` (one task per shard file; CRC-verified)."""
    from pyspark.sql import functions as F

    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".tfrecord")
    )
    bcols = [str(c) for c in bytes_cols]
    icols = [str(c) for c in int_cols]
    codec = _make_codec()
    fdf = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(max(1, len(files)), "file")

    def load(batches):
        import pandas as pd

        it, dec = codec["iter_records"], codec["decode_example"]
        for pdf in batches:
            rows: dict = {c: [] for c in [*icols, *bcols]}
            for f in pdf["file"]:
                for payload in it(f):
                    ex = dec(payload)
                    for c in bcols:
                        b = ex.get(c, b"")
                        rows[c].append(
                            b.decode("utf-8") if isinstance(b, bytes) else b
                        )
                    for c in icols:
                        v = ex.get(c, [])
                        rows[c].append(v[0] if v else None)
            yield pd.DataFrame(
                {
                    **{c: pd.array(rows[c], dtype="Int64") for c in icols},
                    **{c: rows[c] for c in bcols},
                }
            )

    schema = ", ".join(
        [f"{c} long" for c in icols] + [f"{c} string" for c in bcols]
    )
    return fdf.mapInPandas(load, schema).select(
        *[F.col(c) for c in [*icols, *bcols]]
    )


def export_webdataset(
    df: DataFrame,
    path: str,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    meta_cols: tuple = (),
) -> list:
    """Write `df` as WebDataset tar shards: per example, members
    ``{key}.txt`` (the text) and ``{key}.json`` (the metadata dict).
    One shard per partition, executor-side; returns the manifest."""
    os.makedirs(path, exist_ok=True)
    _clear_stale_shards(path, "shard-*.tar")
    kcol, tcol = str(key_col), str(text_col)
    mcols = [str(c) for c in meta_cols]
    out_dir = path

    def write(batches):
        import io
        import json
        import tarfile

        import pandas as pd
        from pyspark import TaskContext

        def py(v):
            try:
                return v.item()  # numpy scalar
            except AttributeError:
                return v

        pid = TaskContext.get().partitionId()
        fname = os.path.join(out_dir, f"shard-{pid:05d}.tar")
        n = 0
        with tarfile.open(fname, "w") as tar:
            for pdf in batches:
                for _, row in pdf.iterrows():
                    key = str(row[kcol])
                    txt = (
                        "" if row[tcol] is None else str(row[tcol])
                    ).encode("utf-8")
                    meta = json.dumps(
                        {c: py(row[c]) for c in mcols}, sort_keys=True
                    ).encode("utf-8")
                    for ext, blob in ((".txt", txt), (".json", meta)):
                        info = tarfile.TarInfo(name=key + ext)
                        info.size = len(blob)
                        info.mtime = 0  # deterministic shards
                        tar.addfile(info, io.BytesIO(blob))
                    n += 1
        yield pd.DataFrame({"file": [fname], "n_records": [n]})

    manifest = df.select(kcol, tcol, *mcols).mapInPandas(
        write, "file string, n_records long"
    )
    return [(r["file"], r["n_records"]) for r in manifest.collect()]


def read_webdataset(spark, path: str):
    """Distributed WebDataset reader: one task per shard, grouping
    tar members by key. Returns (key, text, meta_json)."""
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".tar")
    )
    fdf = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(max(1, len(files)), "file")

    def load(batches):
        import os as _os
        import tarfile

        import pandas as pd

        for pdf in batches:
            keys, texts, metas = [], [], []
            for f in pdf["file"]:
                groups: dict = {}
                with tarfile.open(f, "r") as tar:
                    for m in tar.getmembers():
                        key, ext = _os.path.splitext(m.name)
                        groups.setdefault(key, {})[ext] = tar.extractfile(
                            m
                        ).read()
                for key in sorted(groups):
                    g = groups[key]
                    keys.append(key)
                    texts.append(g.get(".txt", b"").decode("utf-8"))
                    metas.append(g.get(".json", b"{}").decode("utf-8"))
            yield pd.DataFrame(
                {"key": keys, "text": texts, "meta_json": metas}
            )

    return fdf.mapInPandas(load, "key string, text string, meta_json string")
