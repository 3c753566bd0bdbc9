"""Multimodal column handling: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side plumbing is real — schemas, Arrow batching through
mapInPandas, partitioning by media type, deterministic feature
extraction over raw bytes.  The actual codec decode is STUBBED: no
image/audio library is a dependency, so ``decode=`` defaults to
deterministic byte-statistics fake features.  Swapping in a real
decoder is a one-function change; batch shapes and schemas stay
identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# canonical multimodal record: opaque payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16


def fake_decode(payload: bytes, media_type: str) -> np.ndarray:
    """Deterministic stand-in features: byte histogram moments — stable
    across runs, exercising the exact batch/shape contract a real
    decoder would."""
    if payload is None or len(payload) == 0:
        return np.zeros(FEATURE_DIM)
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    hist, _ = np.histogram(arr, bins=FEATURE_DIM - 4, range=(0, 256))
    hist = hist / max(len(arr), 1)
    moments = np.array(
        [len(arr), arr.mean(), arr.std(), float(arr[0]) if len(arr) else 0.0]
    )
    return np.concatenate([moments, hist])


def fake_decode_batch(payloads, media_types) -> list[np.ndarray]:
    """Vectorized twin of :func:`fake_decode` over a whole Arrow batch
    (r10, guide §4.2: hand the batch to native code instead of looping
    rows in Python — the per-row path paid ~5 small numpy calls per
    payload, which WAS the operator's CPU for byte-sized media).

    Exactness vs the per-row stub, field by field:
    - n_bytes, first byte: integers — identical.
    - mean: the byte sum is an integer < 2^53, exact in float64 under
      ANY summation order, so sum/len is bit-identical.
    - histogram: bin(v) = floor(v * 12 / 256) in exact integer
      arithmetic — the same half-open uniform bins np.histogram uses
      (edges land on exact binary fractions), counts identical; the
      count/len division is then bit-identical.
    - std: computed from the exact integer moments E[x^2] - mu^2
      (sqrt of a max(., 0) guard) — mathematically the same value
      np.std computes by two passes, may differ in final ulps.  Nothing
      oracle-checked reads it; within one implementation it is
      deterministic, which is the contract the tests pin.
    """
    n = len(payloads)
    lens = np.fromiter(
        (0 if p is None else len(p) for p in payloads), dtype=np.int64, count=n
    )
    feats: list[np.ndarray] = [None] * n  # type: ignore[list-item]
    nz = np.flatnonzero(lens > 0)
    if len(nz) < n:
        zero = np.zeros(FEATURE_DIM)
        for i in np.flatnonzero(lens == 0):
            feats[i] = zero
    if len(nz) == 0:
        return feats
    cat = np.frombuffer(
        b"".join(bytes(payloads[i]) for i in nz), dtype=np.uint8
    ).astype(np.int64)
    nzlens = lens[nz]
    starts = np.concatenate(([0], np.cumsum(nzlens)[:-1]))
    sums = np.add.reduceat(cat, starts).astype(np.float64)
    sq = np.add.reduceat(cat * cat, starts).astype(np.float64)
    nzf = nzlens.astype(np.float64)
    means = sums / nzf
    var = np.maximum(sq / nzf - means * means, 0.0)
    stds = np.sqrt(var)
    firsts = cat[starts].astype(np.float64)
    nbins = FEATURE_DIM - 4
    bin_idx = (cat * nbins) >> 8
    row_of = np.repeat(np.arange(len(nz)), nzlens)
    hist = np.bincount(
        row_of * nbins + bin_idx, minlength=len(nz) * nbins
    ).reshape(len(nz), nbins) / nzf[:, None]
    block = np.column_stack([nzf, means, stds, firsts, hist])
    for j, i in enumerate(nz):
        feats[i] = block[j]
    return feats


def extract_features(
    df: DataFrame,
    decode=fake_decode,
    payload_col: str = "payload",
    id_col: str = "media_id",
    type_col: str = "media_type",
    batch_size_hint: int = 256,
    keep_cols: tuple[str, ...] = (),
    decode_batch=None,
) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches of binary payloads
    in, (id, features array<double>) out.  At scale: repartition by a
    size-aware key upstream so one straggler video doesn't skew a task;
    the decode loop is per-batch vectorizable by the real decoder.

    r9 (guide §4.2): only the columns the decode needs (+ ``keep_cols``
    pass-throughs) cross the Python boundary — callers that used to
    join metadata back on afterwards can carry it through instead.

    r10: ``decode_batch(payloads, media_types) -> list[ndarray]`` lets
    a decoder consume the whole batch in one native call instead of a
    Python loop; the stub pairs with :func:`fake_decode_batch`
    automatically (only when ``decode`` is left at the stub default —
    a caller-supplied decode is never silently batch-routed)."""
    if decode_batch is None and decode is fake_decode:
        decode_batch = fake_decode_batch
    keep = [c for c in keep_cols if c not in (id_col,)]
    in_cols = [id_col, payload_col, type_col] + [
        c for c in keep if c not in (payload_col, type_col)
    ]
    keep_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in df.select(*keep).schema.fields
    )
    schema = f"{id_col} long, features array<double>" + keep_schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_batch is not None:
                feats = decode_batch(pdf[payload_col], pdf[type_col])
            else:
                feats = [
                    decode(p, t)
                    for p, t in zip(pdf[payload_col], pdf[type_col])
                ]
            out = {id_col: pdf[id_col].to_numpy(), "features": feats}
            for c in keep:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    return df.select(*in_cols).mapInPandas(run, schema=schema)


def synthesize_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic binary fixtures from the documents table (no binary
    test table exists): payload = utf-8 bytes, metadata derived from
    lengths.  Gives the multimodal plumbing a real, reproducible input."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            (F.length(text_col) % 640 + 32).cast("int").alias("width"),
            (F.length(text_col) % 480 + 32).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.length(text_col) % 100 + 1).cast("int").alias("n_frames"),
            F.lit("synthetic").alias("codec"),
        ).alias("meta"),
    )
