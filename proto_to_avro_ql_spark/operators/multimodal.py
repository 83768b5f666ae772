"""Multimodal column handling (SURVEY.md §2.9 ext_multimodal).

Images/audio/video are opaque ``binary`` columns plus a typed metadata
struct — the proto BYTES analog (§1.2). The Spark-side plumbing
(schema, partition sizing, Arrow batch shape) is real; the actual
codec decode is STUBBED because no image/audio libraries exist in this
container (clearly marked below).

Scale notes: binary payloads dominate row size, so
``spark.sql.files.maxPartitionBytes`` governs task granularity, and
feature extraction runs in ``mapInPandas`` (Arrow batches) so payload
bytes cross the Python boundary once per batch, not per row.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def pack_blob(df: DataFrame, payload_col: str, media_type: str) -> DataFrame:
    """Wrap a column into (blob BINARY, meta STRUCT) — the multimodal
    envelope. The payload is carried opaque; metadata is typed and
    queryable (so filters prune without touching bytes)."""
    blob = F.col(payload_col).cast("binary")
    return df.select(
        "*",
        blob.alias("blob"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.length(blob).alias("n_bytes"),
            F.sha2(blob, 256).alias("checksum"),
        ).alias("blob_meta"),
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("feat", T.ArrayType(T.FloatType())),
    ]
)


def extract_features(df: DataFrame, id_col: str = "event_id") -> DataFrame:
    """Arrow-batched feature extraction over the blob column via
    mapInPandas: the real-world shape for image-embedding / audio
    fingerprinting. The *decode* step is a deterministic fake (byte
    histogram) standing in for e.g. PIL/torchvision — STUB, see below.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for payload in pdf["blob"]:
                feats.append(_decode_and_featurize(bytes(payload)))
            yield pd.DataFrame(
                {
                    "event_id": pdf[id_col],
                    "n_bytes": pdf["blob"].map(len).astype("int32"),
                    "feat": feats,
                }
            )

    return df.select(id_col, "blob").mapInPandas(batches, FEATURE_SCHEMA)


def _decode_and_featurize(payload: bytes) -> list[float]:
    """STUB DECODER. A real deployment would decode the codec here
    (PIL.Image.open / torchaudio.load / pyav frame sampling) — those
    libraries are not present in this container. Deterministic fake:
    an 8-bin byte histogram normalized to 1, so tests can assert exact
    values and the Arrow plumbing is exercised end to end."""
    if not payload:
        return [0.0] * 8
    bins = [0] * 8
    for b in payload:
        bins[b >> 5] += 1
    n = float(len(payload))
    return [round(c / n, 6) for c in bins]


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("frame_checksum", T.StringType()),
    ]
)


def sample_frames(df: DataFrame, frame_bytes: int = 4, id_col: str = "event_id") -> DataFrame:
    """One-to-many frame sampling over binary payloads (the video
    frame-extraction shape): each blob yields ceil(n/frame_bytes)
    fixed-size frames with per-frame checksums.

    Implemented with native expressions (sequence + transform + explode
    of cheap index ranges — NOT explode of a computed frame array, per
    the Generate pitfall), so it stays JVM-side; a real codec would swap
    the substring slicing for a decoder inside mapInPandas.
    """
    n_frames = F.ceil(F.length("blob") / F.lit(frame_bytes)).cast("int")
    idx = df.select(
        id_col,
        "blob",
        F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))).alias(
            "frame_idx"
        ),
    )
    frame = F.expr(f"substring(blob, frame_idx * {frame_bytes} + 1, {frame_bytes})")
    return idx.select(
        F.col(id_col),
        F.col("frame_idx"),
        frame.alias("frame"),
        F.sha2(frame, 256).alias("frame_checksum"),
    )


def resize_nn(
    df: DataFrame,
    in_w: int,
    in_h: int,
    out_w: int,
    out_h: int,
    payload_col: str = "blob",
    id_col: str = "event_id",
) -> DataFrame:
    """Nearest-neighbor image resize over raw byte matrices — the one
    multimodal transform whose KERNEL needs no codec: a payload of
    ``in_w*in_h`` single-channel bytes is index-sampled down to
    ``out_w*out_h`` (``src_row = floor(i*in_h/out_h)``, the standard
    NN grid map). Runs as ``mapInPandas`` over Arrow batches with the
    whole batch vectorized through one numpy fancy-index (rows stack
    into an (n, in_h*in_w) uint8 matrix; one gather resizes the
    batch) — the real decode→transform→re-encode plumbing shape; a
    PIL/fFmpeg-backed resize would swap only the kernel line.
    Short payloads raise (malformed input should fail loudly in the
    batch, like a codec would)."""
    import numpy as np
    import pandas as pd

    rows = (np.arange(out_h) * in_h) // out_h
    cols = (np.arange(out_w) * in_w) // out_w
    flat_idx = (rows[:, None] * in_w + cols[None, :]).ravel()
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("resized", T.BinaryType()),
            T.StructField("out_w", T.IntegerType()),
            T.StructField("out_h", T.IntegerType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf[payload_col]]
            )
            if mat.shape[1] != in_w * in_h:
                raise ValueError(
                    f"payload is {mat.shape[1]} bytes, expected {in_w * in_h}"
                )
            resized = mat[:, flat_idx]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "resized": [r.tobytes() for r in resized],
                    "out_w": np.int32(out_w),
                    "out_h": np.int32(out_h),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, schema=out_schema)


# Executor workers don't share the driver's sys.path patch — ship this
# module's worker-executed functions by value (see pickling.py).
from proto_to_avro_ql_spark.pickling import register_self_contained  # noqa: E402

register_self_contained(__name__)


def dedup_payloads(packed: DataFrame, id_col: str = "event_id") -> DataFrame:
    """Exact multimodal dedup: one representative (min id) per distinct
    payload, decided entirely on the envelope's checksum — the raw
    bytes NEVER shuffle (the aggregation carries (checksum, id,
    n_bytes) only). At lake scale this is the first pass before any
    perceptual/near-dup hashing of decoded media."""
    return (
        packed.groupBy(F.col("blob_meta.checksum").alias("checksum"))
        .agg(
            F.min(F.col(id_col)).alias("representative"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.col("blob_meta.n_bytes")).alias("n_bytes"),
        )
    )


HIST_SCHEMA = T.StructType(
    [T.StructField("event_id", T.LongType()), T.StructField("n_bytes", T.LongType())]
    + [T.StructField(f"h{i}", T.LongType()) for i in range(8)]
)


def extract_byte_histogram(df: DataFrame, id_col: str = "event_id") -> DataFrame:
    """Round 8: the ORACLED feature extractor — the same mapInPandas
    Arrow plumbing as extract_features, but the deterministic fake
    decode emits the RAW 8-bin byte histogram as integer columns
    instead of normalized floats. Integers make the features
    reproducible outside Spark entirely: the DuckDB oracle recomputes
    them from the source strings (payloads are ASCII, so code points
    == bytes — asserted by the oracle itself: any non-ASCII byte would
    hash-mismatch), which turns the gate into an end-to-end proof that
    payload bytes crossed the Arrow batch boundary uncorrupted. A real
    deployment swaps `_hist` for the codec decode; the plumbing —
    schema, batching, per-batch vectorization — is exactly what ships.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for payload in pdf["blob"]:
                b = bytes(payload)
                bins = [0] * 8
                for byte in b:
                    bins[byte >> 5] += 1
                rows.append([len(b)] + bins)
            out = pd.DataFrame(
                rows, columns=["n_bytes"] + [f"h{i}" for i in range(8)]
            )
            out.insert(0, "event_id", pdf[id_col].to_numpy())
            yield out.astype("int64")

    return df.select(id_col, "blob").mapInPandas(batches, HIST_SCHEMA)


def audio_window_energy(
    df: DataFrame,
    window: int = 4,
    threshold: int = 1_200_000_000,
    id_col: str = "event_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Audio-modality kernel: treat each binary payload as int16
    little-endian PCM, compute per-window energy (exact integer sum of
    squares over ``window`` samples) and a silence flag (energy <
    threshold) — the voice-activity-detection / silence-trim primitive
    an audio curation pass runs before transcription. The kernel is a
    REAL vectorized computation (one numpy frombuffer + segmented
    cumulative-sum windowing per Arrow batch inside mapInPandas); a
    codec-backed decoder (mp3 → PCM) would swap only the frombuffer
    line (the documented stub-decoder posture of _decode_and_featurize). All-integer
    output, so the DuckDB oracle re-derives the samples from the same
    hex bytes and the energies compare exactly.

    Ragged-payload contract (round 12 — previously fixed-frame):
    payloads may have ANY per-row even byte length. Each payload's
    byte count must be even (int16 samples) — an odd length raises a
    ValueError naming the offending id, not an opaque numpy error. A
    trailing group of fewer than ``window`` samples is emitted as its
    own PARTIAL window row rather than silently truncated; the
    ``n_samples`` column carries each window's actual sample count so
    a strict VAD consumer can filter ``n_samples = window``. A
    zero-length payload emits no window rows (nothing to score).

    Scale shape at 100 TB: one narrow Python pass, binary payloads
    cross into Arrow once per batch (never per row); per batch the
    samples are decoded with ONE frombuffer over the concatenated
    payloads and windowed via a single cumsum + boundary gather (no
    per-row Python), output is typed scalar columns, no shuffle at
    all until a downstream aggregate."""
    import numpy as np

    out_schema = (
        f"{id_col} long, win int, n_samples int, sum_sq long, is_silent int"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            payloads = list(pdf[payload_col])
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64)
            odd = lens % 2 != 0
            if odd.any():
                i = int(np.argmax(odd))
                raise ValueError(
                    "audio_window_energy: int16 PCM payloads must have an"
                    f" even byte length; {id_col}="
                    f"{pdf[id_col].iloc[i]!r} has {lens[i]} bytes"
                )
            sq = np.frombuffer(b"".join(payloads), dtype="<i2").astype(
                np.int64
            )
            sq *= sq
            nsamp = lens // 2
            row_starts = np.concatenate(([0], np.cumsum(nsamp)))[:-1]
            nwin = -(-nsamp // window)  # ceil; 0 for empty payloads
            total = int(nwin.sum())
            rows = np.repeat(np.arange(len(pdf)), nwin)
            win_offsets = np.concatenate(([0], np.cumsum(nwin)))[:-1]
            wins = np.arange(total) - np.repeat(win_offsets, nwin)
            starts = row_starts[rows] + wins * window
            ends = np.minimum(starts + window, (row_starts + nsamp)[rows])
            cs = np.concatenate(([0], np.cumsum(sq)))
            s = cs[ends] - cs[starts]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[rows],
                    "win": wins.astype("int32"),
                    "n_samples": (ends - starts).astype("int32"),
                    "sum_sq": s,
                    "is_silent": (s < threshold).astype("int32"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, out_schema)


def audio_zcr(
    df: DataFrame,
    amp_threshold: int = 8192,
    id_col: str = "event_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Audio-modality kernel #2: per-payload zero-crossing rate and
    leading/trailing silence trim — the two other VAD primitives an
    audio curation pass computes next to windowed energy
    (:func:`audio_window_energy`). Treats each binary payload as int16
    little-endian PCM and emits ONE row per payload: sample count,
    zero-crossing count (adjacent sample pairs whose signs differ,
    with ``x >= 0`` counting as positive so the convention is total),
    ZCR in micros (crossings / (n_samples - 1), exact floor division),
    and the lengths of the leading and trailing runs of samples with
    ``|x| < amp_threshold`` — the spans a silence-trim pass would cut
    before transcription. An all-quiet payload reports
    ``lead_silent = trail_silent = n_samples`` (the two runs overlap
    by convention; a trimmer takes max(lead, n - trail) as empty).

    Same ragged-payload contract as audio_window_energy: any per-row
    even byte length; odd lengths raise a ValueError naming the id;
    zero-length payloads emit n_samples = 0 with zcr_micro = 0.

    Scale shape at 100 TB: one narrow Python pass — per Arrow batch a
    single frombuffer over the concatenated payloads, sign changes via
    one vectorized compare + cumsum gather (row boundaries masked),
    first/last loud sample per row via np.flatnonzero + searchsorted
    on the row-start offsets (no per-row Python loop). Typed scalar
    output, zero shuffles."""
    import numpy as np

    out_schema = (
        f"{id_col} long, n_samples int, n_crossings int, zcr_micro long,"
        " lead_silent int, trail_silent int"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            payloads = list(pdf[payload_col])
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64)
            odd = lens % 2 != 0
            if odd.any():
                i = int(np.argmax(odd))
                raise ValueError(
                    "audio_zcr: int16 PCM payloads must have an even"
                    f" byte length; {id_col}={pdf[id_col].iloc[i]!r}"
                    f" has {lens[i]} bytes"
                )
            x = np.frombuffer(b"".join(payloads), dtype="<i2").astype(
                np.int64
            )
            nsamp = lens // 2
            starts = np.concatenate(([0], np.cumsum(nsamp)))[:-1]
            ends = starts + nsamp
            n = x.shape[0]
            # Sign-change indicator between consecutive samples, with
            # row-boundary pairs masked out; per-row counts via one
            # cumsum gather (the audio_window_energy windowing trick).
            if n >= 2:
                ch = (x[:-1] >= 0) != (x[1:] >= 0)
                ch = ch.astype(np.int64)
                # pair i spans samples (i, i+1): invalid when i+1 is a
                # row start, i.e. i in (starts[1:] - 1); clip to the
                # pair range (empty rows put starts at 0 or n)
                bmask = starts[1:] - 1
                bmask = bmask[(bmask >= 0) & (bmask < n - 1)]
                ch[bmask] = 0
                cc = np.concatenate(([0], np.cumsum(ch)))
                # pairs fully inside row r: indices [starts[r], ends[r]-1)
                cross = cc[np.maximum(ends - 1, starts)] - cc[starts]
            else:
                cross = np.zeros(len(pdf), dtype=np.int64)
            loud_idx = np.flatnonzero(np.abs(x) >= amp_threshold)
            m = loud_idx.shape[0]
            if m == 0:
                lead = nsamp.copy()
                trail = nsamp.copy()
            else:
                # first loud sample at/after each row start
                # (searchsorted into the sorted loud positions),
                # clipped to the row
                fi = np.searchsorted(loud_idx, starts, side="left")
                cand = loud_idx[np.minimum(fi, m - 1)]
                first_loud = np.where((fi < m) & (cand < ends), cand, ends)
                lead = first_loud - starts
                li = np.searchsorted(loud_idx, ends, side="left") - 1
                cand2 = loud_idx[np.maximum(li, 0)]
                last_loud = np.where(
                    (li >= 0) & (cand2 >= starts), cand2, starts - 1
                )
                trail = ends - 1 - last_loud
            denom = np.maximum(nsamp - 1, 1)
            zcr = (cross * 1_000_000) // denom
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "n_samples": nsamp.astype("int32"),
                    "n_crossings": cross.astype("int32"),
                    "zcr_micro": zcr.astype("int64"),
                    "lead_silent": lead.astype("int32"),
                    "trail_silent": trail.astype("int32"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, out_schema)
