"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract as Arrow-batched Pandas stages.

No image/audio/video codec library is used, so compressed-format decode
is not implemented (`extract_byte_features` is a deterministic fake;
WAV and PPM have real pure-Python decoders) — but the Spark-side
plumbing is real and tested:
binary payload columns, metadata structs, `mapInPandas` batch iterators
with explicit output schemas, and the partitioning story (binary blobs
are large → keep them out of shuffles; extract features early, carry
ids + features forward, re-join payloads only at the sink).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, checksum bigint, head_hex string"
FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, frame_bytes bigint, frame_checksum bigint"
RESIZE_SCHEMA = "doc_id bigint, n_bytes bigint, ds_bytes bigint, ds_checksum bigint"


def to_binary_table(df: DataFrame, id_col: str, payload_col: str, kind: str) -> DataFrame:
    """Wrap a column as an opaque media payload with typed metadata —
    the canonical multimodal table shape: (id, payload: binary,
    meta: struct<kind, n_bytes>)."""
    payload = F.encode(F.col(payload_col), "utf-8") if kind == "text" else F.col(payload_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(kind).alias("kind"),
            F.length(payload).alias("n_bytes"),
        ).alias("meta"),
    )


def extract_byte_features(binary_df: DataFrame) -> DataFrame:
    """Deterministic fake 'feature extraction' over binary payloads via
    mapInPandas: per-payload byte count, additive checksum mod 997, and
    head bytes as hex. Arrow-batched — the exact shape a real decoder
    UDF takes (iterator of pandas batches in, schema'd batches out),
    so swapping in PIL/ffmpeg later changes one function body."""

    def fe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = pdf["payload"]
            # one concatenated buffer + reduceat beats a per-byte Python
            # loop ~30×: the additive checksum is a segmented sum over
            # byte boundaries (measured 4.7 s → <1 s at sf0.1)
            lens = payloads.map(len).to_numpy(dtype="int64")
            sums = np.zeros(len(lens), dtype="int64")
            nonzero = lens > 0
            if nonzero.any():
                # concat only the non-empty payloads: reduceat segment
                # starts then strictly increase and stay in bounds
                buf = np.frombuffer(b"".join(payloads[nonzero]), dtype=np.uint8)
                nz = lens[nonzero]
                starts = np.zeros(len(nz), dtype="int64")
                np.cumsum(nz[:-1], out=starts[1:])
                sums[nonzero] = np.add.reduceat(buf.astype("int64"), starts)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": lens,
                    "checksum": sums % 997,
                    "head_hex": payloads.map(lambda b: bytes(b[:8]).hex()),
                }
            )

    # mapInPandas parallelism = input partition count. Repartition
    # only when the per-row work is heavy (`frame_rms`'s n_partitions);
    # for cheap extractors the Python-worker fan-out costs more than it
    # saves (measured: 32-way repartition of a 5k-row byte checksum was
    # 10× slower than the single-partition run).
    return binary_df.select("doc_id", "payload").mapInPandas(fe, FEATURE_SCHEMA)


def sample_frames(binary_df: DataFrame) -> DataFrame:
    """Frame sampling over 'video' payloads: split each payload into
    fixed 256-byte frames and keep every 4th one —
    the 1→N mapInPandas shape a real frame sampler has (one input row
    fans out to many frame rows; the last frame may be short). Real
    video decode is not implemented; the frame arithmetic,
    fan-out schema, and batching are the production plumbing. Frame
    'features' are the deterministic byte checksum so the fan-out is
    oracle-checkable. Output: (doc_id, frame_idx, frame_bytes,
    frame_checksum)."""

    def fs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, idxs, sizes, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_frames = -(-len(buf) // 256)
                for f in range(0, n_frames, 4):
                    frame = buf[f * 256:(f + 1) * 256]
                    ids.append(doc_id)
                    idxs.append(f)
                    sizes.append(len(frame))
                    sums.append(int(frame.sum(dtype="int64")) % 997)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_bytes": sizes,
                 "frame_checksum": sums}
            )

    return binary_df.select("doc_id", "payload").mapInPandas(fs, FRAME_SCHEMA)


def resize_grid(binary_df: DataFrame) -> DataFrame:
    """'Resize' over grid payloads: view each payload as scanlines of
    64 bytes and keep every 2nd byte of every 2nd row — strided
    decimation, the index arithmetic of a nearest-neighbor image
    downsample, expressed purely on byte positions (position p kept ⟺
    (p÷64) mod 2 = 0 ∧ (p mod 64) mod 2 = 0, so the oracle can recompute it in
    SQL). Real pixel decode is stubbed; swapping in a real resampler
    changes only the per-payload body. Output: (doc_id, n_bytes,
    ds_bytes, ds_checksum)."""

    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            n_bytes, ds_bytes, ds_sums = [], [], []
            for payload in pdf["payload"]:
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                idx = np.arange(len(buf))
                kept = buf[((idx // 64) % 2 == 0) & ((idx % 64) % 2 == 0)]
                n_bytes.append(len(buf))
                ds_bytes.append(len(kept))
                ds_sums.append(int(kept.sum(dtype="int64")) % 997)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_bytes": n_bytes,
                 "ds_bytes": ds_bytes, "ds_checksum": ds_sums}
            )

    return binary_df.select("doc_id", "payload").mapInPandas(rs, RESIZE_SCHEMA)


AUDIO_SCHEMA = "doc_id bigint, frame_idx bigint, n_samples bigint, rms double"


def frame_rms(binary_df: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """Windowed RMS over 'audio' payloads: view each payload's bytes as
    8-bit PCM samples, cut into non-overlapping 256-sample
    frames, and emit per-frame root-mean-square energy — the feature
    shape of an audio VAD / loudness pass. Real audio decode is not
    implemented; the framing, int64-exact sum of squares, and the
    single double division + sqrt are computed in the same operation
    order as the SQL oracle, so the doubles match bit-for-bit. Output:
    (doc_id, frame_idx, n_samples, rms)."""

    def fr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        for pdf in batches:
            ids, idxs, ns, rms = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                n_frames = -(-len(buf) // 256)
                for f in range(n_frames):
                    frame = buf[f * 256:(f + 1) * 256]
                    ids.append(doc_id)
                    idxs.append(f)
                    ns.append(len(frame))
                    rms.append(math.sqrt(int((frame * frame).sum()) / len(frame)))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "n_samples": ns, "rms": rms}
            )

    slim = binary_df.select("doc_id", "payload")
    if n_partitions is not None:
        slim = slim.repartition(n_partitions)
    return slim.mapInPandas(fr, AUDIO_SCHEMA)


# -- real pure-Python codecs (round 6) --------------------------------------
# No codec LIBRARY (PIL/ffmpeg) is used, but WAV (RIFF) and PPM (P6)
# are simple enough to decode with the standard library alone: actual
# container parsing (magic bytes,
# chunk walking, header grammar) inside the same Arrow-batched
# mapInPandas shape, so swapping in a heavier codec changes only the
# per-payload body.

WAV_RMS_SCHEMA = "doc_id bigint, frame_idx bigint, n_samples bigint, rms double"
PPM_STATS_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, "
    "sum_r bigint, sum_g bigint, sum_b bigint"
)


def wav_encode(samples, sample_rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE writer: PCM16 LE mono. Used to synthesize real
    WAV containers from deterministic test vectors (the testdata ships
    no media payloads)."""
    import struct

    data = b"".join(struct.pack("<h", int(s)) for s in samples)
    byte_rate = sample_rate * 2
    return b"".join([
        b"RIFF", struct.pack("<I", 36 + len(data)), b"WAVE",
        b"fmt ", struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16),
        b"data", struct.pack("<I", len(data)), data,
    ])


def wav_decode(buf: bytes):
    """REAL RIFF/WAVE parser (stdlib only): validate magic, walk chunks
    (skipping unknown ones, honoring the odd-size pad byte), read the
    fmt chunk, and return (sample_rate, int16 numpy samples). Raises
    ValueError on malformed containers — a decoder, not a trust-the-
    writer byte slice."""
    import struct

    import numpy as np

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos:pos + 4]
        (size,) = struct.unpack("<I", buf[pos + 4:pos + 8])
        body = buf[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk ({len(body)}/{size} bytes)")
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _rate, _align, bits = fmt
    if audio_format != 1 or channels != 1 or bits != 16:
        raise ValueError(f"unsupported WAV format {fmt}")
    return sample_rate, np.frombuffer(data, dtype="<i2")


def audio_rms_wav(binary_df: DataFrame) -> DataFrame:
    """`frame_rms`'s REAL-codec sibling: payloads are actual WAV files,
    parsed by `wav_decode` (RIFF chunk walk) before the same framing
    (128-sample frames) + int64-exact sum-of-squares → one double
    division + sqrt.
    Output: (doc_id, frame_idx, n_samples, rms)."""

    def fr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        for pdf in batches:
            ids, idxs, ns, rms = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, samples = wav_decode(bytes(payload))
                buf = samples.astype(np.int64)
                n_frames = -(-len(buf) // 128)
                for f in range(n_frames):
                    frame = buf[f * 128:(f + 1) * 128]
                    ids.append(doc_id)
                    idxs.append(f)
                    ns.append(len(frame))
                    rms.append(math.sqrt(int((frame * frame).sum()) / len(frame)))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "n_samples": ns, "rms": rms}
            )

    return binary_df.select("doc_id", "payload").mapInPandas(fr, WAV_RMS_SCHEMA)


def ppm_encode(width: int, height: int, rgb) -> bytes:
    """Minimal PPM (P6) writer: header + raw RGB bytes."""
    header = f"P6\n{width} {height}\n255\n".encode()
    return header + bytes(rgb)


def ppm_decode(buf: bytes):
    """REAL PPM (P6) parser: the actual header grammar — magic, then
    three whitespace-separated ints (width, height, maxval) with
    '#' comments legal anywhere in the header, then a SINGLE whitespace
    byte before the raw RGB plane. Returns (width, height, uint8 rgb
    array). Raises ValueError on malformed input."""
    import numpy as np

    if buf[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        if pos >= len(buf):
            raise ValueError("truncated PPM header")
        c = buf[pos:pos + 1]
        if c == b"#":
            while pos < len(buf) and buf[pos:pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(buf) and buf[pos:pos + 1].isdigit():
                pos += 1
            fields.append(int(buf[start:pos]))
        else:
            raise ValueError(f"bad header byte {c!r}")
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError("only maxval 255 supported")
    pos += 1  # the single whitespace after maxval
    rgb = np.frombuffer(buf, dtype=np.uint8, count=width * height * 3, offset=pos)
    if len(rgb) != width * height * 3:
        raise ValueError("truncated pixel data")
    return width, height, rgb


def image_channel_stats_ppm(binary_df: DataFrame) -> DataFrame:
    """Per-channel pixel sums over REAL PPM payloads: `ppm_decode`
    parses the container, then int64-exact R/G/B plane sums — the
    feature shape of a channel-statistics / normalization pass. Output:
    (doc_id, width, height, sum_r, sum_g, sum_b)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, ws, hs, sr, sg, sb = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, rgb = ppm_decode(bytes(payload))
                plane = rgb.astype(np.int64).reshape(-1, 3)
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                sr.append(int(plane[:, 0].sum()))
                sg.append(int(plane[:, 1].sum()))
                sb.append(int(plane[:, 2].sum()))
            yield pd.DataFrame(
                {"doc_id": ids, "width": ws, "height": hs,
                 "sum_r": sr, "sum_g": sg, "sum_b": sb}
            )

    return binary_df.select("doc_id", "payload").mapInPandas(stats, PPM_STATS_SCHEMA)
