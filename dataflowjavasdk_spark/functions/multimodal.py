"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design (the part that matters at 100 TB):
- A media column is `binary` payload + a `struct` of typed metadata
  (media_type, width/height or sample_rate/duration, codec). Parquet
  stores the binary column contiguously; metadata predicates (codec,
  size) push down WITHOUT touching payload bytes — select metadata
  columns only and the scan never reads the blobs.
- Decode / feature-extraction run as Arrow-batched Pandas UDFs over
  mapInPandas: payloads stream through Python in bounded batches
  (spark.sql.execution.arrow.maxRecordsPerBatch controls memory), one
  pass, no shuffle.
- Codec status: WAV audio, uncompressed 24-bit BMP, PNG, and baseline
  JPEG decode for REAL (stdlib `wave` / pure struct parsing / zlib
  inflate + scanline unfiltering / Huffman + dequant + IDCT —
  decode_wav, decode_bmp, decode_png here, decode_jpeg in
  functions/jpeg.py), plus MJPEG-in-AVI and GIF in functions/video.py;
  only ffmpeg-class video codecs (H.264 era, absent here) remain
  STUBBED with deterministic fakes so the plumbing (schema,
  partitioning, UDF signatures, batch shapes) stays testable.
  `extract_image_features` dispatches on container magic bytes to the
  REAL decoders — there is no pseudo-feature image path left.
- One runner, `_map_payloads`, is the only place a payload column
  crosses the Python boundary (the Dataflow split: per-element code in
  the kernel, bundling in the runner). It owns the projection, the one
  mapInPandas call and its batch loop, the pass-through id columns
  (`media_id`; `media_type` too for curate_media_features), columnar
  assembly and the zero-row frame. Every extractor, the dead-letter
  wrapper and the curation core hand it a kernel of one of three kinds:
  a per-payload kernel `kernel(bytes) -> tuple` of one row's feature
  values (`_per_payload`), a per-chunk kernel over iter_wav_chunks
  `kernel(ids, rates, nchs, lens, starts, mono) -> tuple` of column
  arrays (`_per_wav_chunk`), or a frame-exploding one that emits its own
  media_id column and any number of rows per payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, payload binary, "
    "meta struct<media_type:string, width:int, height:int, "
    "sample_rate:int, n_frames:int, codec:string>"
)

IMAGE_FEATURES_SCHEMA = (
    "media_id bigint, width int, height int, mean_luma double, "
    "phash bigint"
)


def _attach_stub_media_meta(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """STUB (superseded — use `sniff_media_meta` below): derives
    deterministic PSEUDO-metadata from payload length/bytes, not from
    the real container headers. Kept private so no caller reaches the
    fake path by accident; it remains only to exercise the
    metadata-pushdown plumbing tests against arbitrary (non-media)
    payload bytes. Real header sniffing for PNG/JPEG/BMP/WAV is
    `sniff_media_meta` (pure JVM expressions)."""
    ln = F.length(F.col(payload_col))
    return df.withColumn(
        "meta",
        F.struct(
            F.when(ln % 3 == 0, "image/png")
            .when(ln % 3 == 1, "audio/wav")
            .otherwise("video/mp4")
            .alias("media_type"),
            (F.pmod(F.crc32(F.col(payload_col)), F.lit(1920)) + 1).cast("int").alias("width"),
            (F.pmod(F.crc32(F.col(payload_col)), F.lit(1080)) + 1).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (ln % 300 + 1).cast("int").alias("n_frames"),
            F.lit("stub").alias("codec"),
        ),
    )


def _decode_image(payload: bytes) -> np.ndarray:
    """REAL image decode, dispatched on container magic bytes to the
    in-module/in-package codecs: BMP (decode_bmp), PNG (decode_png),
    baseline JPEG (functions/jpeg.py). Raises ValueError on empty or
    unrecognized payloads — callers route those to the dead-letter
    split, never a task failure."""
    if not payload:
        raise ValueError("empty media payload")
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from dataflowjavasdk_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise ValueError("unsupported image container (BMP/PNG/JPEG supported)")


def _luma_plane(img: np.ndarray) -> np.ndarray:
    """Rec.601 luma as float64: gray images pass through, RGB(A) mixes
    the first three channels (same coefficients as extract_bmp_features)."""
    if img.ndim == 2:
        return img.astype(np.float64)
    rgb = img[..., :3].astype(np.float64)
    return 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]


def _ahash_any_dims(luma: np.ndarray) -> int:
    """Signed-int64 8x8 average-hash over an arbitrary-sized luma plane:
    box-average into an 8x8 grid with floor boundaries (i*dim)//8 via
    np.add.reduceat (cells of size <8 degrade to single-pixel cells),
    threshold against the grid mean, fold row-major MSB-first.
    Deterministic — float64 box means are computed in one fixed order.
    For the exactness-critical dedup path use ahash64 (dims % 8 == 0,
    dyadic-exact)."""
    out = luma
    for axis, dim in enumerate(luma.shape):
        bounds = (np.arange(8) * dim) // 8
        counts = np.maximum(np.diff(np.append(bounds, dim)), 1)
        shape = [1, 1]
        shape[axis] = 8
        out = np.add.reduceat(out, bounds, axis=axis) / counts.reshape(shape)
    bits = (out > out.mean()).astype(np.uint64).ravel()
    val = int((bits << np.arange(63, -1, -1, dtype=np.uint64)).sum(dtype=np.uint64))
    return val - (1 << 64) if val >= (1 << 63) else val


def _map_payloads(
    df: DataFrame,
    decode,
    schema: str,
    payload_col: str = "payload",
    keep: tuple[str, ...] = ("media_id",),
) -> DataFrame:
    """The media family's one Python-boundary runner: project media_id,
    the payload and the other `keep` columns, run ONE mapInPandas pass,
    and per Arrow batch call `decode(payloads, media_ids)` for the
    feature columns. Output rows are the `keep` columns passed through
    followed by decode's columns, named in `schema` order; a column may
    be any 1-D sequence (a per-chunk array, a tuple of per-payload
    values — a None in it becomes SQL NULL). Frame-exploding decodes
    pass keep=() and return their own media_id column. A zero-row batch
    yields a zero-row frame with every schema column named (a bare
    pd.DataFrame([]) would have none) without calling decode. Payloads
    stream through in bounded batches and are dropped from the output,
    so blobs never travel past the decode stage."""
    names = [field.split()[0] for field in schema.split(",")]
    others = [c for c in keep if c != "media_id"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                yield pd.DataFrame({name: [] for name in names})
                continue
            cols = [batch[c].to_numpy() for c in keep]
            cols += decode(batch[payload_col], batch["media_id"].to_numpy())
            yield pd.DataFrame(dict(zip(names, map(np.asarray, cols))))

    return df.select("media_id", payload_col, *others).mapInPandas(
        run, schema=schema
    )


def _per_payload(kernel):
    """Batch decode for `_map_payloads` from a per-payload kernel:
    `kernel(bytes)` returns one tuple of feature values, and the batch's
    tuples are transposed into columns once."""

    def decode(payloads, _ids):
        return zip(*[kernel(bytes(p)) for p in payloads])

    return decode


def _per_wav_chunk(kernel):
    """Batch decode for `_map_payloads` from a per-chunk kernel over
    iter_wav_chunks: `kernel(ids, rates, nchs, lens, starts, mono)`
    (ids = the chunk's media_id slice) returns a tuple of column arrays,
    concatenated across the batch's chunks. It must not return a view of
    `mono` or of any other pooled buffer: the next chunk overwrites
    them before the concatenation."""

    def decode(payloads, ids):
        parts = [
            kernel(ids[off : off + len(lens)], rates, nchs, lens, starts, mono)
            for off, rates, nchs, lens, starts, mono in iter_wav_chunks(payloads)
        ]
        return [np.concatenate(col) for col in zip(*parts)]

    return decode


def _image_features(payload: bytes) -> tuple:
    """The image kernel: sniff + real decode, then dims, Rec.601 mean
    luma and the 64-bit average-hash over the luma plane."""
    img = _decode_image(payload)
    luma = _luma_plane(img)
    return img.shape[1], img.shape[0], luma.mean(), _ahash_any_dims(luma)


def extract_image_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL decode + feature-extract: per payload, sniff the container
    magic, decode with the matching real codec (BMP/PNG/baseline JPEG),
    emit dims, Rec.601 mean luma, and a 64-bit average-hash over the
    luma plane."""
    return _map_payloads(
        df, _per_payload(_image_features), IMAGE_FEATURES_SCHEMA, payload_col
    )


def sample_frames(df: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: explode frame indices 0..n_frames
    step `every_nth` — pure expression fan-out; the (stubbed) per-frame
    decode would run in a downstream mapInPandas. Demonstrates the
    explode-then-decode shape that keeps frame parallelism in Spark."""
    return (
        df.select("media_id", F.col("meta.n_frames").alias("n_frames"))
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_nth))),
        )
    )


# ---------------------------------------------------------------------------
# REAL decoders (rounds 4-5): formats with pure-Python/stdlib codecs need
# no stub — WAV via the stdlib `wave` module, BMP via struct parsing, PNG
# via zlib + filter reversal, baseline JPEG via functions/jpeg.py
# (Huffman + dequant + IDCT). Only video formats remain stubbed here.
# ---------------------------------------------------------------------------

AUDIO_FEATURES_SCHEMA = (
    "media_id bigint, sample_rate int, n_channels int, n_samples bigint, "
    "duration_s double, rms double, zero_crossing_rate double"
)

BMP_FEATURES_SCHEMA = (
    "media_id bigint, width int, height int, mean_r double, mean_g double, "
    "mean_b double, mean_luma double"
)


# KSDATAFORMAT_SUBTYPE_PCM ({00000001-0000-0010-8000-00AA00389B71}) as
# the 16 on-disk GUID bytes (little-endian data1/2/3, big-endian data4).
_SUBTYPE_PCM_GUID = b"\x01\x00\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"


def _parse_wav(payload: bytes) -> tuple[int, int, int, bytes]:
    """RIFF/PCM chunk walk only (no sample math): returns
    (sample_rate, n_channels, byte_width, raw_data_bytes). Shared by the
    per-row decoder and the batch front-end so both parse the same spec
    the same way."""
    import struct

    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    off, n = 12, len(payload)
    rate = nch = width = fmt_tag = None
    fmt_ext = b""
    raw = None
    while off + 8 <= n:
        cid = payload[off : off + 4]
        sz = int.from_bytes(payload[off + 4 : off + 8], "little")
        if cid == b"fmt ":
            fmt_tag, nch, rate, _brate, _balign, bits = struct.unpack_from(
                "<HHIIHH", payload, off + 8
            )
            width = bits // 8
            # cbSize + extension bytes (present for WAVE_FORMAT_EXTENSIBLE)
            fmt_ext = payload[off + 8 + 16 : off + 8 + sz]
        elif cid == b"data" and raw is None:
            # The declared size must fit inside the payload: a silent
            # slice truncation that happened to stay frame-aligned would
            # drop tail samples without an error (ADVICE r10). And the
            # FIRST data chunk wins, matching the stdlib wave module's
            # semantics (a later chunk must not overwrite it).
            if off + 8 + sz > n:
                raise ValueError("truncated WAV data chunk")
            raw = payload[off + 8 : off + 8 + sz]
        off += 8 + sz + (sz & 1)  # chunks are word-aligned
    if rate is None or raw is None:
        raise ValueError("missing fmt /data chunk in WAVE payload")
    if fmt_tag == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: the real format lives in the
        # extension's SubFormat GUID. Require KSDATAFORMAT_SUBTYPE_PCM —
        # an extensible IEEE-float/A-law file must raise like any other
        # unsupported format, not decode as int PCM garbage (ADVICE r10).
        # Layout after the 16 base fmt bytes: cbSize(2) +
        # wValidBitsPerSample(2) + dwChannelMask(4) + SubFormat GUID(16).
        if len(fmt_ext) < 24 or fmt_ext[8:24] != _SUBTYPE_PCM_GUID:
            raise ValueError(
                "unsupported WAVE_FORMAT_EXTENSIBLE SubFormat (PCM only)"
            )
    elif fmt_tag != 1:  # integer PCM
        raise ValueError(f"unsupported WAVE format tag {fmt_tag}")
    if width not in (1, 2, 4):
        raise ValueError(f"unsupported PCM sample width {width}")
    if nch < 1 or len(raw) % (width * nch):
        raise ValueError("PCM data length is not a whole number of frames")
    return rate, nch, width, raw


def _scale_pcm(raw: bytes, width: int) -> np.ndarray:
    """Integer PCM bytes → flat float64 in [-1, 1]. One expression per
    width, used identically for a single clip and for a whole batch's
    concatenated bytes, so values cannot drift between the two paths."""
    if width == 1:  # unsigned 8-bit
        return (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    if width == 2:
        return np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    return np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0


class _BufferPool:
    """Per-worker reusable scratch buffers for the batch audio paths
    (round 10, guide §4.3 "heavyweight init once per task" / §5
    "memory"). The batch extractors need a handful of batch-sized
    float64 temporaries per Arrow batch; allocating them fresh each
    batch hands the pages back to the OS on free, and on hosts with
    lazily-backed memory (VM free-page reporting) every re-touch
    faults them back in — measured on this sandbox as random
    300–1100 ms stalls on a 20 ms decode, recurring per batch in
    long-lived workers. One growable buffer per role pins the pages
    for the worker's lifetime: the fault cost is paid once, every
    later batch is a pure compute pass. Values are unaffected —
    callers fill the buffer with copies or ufunc-`out=` stores and
    slice exactly the length they filled. Retained memory is bounded
    by the largest Arrow batch's PCM footprint times the handful of
    roles (≈3 copies of one batch's samples)."""

    __slots__ = ("_bufs",)

    def __init__(self) -> None:
        self._bufs: dict[str, np.ndarray] = {}

    def f64(self, role: str, n: int) -> np.ndarray:
        buf = self._bufs.get(role)
        if buf is None or buf.size < n:
            buf = np.empty(max(n + (n >> 2), 1024), dtype=np.float64)
            self._bufs[role] = buf
        return buf[:n]

    def i64(self, role: str, n: int) -> np.ndarray:
        buf = self._bufs.get(role)
        if buf is None or buf.size < n:
            buf = np.empty(max(n + (n >> 2), 1024), dtype=np.int64)
            self._bufs[role] = buf
        return buf[:n]


_POOL = _BufferPool()


def _scale_pcm_into(raw: bytes, width: int, out: np.ndarray) -> np.ndarray:
    """_scale_pcm with the result written into ``out`` (a pool slice).
    The per-element operation chain is the same as _scale_pcm's — the
    integer view is widened to float64 exactly and then scaled by the
    same constant — so the stored bits are identical; only the
    destination buffer differs."""
    if width == 1:  # unsigned 8-bit
        np.subtract(np.frombuffer(raw, dtype=np.uint8), 128.0, out=out)
        np.divide(out, 128.0, out=out)
        return out
    if width == 2:
        return np.divide(np.frombuffer(raw, dtype="<i2"), 32768.0, out=out)
    return np.divide(np.frombuffer(raw, dtype="<i4"), 2147483648.0, out=out)


def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL WAV decoder (RIFF/PCM, direct chunk-walker over the container
    bytes — no external libs): returns (sample_rate, n_channels, samples
    as float64 in [-1, 1], shape (n_frames, n_channels)). Supports
    8/16/32-bit integer PCM (format tag 1, and WAVE_FORMAT_EXTENSIBLE
    carrying PCM).

    Round 10: the stdlib ``wave`` front-end (io.BytesIO + chunk objects
    per call) cost ~100 µs/payload — 2.7x the cost of walking the RIFF
    chunk list with ``struct`` directly (measured, 5k payloads). Decode
    is the per-row hot loop of every audio query, so the walker is
    inlined here (_parse_wav); parsing is the same spec (RIFF header,
    `fmt ` fields, `data` chunk, word-aligned chunk sizes) and the
    sample math is untouched, so outputs are bit-identical."""
    rate, nch, width, raw = _parse_wav(payload)
    return rate, nch, _scale_pcm(raw, width).reshape(-1, nch)


def _decode_metas(
    metas,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode one chunk's parsed clips (guide §4.2: per-row numpy calls
    on ~500-sample clips spend more time in call dispatch than in math).
    The SAMPLE math — frombuffer, widen to float64, scale, channel-fold —
    runs once per (width, n_channels) GROUP over the group's
    concatenated bytes, so a homogeneous corpus (the overwhelmingly
    common case) pays ONE numpy expression chain per chunk instead of
    one per clip.

    Returns (rates, n_channels, frame_counts, starts, mono): int64
    arrays per clip, plus the mono-folded float64 samples of all clips
    concatenated in row order (starts[i] indexes clip i's first sample;
    frame_counts[i] its length). Mono folding is mean over the channel
    axis of the same (frames, nch) layout the per-row decoder returns,
    so values are bit-identical to decode_wav(...)[2].mean(axis=1).
    ``mono`` is a view into a pooled per-worker buffer (_BufferPool),
    valid until the next chunk is decoded in the same process."""
    n_rows = len(metas)
    rates = np.fromiter((m[0] for m in metas), dtype=np.int64, count=n_rows)
    nchs = np.fromiter((m[1] for m in metas), dtype=np.int64, count=n_rows)
    lens = np.fromiter(
        (len(m[3]) // (m[2] * m[1]) for m in metas), dtype=np.int64, count=n_rows
    )
    groups: dict[tuple[int, int], list[int]] = {}
    for i, (_r, nch, width, _raw) in enumerate(metas):
        groups.setdefault((width, nch), []).append(i)
    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
    total = int(lens.sum())
    # All large float64 stores land in pooled per-worker buffers (see
    # _BufferPool): same values, no per-batch page churn.
    if len(groups) == 1:
        ((width, nch), idxs) = next(iter(groups.items()))
        raw = b"".join(m[3] for m in metas)
        if nch == 1:
            # homogeneous mono corpus (the common case): scale straight
            # into the pooled mono buffer, no fold, no copies
            mono = _scale_pcm_into(raw, width, _POOL.f64("mono", total))
        else:
            flat = _scale_pcm_into(raw, width, _POOL.f64("flat", total * nch))
            mono = _POOL.f64("mono", total)
            np.mean(flat.reshape(-1, nch), axis=1, out=mono)
    else:
        mono = _POOL.f64("mono", total)
        for (width, nch), idxs in groups.items():
            raw = b"".join(metas[i][3] for i in idxs)
            flat = _scale_pcm_into(
                raw, width, _POOL.f64("flat", len(raw) // width)
            )
            mono_g = flat if nch == 1 else flat.reshape(-1, nch).mean(axis=1)
            pos = 0
            for i in idxs:
                mono[starts[i] : starts[i] + lens[i]] = mono_g[pos : pos + lens[i]]
                pos += lens[i]
    return rates, nchs, lens, starts, mono


# ~1 MB of float64 samples per chunk: big enough that numpy dispatch is
# fully amortized (hundreds of clips per chunk), small enough that every
# scratch buffer stays heap-scale. Chosen against the worker-rotation
# reality documented on iter_wav_chunks.
_CHUNK_SAMPLES = 1 << 17


def iter_wav_chunks(payloads, max_samples: int = _CHUNK_SAMPLES):
    """Decode a batch of WAV payloads as a sequence of clip-aligned
    CHUNKS, yielding (row_offset, rates, nchs, lens, starts, mono) per
    chunk — the chunked front-end the audio extractors iterate (round
    10). Chunk boundaries fall on clip boundaries and every downstream
    reduction is clip-local, so chunking cannot change any emitted bit
    versus one whole-batch decode.

    Why chunks instead of one batch-sized decode: Spark hands
    successive re-executions of a stage to ARBITRARY idle workers from
    its pool (measured: 5 reps of a 3-task stage landed on 15 distinct
    PIDs once ~128 workers existed), so per-worker reusable buffers
    only amortize in small sessions; and on hosts with lazily-backed
    VM memory, every fresh multi-MB buffer touch in a cold worker
    faults through to the host — measured here as random 300–1100 ms
    stalls on a 20 ms decode. Bounding the working set to ~1 MB per
    buffer role keeps every scratch allocation heap-recycled (never
    mmap-returned, never re-faulted) no matter which worker runs the
    task, while hundreds of clips per chunk keep the per-call numpy
    dispatch amortized (guide §4.2)."""
    metas = [_parse_wav(bytes(p)) for p in payloads]
    n = len(metas)
    i = 0
    while i < n:
        j, samples = i, 0
        while j < n:
            samples += len(metas[j][3]) // (metas[j][2] * metas[j][1])
            j += 1
            if samples >= max_samples:
                break
        yield (i, *_decode_metas(metas[i:j]))
        i = j


def _segment_sums(values: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-clip sums over concatenated per-clip values; zero-length clips
    yield 0.0. np.add.reduceat keeps each clip's accumulation CLIP-LOCAL
    (sequential within the clip) — deliberately not a global float
    cumsum, whose rounding error grows with batch size and would leak
    one clip's magnitude into another's sum."""
    out = np.zeros(len(lens), dtype=np.float64)
    nz = np.flatnonzero(lens > 0)
    if len(nz):
        out[nz] = np.add.reduceat(values, starts[nz].astype(np.intp))
    return out


def _segment_max(values: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-clip max over concatenated per-clip values; zero-length clips
    yield 0.0 (the extractors' documented empty-clip stat)."""
    out = np.zeros(len(lens), dtype=np.float64)
    nz = np.flatnonzero(lens > 0)
    if len(nz):
        out[nz] = np.maximum.reduceat(values, starts[nz].astype(np.intp))
    return out


def _gather_framed(
    mono: np.ndarray, starts: np.ndarray, nf: np.ndarray, frame: int
) -> np.ndarray:
    """Gather every clip's whole frames (dropping per-clip tails) into a
    (total_frames, frame) matrix — the batch twin of the per-clip
    `mono[:nf*frame].reshape(nf, frame)`. Round 10: built by per-clip
    contiguous copies into a pooled buffer instead of one giant
    fancy-index — the index array alone was a batch-sized int64
    allocation per call, and per-batch large allocations are exactly
    what _BufferPool exists to avoid; a slice copy per clip is a plain
    memcpy (~µs) and the values are byte-identical."""
    lens2 = nf * frame
    total = int(lens2.sum())
    if not total:
        return np.empty((0, frame), dtype=np.float64)
    out = _POOL.f64("framed", total)
    pos = 0
    for i in range(len(starts)):
        ln = int(lens2[i])
        if ln:
            s = int(starts[i])
            out[pos : pos + ln] = mono[s : s + ln]
            pos += ln
    return out.reshape(-1, frame)


def extract_audio_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Real audio feature extraction over mapInPandas: decode WAV payloads
    (decode_wav — actual PCM parsing, not a stub) and emit duration, RMS
    energy, and zero-crossing rate per clip. Same 100 TB shape as the
    image path: Arrow-batched, one pass, payload dropped from the
    output."""

    def kernel(_ids, rates, nchs, n, starts, mono):
        # clip-local sequential sum of squares (see _segment_sums on why
        # not a global cumsum); same operands as the per-row
        # np.mean(mono**2) up to within-clip summation order, which the
        # query layer's round(..., 9) absorbs (and the fixture's dyadic
        # squares sum exactly under ANY order). Squares land in a pooled
        # chunk-scale buffer (same elementwise op, same bits).
        sq = _POOL.f64("mono_sq", mono.size)
        np.multiply(mono, mono, out=sq)
        rms = np.sqrt(_segment_sums(sq, starts, n) / np.maximum(n, 1))
        # zero crossings: integer diff of the sign bits — exact under a
        # cumsum, with each clip's count read off as a prefix-difference
        # that excludes the clip-boundary diffs (so per-chunk cumsums
        # cannot change any clip's count).
        if mono.size > 1:
            d = np.abs(np.diff(np.signbit(mono).astype(np.int8)))
            ics = _POOL.i64("ics", d.size + 1)
            ics[0] = 0
            np.cumsum(d, dtype=np.int64, out=ics[1:])
            ends = starts + n
            # Clamp both gather indices to d.size (ics's last valid
            # index): a ZERO-LENGTH clip at the END of the chunk has
            # starts == mono.size, one past ics — the clamped values are
            # discarded anyway by the n > 1 mask below (ADVICE r10 repro:
            # empty data chunk as the chunk's last row crashed with
            # IndexError).
            hi = np.minimum(np.maximum(ends - 1, starts), d.size)
            num = ics[hi] - ics[np.minimum(starts, d.size)]
        else:
            num = np.zeros(len(n), dtype=np.int64)
        return (
            rates,
            nchs,
            n,
            np.where(rates > 0, n / np.maximum(rates, 1), 0.0),
            np.where(n > 0, rms, 0.0),
            np.where(n > 1, num / np.maximum(n - 1, 1), 0.0),
        )

    return _map_payloads(
        df, _per_wav_chunk(kernel), AUDIO_FEATURES_SCHEMA, payload_col
    )


def decode_bmp(payload: bytes) -> np.ndarray:
    """REAL BMP decoder (uncompressed 24-bit BITMAPINFOHEADER, pure
    struct parsing): returns an (height, width, 3) uint8 RGB array.
    Handles the 4-byte row padding and bottom-up row order."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 54:  # file header (14) + BITMAPINFOHEADER (40)
        raise ValueError(f"truncated BMP header ({len(payload)} bytes)")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported DIB header size {header_size}")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if planes != 1:
        raise ValueError(f"corrupt BMP: planes={planes}")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    bottom_up = height > 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"degenerate BMP dimensions {width}x{height}")
    row_bytes = (width * 3 + 3) & ~3
    if len(payload) < data_offset + height * row_bytes:
        raise ValueError("truncated BMP pixel data")
    # One vectorized pass over the pixel block (no per-row Python loop —
    # this is the mapInPandas hot path): rows × padded-row-bytes, strip
    # padding, BGR -> RGB, flip bottom-up row order.
    block = np.frombuffer(
        payload, dtype=np.uint8, count=height * row_bytes, offset=data_offset
    ).reshape(height, row_bytes)
    img = block[:, : width * 3].reshape(height, width, 3)[..., ::-1]
    if bottom_up:
        img = img[::-1]
    return np.ascontiguousarray(img)


def encode_bmp(pixels: np.ndarray, top_down: bool = False) -> bytes:
    """Minimal uncompressed 24-bit BMP encoder from an (h, w, 3) RGB
    array — the decoder's twin (BITMAPINFOHEADER, BGR order, 4-byte row
    padding, bottom-up rows by default, negative biHeight when
    top_down). One shared implementation for every synth fixture: the
    row-padding expression was previously re-typed per query and one
    copy carried an operator-precedence bug that only its hardcoded
    width masked."""
    import struct

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row_bytes = (w * 3 + 3) & ~3
    pad = b"\x00" * (row_bytes - w * 3)
    rows = range(h) if top_down else range(h - 1, -1, -1)
    body = b"".join(px[y][:, ::-1].tobytes() + pad for y in rows)
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 14 + 40)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0,
        len(body), 2835, 2835, 0, 0,
    )
    return header + dib + body


def encode_wav(pcm: np.ndarray, rate: int) -> bytes:
    """Minimal RIFF/PCM writer (stdlib `wave`) — decode_wav's twin for
    every synth fixture: `pcm` holds integer samples, shape (n_frames,)
    for mono or (n_frames, n_channels) interleaved, and the sample width
    is the dtype's item size. The wave module writes native-order
    samples little-endian, so samples are handed to it in native order
    whatever the dtype's declared order."""
    import io
    import wave

    arr = np.asarray(pcm)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1 if arr.ndim == 1 else arr.shape[1])
        wv.setsampwidth(arr.dtype.itemsize)
        wv.setframerate(rate)
        wv.writeframes(arr.astype(arr.dtype.newbyteorder("=")).tobytes())
    return buf.getvalue()


def extract_bmp_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Real image feature extraction for BMP payloads (decode_bmp):
    dimensions, per-channel means, Rec.601 luma."""

    def kernel(payload: bytes) -> tuple:
        img = decode_bmp(payload)
        # Round 11 (guide §4.2): channel means as exact integer sums /
        # n_pixels — the sums are < 2^53 so the old pairwise float64 mean
        # computed the same exact integer; one correctly-rounded division
        # each, bit-identical.
        sums = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        r, g, b = sums / (img.shape[0] * img.shape[1])
        return img.shape[1], img.shape[0], r, g, b, 0.299 * r + 0.587 * g + 0.114 * b

    return _map_payloads(df, _per_payload(kernel), BMP_FEATURES_SCHEMA, payload_col)


RESIZED_FEATURES_SCHEMA = (
    "media_id long, out_width int, out_height int, "
    "nn_mean_r double, box_mean_r double, mean_g double"
)


def resize_nearest(img: np.ndarray, factor: int) -> np.ndarray:
    """Nearest-neighbor integer downscale: destination pixel (i, j) takes
    source pixel (factor*i, factor*j) — the floor-sampling convention.
    Pure stride view, zero copies until the caller needs contiguity."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    return img[::factor, ::factor]


def resize_box(img: np.ndarray, factor: int) -> np.ndarray:
    """Box-filter (area-average) integer downscale: destination pixel is
    the exact mean of its factor x factor source block, computed in
    float64 (every intermediate is an exact small-integer sum, so the
    one division per block is the only rounding step — correctly rounded
    and reproducible). Requires dims divisible by factor."""
    h, w = img.shape[:2]
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    if h % factor or w % factor:
        raise ValueError(f"dims {w}x{h} not divisible by factor {factor}")
    # Preserve dimensionality: 2-D (grayscale) in -> 2-D out, matching
    # resize_nearest (the reshape(-1) form grew a trailing singleton
    # channel axis on grayscale input).
    tail = img.shape[2:]
    blocks = img.astype(np.float64).reshape(
        h // factor, factor, w // factor, factor, *tail
    )
    return blocks.mean(axis=(1, 3))


def extract_resized_features(
    df: DataFrame, factor: int = 2, payload_col: str = "payload"
) -> DataFrame:
    """Decode BMP payloads and reduce BOTH downscale kernels to channel
    means: nearest-neighbor (the cheap thumbnailer) and box filter (the
    antialiased one). Emitting both from one decode pass is the
    production shape — decode cost dominates, kernels are cheap."""

    def kernel(payload: bytes) -> tuple:
        if factor < 1:  # resize_nearest/resize_box contract
            raise ValueError(f"factor must be >= 1, got {factor}")
        img = decode_bmp(payload)
        h, w = img.shape[:2]
        if h % factor or w % factor:  # resize_box contract
            raise ValueError(f"dims {w}x{h} not divisible by factor {factor}")
        # Round 11 (guide §4.2): both kernels reduce to channel MEANS, so
        # neither downscaled image needs materializing. nn mean = mean
        # over the stride-sampled pixels; box mean = mean over ALL pixels
        # (each factor x factor block contributes its exact block mean,
        # and every block has equal weight — resize_box enforces
        # divisibility). Bit-identical: all sums are exact integers
        # < 2^53, the old pairwise float64 means summed those same
        # integers exactly, and fl(S/4)/nblocks == fl(S/(h*w)) because
        # S/4 is an exact dyadic intermediate. Verified bit-equal on the
        # full fixture corpus + pinned by test.
        nn = img[::factor, ::factor]
        return (
            nn.shape[1],
            nn.shape[0],
            int(nn[..., 0].sum(dtype=np.int64)) / (nn.shape[0] * nn.shape[1]),
            int(img[..., 0].sum(dtype=np.int64)) / (h * w),
            int(img[..., 1].sum(dtype=np.int64)) / (h * w),
        )

    return _map_payloads(
        df, _per_payload(kernel), RESIZED_FEATURES_SCHEMA, payload_col
    )


AHASH_SCHEMA = "media_id long, hash_hi long, hash_lo long"


def ahash64(img: np.ndarray) -> tuple[int, int]:
    """Perceptual average-hash: box-average the (first-channel) image to
    8x8, threshold each cell against the 8x8 mean (strict >), fold the
    64 bits row-major MSB-first into two unsigned 32-bit halves
    (returned as non-negative ints — two halves sidestep the signed
    int64 overflow a single 64-bit fold hits in both engines).

    Exactness: for integer pixels with power-of-two block sizes every
    block average and the 8x8 mean are exact dyadic floats, so the
    threshold comparison is an integer decision — the hash is
    bit-reproducible, never approximately so."""
    h, w = img.shape[:2]
    if h % 8 or w % 8:
        raise ValueError(f"dims {w}x{h} not divisible by 8")
    ch = img[..., 0] if img.ndim == 3 else img
    blocks = ch.astype(np.float64).reshape(8, h // 8, 8, w // 8)
    cells = blocks.mean(axis=(1, 3))
    bits = (cells > cells.mean()).astype(np.uint64).ravel()
    hi = 0
    lo = 0
    for k in range(32):
        hi = (hi << 1) | int(bits[k])
        lo = (lo << 1) | int(bits[32 + k])
    return hi, lo


def extract_image_ahash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """BMP decode + 64-bit perceptual average-hash per payload — the
    fingerprint stage of image near-dup detection (the image twin of
    simhash_fingerprints)."""

    def kernel(payload: bytes) -> tuple:
        return ahash64(decode_bmp(payload))

    return _map_payloads(df, _per_payload(kernel), AHASH_SCHEMA, payload_col)


def decode_png(payload: bytes) -> np.ndarray:
    """REAL PNG decoder (stdlib zlib + the PNG spec, no PIL): parses the
    chunk stream, inflates IDAT, and reverses all five scanline filters
    (None/Sub/Up/Average/Paeth). Supports 8-bit depth, color types
    0 (gray), 2 (RGB), 6 (RGBA), no interlace. Returns (h, w) for gray
    or (h, w, ch) uint8 otherwise.

    Perf note: None/Up-filtered rows unfilter vectorized; Sub/Average/
    Paeth are sequential within a row by construction (each byte depends
    on the reconstructed prior pixel) — encoders that want the fast path
    write filter 0/2, which is what the engine's own encoder (tests) and
    the oracled png_image_features synthesizer do."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack_from(">I", payload, pos), payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError(f"corrupt PNG IHDR length {length}")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype_n, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, interlace={interlace})"
        )
    ch = {0: 1, 2: 3, 6: 4}.get(ctype_n)
    if ch is None:
        raise ValueError(f"unsupported PNG color type {ctype_n}")
    if w == 0 or h == 0:
        raise ValueError(f"degenerate PNG dimensions {w}x{h}")
    stride = 1 + w * ch
    # Bounded inflate: cap output at the expected size BEFORE allocating,
    # so a deflate-bomb IDAT cannot OOM the executor; surface zlib errors
    # under the decoder's ValueError contract.
    try:
        d = zlib.decompressobj()
        raw = d.decompress(idat, h * stride)
        extra = d.decompress(b"", 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG stream: {exc}") from exc
    if len(raw) != h * stride or extra or d.unconsumed_tail:
        raise ValueError("PNG pixel data size mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    out = np.zeros((h, w * ch), dtype=np.uint8)
    prev = np.zeros(w * ch, dtype=np.uint8)
    for r in range(h):
        ft, line = rows[r, 0], rows[r, 1:].astype(np.int32)
        if ft == 0:  # None
            rec = line
        elif ft == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ft in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            rec = np.zeros(w * ch, dtype=np.int32)
            for x in range(w * ch):
                a = int(rec[x - ch]) if x >= ch else 0
                b = int(prev[x])
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[x - ch]) if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[r] = rec.astype(np.uint8)
        prev = out[r]
    img = out.reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img


def encode_png(img: np.ndarray) -> bytes:
    """Minimal PNG encoder (filter 0 rows + zlib): the writer twin used by
    tests and the oracled synthesizer. Accepts (h, w) gray or (h, w, 3|4)
    uint8."""
    import struct
    import zlib

    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        h, w, ch, ctype_n = arr.shape[0], arr.shape[1], 1, 0
        flat = arr.reshape(h, w)
    else:
        h, w, ch = arr.shape
        ctype_n = {1: 0, 3: 2, 4: 6}[ch]
        flat = arr.reshape(h, w * ch)
    raw = b"".join(b"\x00" + flat[r].tobytes() for r in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype_n, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


PNG_FEATURES_SCHEMA = (
    "media_id bigint, width int, height int, n_channels int, "
    "mean_r double, mean_g double, mean_b double"
)


def extract_png_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Real PNG feature extraction (decode_png) over mapInPandas —
    dimensions, channel count, per-channel means (gray reported in all
    three channels)."""

    def kernel(payload: bytes) -> tuple:
        img = decode_png(payload)
        h, w = img.shape[:2]
        # exact-integer channel sums / one division — bit-equal to the
        # old pairwise float64 means (sums < 2^53)
        if img.ndim == 2:
            m = int(img.sum(dtype=np.int64)) / (h * w)
            return w, h, 1, m, m, m
        sums = img.reshape(-1, img.shape[2]).sum(axis=0, dtype=np.int64)
        return (w, h, img.shape[2], *(sums[:3] / (h * w)))

    return _map_payloads(df, _per_payload(kernel), PNG_FEATURES_SCHEMA, payload_col)


JPEG_FEATURES_SCHEMA = (
    "media_id bigint, width int, height int, n_components int, "
    "mean_y double, mean_cb double, mean_cr double"
)


def extract_jpeg_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Real JPEG feature extraction (functions/jpeg.decode_jpeg — baseline
    Huffman + dequant + IDCT, pure stdlib/numpy) over mapInPandas:
    dimensions, component count, per-plane means. Means are reported in
    the coding space (Y'CbCr, what the file stores) — grayscale rows get
    NULL chroma means. Same 100 TB shape as the other decode passes:
    Arrow-batched, one pass, payloads never shuffled."""
    from dataflowjavasdk_spark.functions.jpeg import decode_jpeg

    def kernel(payload: bytes) -> tuple:
        img = decode_jpeg(payload)
        h, w = img.shape[:2]
        # exact-integer plane sums / one division — bit-equal to the old
        # pairwise float64 means (sums < 2^53); grayscale chroma is NULL
        if img.ndim == 2:
            return w, h, 1, int(img.sum(dtype=np.int64)) / (h * w), None, None
        sums = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        return (w, h, 3, *(sums / (h * w)))

    return _map_payloads(
        df, _per_payload(kernel), JPEG_FEATURES_SCHEMA, payload_col
    )


AUDIO_FRAMES_SCHEMA = (
    "media_id bigint, n_frames int, n_silent int, mean_frame_rms double, "
    "max_frame_rms double"
)


def extract_audio_frame_energy(
    df: DataFrame, payload_col: str = "payload", frame: int = 160
) -> DataFrame:
    """Frame-level audio analysis (round 5): decode WAV PCM, slice the
    mono signal into fixed `frame`-sample windows (160 = 20 ms at 8 kHz,
    the standard speech frame), and emit per-clip frame statistics —
    frame count, silent-frame count (rms < 1e-9), mean and max frame
    RMS. The framing step every VAD / silence-trim / diarization
    pipeline runs first; trailing samples short of a full frame are
    dropped (the usual convention). Vectorized: one reshape + one
    per-frame reduction per clip, Arrow-batched, payloads never
    shuffled."""

    def kernel(_ids, _rates, _nchs, lens, starts, mono):
        nf = lens // frame
        fm = _gather_framed(mono, starts, nf, frame)
        # per-frame rms: same (frame,)-axis reduction as the per-row path,
        # so every frame's value is bit-identical. The per-CLIP mean below
        # (_segment_sums / nf) is a sequential reduceat accumulation where
        # the per-row path used np.mean's pairwise sum — equal after the
        # query layer's round(..., 9), not bit-equal in general (ADVICE
        # r10); every oracle comparison on these columns goes through that
        # rounding discipline. Squares land in a pooled chunk-scale buffer.
        sq = _POOL.f64("framed_sq", fm.size).reshape(fm.shape)
        np.multiply(fm, fm, out=sq)
        frms = np.sqrt(sq.mean(axis=1))
        fstarts = np.concatenate(([0], np.cumsum(nf)))[:-1]
        ics = np.concatenate(([0], np.cumsum((frms < 1e-9).astype(np.int64))))
        return (
            nf,
            ics[fstarts + nf] - ics[fstarts],
            np.where(
                nf > 0, _segment_sums(frms, fstarts, nf) / np.maximum(nf, 1), 0.0
            ),
            _segment_max(frms, fstarts, nf),
        )

    return _map_payloads(
        df, _per_wav_chunk(kernel), AUDIO_FRAMES_SCHEMA, payload_col
    )


TONE_FEATURES_SCHEMA = (
    "media_id bigint, n_samples int, dominant_bin int, dominant_freq_hz int"
)


def extract_tone_detection(
    df: DataFrame,
    freqs_hz: tuple[int, ...] = (400, 800, 1200, 1600, 2000, 2400, 2800, 3200),
    payload_col: str = "payload",
) -> DataFrame:
    """Spectral probe bank (the DTMF/pilot-tone detection primitive):
    decode WAV PCM and measure signal power at each probe frequency with
    a single-bin DFT — |sum_n x[n] e^(-2*pi*i*f*n/sr)|^2, the matched
    filter Goertzel computes recursively; here the whole bank is ONE
    (n_samples x n_probes) matrix product per clip, so the work is
    vectorized instead of a per-sample Python recurrence. Emits the
    argmax probe (first-match-wins on exact ties, which never occur for
    a tone ON a probe frequency) as bin index and frequency. Integer
    outputs only, so the query layer can value-hash exactly; the float
    power spectrum never leaves the extractor."""
    bank = np.asarray(freqs_hz, dtype=np.float64)
    freq_arr = np.asarray(freqs_hz, dtype=np.int64)
    n_probes = len(freqs_hz)
    # (n, 2*n_probes) REAL [cos | sin] bases, memoized per (n, rate): clips
    # in a corpus overwhelmingly share a duration/rate profile, so the
    # basis builds once per task and the whole group runs as ONE
    # (clips x n) @ (n x 2*n_probes) dgemm (round 10; the per-clip GEMV
    # spent more time in dispatch than in the 800x8 product). The split
    # into |.|^2 = (x·cosθ)^2 + (x·sinθ)^2 is deliberate: numpy's REAL @
    # COMPLEX matmul takes a non-BLAS mixed-dtype path that costs
    # 0.8-2.9 s on its FIRST call in a worker process (measured; steady
    # state 10-20 ms), and Spark's Python workers pay that cliff per task
    # — the all-real dgemm is 0.3 ms from the first call. BLAS may
    # accumulate in a different order than the complex kernel, but the
    # outputs are integer argmaxes with the probe-tone margin many orders
    # above one ulp, so the emitted rows cannot move.
    bases: dict[tuple[int, int], np.ndarray] = {}

    def kernel(_ids, rates, _nchs, lens, starts, mono):
        n_rows = len(lens)
        best = np.zeros(n_rows, dtype=np.int64)
        groups: dict[tuple[int, int], list[int]] = {}
        for i in range(n_rows):
            groups.setdefault((int(lens[i]), int(rates[i])), []).append(i)
        for (n, rate), idxs in groups.items():
            if n == 0:
                continue  # empty clip: keep bin 0, the argmax of all-zero power
            basis = bases.get((n, rate))
            if basis is None:
                theta = -2.0 * np.pi * np.outer(np.arange(n), bank) / float(rate)
                basis = np.concatenate([np.cos(theta), np.sin(theta)], axis=1)
                bases[(n, rate)] = basis
            rows = np.asarray(idxs, dtype=np.intp)
            if len(rows) == n_rows:
                # homogeneous chunk (the common case): mono IS the
                # row-major (clips x n) matrix — reshape, no copies
                gathered = mono.reshape(n_rows, n)
            else:
                gathered = mono[
                    (starts[rows, None] + np.arange(n)[None, :]).ravel()
                ].reshape(len(rows), n)
            proj = gathered @ basis
            power = proj[:, :n_probes] ** 2 + proj[:, n_probes:] ** 2
            best[rows] = np.argmax(power, axis=1)
        return lens, best, freq_arr[best]

    return _map_payloads(
        df, _per_wav_chunk(kernel), TONE_FEATURES_SCHEMA, payload_col
    )


VIDEO_FEATURES_SCHEMA = (
    "media_id bigint, n_frames int, n_sampled int, width int, height int, "
    "mean_luma double"
)


def extract_mjpeg_features(
    df: DataFrame, payload_col: str = "payload", every_nth: int = 3
) -> DataFrame:
    """REAL video feature extraction for MJPEG AVIs: walk the RIFF
    container (cheap, byte-local), SAMPLE every `every_nth` frame, and
    decode only the sampled frames through the baseline JPEG decoder —
    sample-then-decode, the order that matters when frames are the
    expensive unit. Emits total frame count (from the container walk,
    all frames), sampled count, dimensions, and the mean luma over the
    sampled frames."""
    from dataflowjavasdk_spark.functions.jpeg import decode_jpeg
    from dataflowjavasdk_spark.functions.video import extract_mjpeg_frames

    def kernel(payload: bytes) -> tuple:
        raw = extract_mjpeg_frames(payload)
        if not raw:
            # mirror decode_avi_mjpeg's clean rejection: a parseable but
            # frameless AVI is a decode error, not an IndexError
            raise ValueError("AVI contains no video frames")
        sampled = [decode_jpeg(f) for f in raw[::every_nth]]
        lumas = [(fr if fr.ndim == 2 else fr[..., 0]).mean() for fr in sampled]
        first = sampled[0]
        return len(raw), len(sampled), first.shape[1], first.shape[0], np.mean(lumas)

    return _map_payloads(
        df, _per_payload(kernel), VIDEO_FEATURES_SCHEMA, payload_col
    )


GIF_FEATURES_SCHEMA = (
    "media_id bigint, n_frames int, palette_size int, width int, "
    "height int, mean_r double, mean_g double, mean_b double"
)


def extract_gif_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL GIF feature extraction (functions/video.decode_gif — LZW +
    palette): frame count, declared palette size, dimensions, and the
    palette-resolved mean RGB across all frames.

    Round 11 (guide §4.2 — per-payload feature math dominated the
    decode 2:1): the mean RGB is computed from an integer palette-index
    HISTOGRAM — counts = bincount(all frame indices), channel sum =
    counts · palette, mean = sum / n_pixels — instead of materializing
    the (n_frames, h, w, 3) float64 palette-gather and pairwise-meaning
    it. Bit-identical, not approximately: every channel sum is an exact
    integer below 2^53, so the float64 pairwise sum the old np.mean
    computed equals the exact histogram dot product, and the single
    division is correctly rounded in both. Verified bit-equal on the full
    5,000-payload fixture corpus and pinned by test against the old
    formulation on random GIFs."""
    from dataflowjavasdk_spark.functions.video import decode_gif

    def kernel(payload: bytes) -> tuple:
        palette, frames = decode_gif(payload)
        f0 = frames[0]
        idx = (
            np.concatenate([f.ravel() for f in frames])
            if len(frames) > 1
            else f0.ravel()
        )
        counts = np.bincount(idx, minlength=palette.shape[0])
        sums = counts @ palette.astype(np.int64)  # exact int64
        return (
            len(frames), palette.shape[0], f0.shape[1], f0.shape[0],
            *(sums / idx.size),
        )

    return _map_payloads(df, _per_payload(kernel), GIF_FEATURES_SCHEMA, payload_col)


CURATION_FEATURES_SCHEMA = (
    "media_id long, media_type string, units long, mean_pix double, rate int"
)


def curate_media_features(sniffed: DataFrame) -> DataFrame:
    """The multimodal curation core — route → decode → quality-gate —
    as a SOURCE-AGNOSTIC composition (the unified-model promise: the
    same code runs on a bounded DataFrame and on a streaming drop-dir,
    tests/test_streaming.py drives the unbounded twin). Input columns:
    media_id, payload, media_type (from sniff_media_meta). Output: one
    feature row per media item plus the boolean `kept` gate — images
    keep >= 8 decoded pixels, audio keeps non-empty clips at >= 8100 Hz.
    Callers aggregate (batch: plain groupBy; streaming: update-mode
    groupBy) — aggregation stays outside so the composition itself has
    NO shuffle and blobs never leave their input partition."""

    def image_units(payload: bytes) -> tuple:
        img = _decode_image(payload)
        # np.mean on the uint8 array accumulates in float64 already —
        # same exact integer sum as astype("float64").mean() without the
        # full-image copy (round 11)
        return img.shape[0] * img.shape[1], img.mean(), None

    def audio_units(payload: bytes) -> tuple:
        rate, _nch, pcm = decode_wav(payload)
        return pcm.shape[0], None, rate

    def branch(route, kernel) -> DataFrame:
        return _map_payloads(
            sniffed.filter(route),
            _per_payload(kernel),
            CURATION_FEATURES_SCHEMA,
            keep=("media_id", "media_type"),
        )

    feats = branch(F.col("media_type").startswith("image/"), image_units).unionByName(
        branch(F.col("media_type") == "audio/wav", audio_units)
    )
    kept = F.when(
        F.col("media_type").startswith("image/"), F.col("units") >= 8
    ).otherwise((F.col("units") > 0) & (F.col("rate") >= 8100))
    return feats.withColumn("kept", kept)


def extract_features_deadletter(
    df: DataFrame,
    per_payload,
    feature_schema: str,
    payload_col: str = "payload",
) -> DataFrame:
    """Dead-letter wrapper for any per-payload decode (the
    ParDo.withOutputTags idiom applied to the multimodal decode budget):
    the same runner as every extractor, with `per_payload(bytes) -> dict`
    as the kernel and ValueErrors turned into DLQ rows (`error` set,
    feature columns NULL) instead of task failures. Corrupt media in a
    100 TB crawl is routine — one bad GIF must cost one row, not a stage
    retry. Output schema: media_id + `feature_schema` fields + error
    string."""
    names = [c.split()[0] for c in feature_schema.split(",")]

    def kernel(payload: bytes) -> tuple:
        try:
            feats = per_payload(payload)
        except ValueError as exc:
            return (*[None] * len(names), str(exc))
        return (*[feats.get(n) for n in names], None)

    return _map_payloads(
        df,
        _per_payload(kernel),
        f"media_id long, {feature_schema}, error string",
        payload_col,
    )


def image_features_payload(payload: bytes) -> dict:
    """extract_image_features' kernel as a dict, for the dead-letter
    wrapper: sniff + real decode + dims/luma/ahash."""
    return dict(
        zip(("width", "height", "mean_luma", "phash"), _image_features(payload))
    )


def _le_int(payload_col: str, offset: int, nbytes: int):
    """Little-endian unsigned int from binary bytes [offset, offset+n)
    (1-indexed), as a pure JVM expression: per-byte hex slices
    concatenated in reverse order, then base-16 conv."""
    parts = [
        F.hex(F.substring(F.col(payload_col), offset + i, 1))
        for i in range(nbytes - 1, -1, -1)
    ]
    return F.conv(F.concat(*parts), 16, 10).cast("int")


def _be_int(payload_col: str, offset: int, nbytes: int):
    return F.conv(F.hex(F.substring(F.col(payload_col), offset, nbytes)), 16, 10).cast(
        "int"
    )


def sniff_media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL container-header sniffing as pure JVM expressions (no Python
    anywhere): magic-byte dispatch plus per-format header fields —
    PNG width/height (big-endian IHDR), BMP width/height (little-endian
    BITMAPINFOHEADER, sign-aware: top-down files store a negative
    biHeight and sniff to the positive pixel height), WAV sample
    rate/channels (little-endian fmt chunk), JPEG type detection.
    Unknown payloads get type 'application/octet-stream' and NULL
    fields.

    Hardening (r4 ADVICE): WAV field extraction is GATED on the 'fmt '
    chunk id actually sitting at the canonical offset 13 — a RIFF/WAVE
    file with LIST/JUNK chunks before fmt still sniffs as audio/wav but
    reports NULL rate/channels instead of silently wrong bytes. JPEG
    dims are always NULL by design: SOF sits at a variable offset behind
    variable-length segments, which is a segment walk (decode_jpeg), not
    a fixed-offset projection.

    This replaces attach_media_meta's pseudo-metadata with the real
    thing for the formats the engine decodes. At 100 TB the pattern is
    sniff ONCE at ingest (this projection), persist the meta struct next
    to the payload, and let every later query filter on meta columns
    with the blob column never read (the pushdown property
    tests/test_multimodal.py pins for the stored layout)."""
    p = payload_col
    is_png = F.substring(F.col(p), 1, 8) == F.lit(b"\x89PNG\r\n\x1a\n")
    is_jpeg = F.substring(F.col(p), 1, 3) == F.lit(b"\xff\xd8\xff")
    is_bmp = F.substring(F.col(p), 1, 2) == F.lit(b"BM")
    is_wav = (F.substring(F.col(p), 1, 4) == F.lit(b"RIFF")) & (
        F.substring(F.col(p), 9, 4) == F.lit(b"WAVE")
    )
    # canonical layout gate: the first chunk after 'WAVE' must be 'fmt '
    wav_canonical = is_wav & (F.substring(F.col(p), 13, 4) == F.lit(b"fmt "))
    # biHeight is SIGNED little-endian; negative = top-down row order.
    # Read unsigned as long (a 32-bit cast would overflow for negatives),
    # undo two's complement, take the magnitude.
    bmp_h_raw = F.conv(
        F.concat(
            *[F.hex(F.substring(F.col(p), 23 + i, 1)) for i in range(3, -1, -1)]
        ),
        16,
        10,
    ).cast("long")
    bmp_height = F.abs(
        F.when(bmp_h_raw >= F.lit(1 << 31), bmp_h_raw - F.lit(1 << 32)).otherwise(
            bmp_h_raw
        )
    ).cast("int")
    null_i = F.lit(None).cast("int")
    meta = F.struct(
        F.when(is_png, "image/png")
        .when(is_jpeg, "image/jpeg")
        .when(is_bmp, "image/bmp")
        .when(is_wav, "audio/wav")
        .otherwise("application/octet-stream")
        .alias("media_type"),
        F.when(is_png, _be_int(p, 17, 4))
        .when(is_bmp, _le_int(p, 19, 4))
        .otherwise(null_i)
        .alias("width"),
        F.when(is_png, _be_int(p, 21, 4))
        .when(is_bmp, bmp_height)
        .otherwise(null_i)
        .alias("height"),
        # canonical WAV: 'fmt ' chunk at offset 13 → rate at 25, nch at 23
        F.when(wav_canonical, _le_int(p, 25, 4)).otherwise(null_i).alias(
            "sample_rate"
        ),
        F.when(wav_canonical, _le_int(p, 23, 2)).otherwise(null_i).alias(
            "n_channels"
        ),
    )
    return df.withColumn("meta", meta)


VIDEO_FRAME_LUMA_SCHEMA = "media_id bigint, frame_idx int, mean_luma double"


def extract_video_frame_lumas(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Per-frame luma means for MJPEG AVI clips (round 6) — the DECODE
    half of keyframe/scene-cut detection. Python does only what Python
    must (walk the container, JPEG-decode each frame, one mean per
    frame); the TEMPORAL analytics — frame differencing, cut
    thresholds, run structure — happen downstream in JVM window
    functions over this (media_id, frame_idx, mean_luma) relation.
    8+4+8 bytes shuffle per frame; pixel payloads never leave the
    decode task."""
    from dataflowjavasdk_spark.functions.video import decode_avi_mjpeg

    def frames(payloads, ids):
        lumas = [
            [
                float((fr if fr.ndim == 2 else fr[..., 0]).mean())
                for fr in decode_avi_mjpeg(bytes(p))
            ]
            for p in payloads
        ]
        counts = [len(clip) for clip in lumas]
        return (
            np.repeat(ids, counts),
            np.concatenate([np.arange(c) for c in counts]),
            np.concatenate(lumas),
        )

    return _map_payloads(df, frames, VIDEO_FRAME_LUMA_SCHEMA, payload_col, keep=())


AUDIO_FRAME_RMS_SCHEMA = "media_id bigint, frame_idx int, rms double"


def extract_audio_frame_rms(
    df: DataFrame, payload_col: str = "payload", frame: int = 160
) -> DataFrame:
    """Per-frame RMS rows for WAV clips (round 6) — the long-form twin of
    extract_audio_frame_energy's per-clip stats. Decode + frame + one
    reduction per frame in the Arrow batch; silence gating and
    run-length segmentation happen downstream as JVM gaps-and-islands
    windows over this relation (the VAD segmentation every speech
    pipeline runs). Trailing samples short of a full frame are dropped,
    matching extract_audio_frame_energy."""

    def kernel(ids, _rates, _nchs, lens, starts, mono):
        nf = lens // frame
        fm = _gather_framed(mono, starts, nf, frame)
        sq = _POOL.f64("framed_sq", fm.size).reshape(fm.shape)
        np.multiply(fm, fm, out=sq)
        fstarts = np.concatenate(([0], np.cumsum(nf)))[:-1]
        return (
            np.repeat(ids, nf),
            np.arange(int(nf.sum())) - np.repeat(fstarts, nf),
            np.sqrt(sq.mean(axis=1)),
        )

    return _map_payloads(
        df, _per_wav_chunk(kernel), AUDIO_FRAME_RMS_SCHEMA, payload_col, keep=()
    )
