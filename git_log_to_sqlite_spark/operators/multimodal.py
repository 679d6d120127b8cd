"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched Pandas UDFs over
``mapInPandas``.

The Spark-side plumbing (schema, partitioning, UDF signature, batch
shape) is real and tested. The decode step (``luma_grid``, the
downsampled luma grid every perceptual hash starts from) dispatches on
availability: where Pillow is importable the real decoder
(``_luma_grid_pil``) runs; otherwise a deterministic fake
(``_luma_grid_stub``) keeps the operators and their tests runnable
without Pillow. The plumbing is the part that matters at 100 TB:
binary payloads ride the same partitions as their metadata, batches
stream through Arrow with bounded memory (maxRecordsPerBatch), and the
output schema is declared, never inferred. Executors must resolve the
same optional deps as the driver (same image, or ship wheels via
``--py-files``) — the dispatch runs at import time on each worker.
"""

from __future__ import annotations

import importlib.util
from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HAS_PIL = importlib.util.find_spec("PIL") is not None

# Hamming bands of the audio and video pair stages: pigeonhole-exact
# for max_hamming <= 3.
_BANDS = 4


def as_media(df: DataFrame, id_col: str, payload_col: str, mime: str) -> DataFrame:
    """Wrap an existing binary (or string) column as a media table with
    typed metadata."""
    payload = F.col(payload_col)
    if dict(df.dtypes)[payload_col] == "string":
        payload = F.encode(payload, "UTF-8")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.lit(mime).alias("mime_type"),
        F.length(payload).cast("int").alias("byte_len"),
    )


def _luma_grid_pil(payload: bytes, rows: int, cols: int) -> bytes:
    """Real grid provider: Pillow decode -> grayscale -> resize to
    (cols+1) x rows — the +1 column is what dHash differences over.
    Returns row-major luma ``bytes`` (mode-L ``tobytes()`` IS the
    row-major grid), so the batch hasher's zero-copy fast path
    engages in real-decoder deployments too, not just the stub."""
    if payload is None or len(payload) == 0:
        raise NotImplementedError("empty payload: no decoder available")
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as img:
        small = img.convert("L").resize((cols + 1, rows))
        return small.tobytes()


def _luma_grid_stub(payload: bytes, rows: int, cols: int) -> bytes:
    """Deterministic fake grid: cycle the payload bytes into the
    (cols+1) x rows grid. Content-blind (a recompressed twin gets a
    different grid — only a real decoder can normalize encodings), but
    keeps the operator runnable and the plumbing testable in PIL-less
    environments; tests plant twins by passing a grid_fn that parses a
    raw-grid payload format instead.  Returns ``bytes`` (any
    integer-indexable sequence satisfies the grid contract) so the
    batch hasher's zero-copy ``frombuffer`` fast path engages."""
    if payload is None or len(payload) == 0:
        raise NotImplementedError("empty payload: no decoder available")
    n = rows * (cols + 1)
    reps = (n // len(payload)) + 1
    return (payload * reps)[:n]


#: default grid provider — real when Pillow is importable, stub otherwise
luma_grid: Callable[[bytes, int, int], Sequence[int]] = (
    _luma_grid_pil if HAS_PIL else _luma_grid_stub
)


def image_dhash(
    media: DataFrame,
    rows: int = 6,
    cols: int = 10,
    grid_fn: Callable[[bytes, int, int], Sequence[int]] | None = None,
) -> DataFrame:
    """Perceptual difference-hash per image: one ``rows x cols``-bit
    signature (``media_id, dhash``), bit (r, c) set iff the
    downsampled luma increases from column c to c+1 in row r — the
    standard dHash, robust to resizing and recompression because the
    decode-resize normalizes both away. The default 6 x 10 = 60 bits
    keeps the signature a non-negative BIGINT, directly compatible
    with :func:`~git_log_to_sqlite_spark.operators.dedup.
    hamming_pairs`' band machinery (60 = 4 x 15-bit slices).

    The decode+downsample runs as an Arrow-batched ``mapInPandas``
    (the multimodal convention: payloads never leave their partition,
    batches stream with bounded memory); the hash itself is integer
    math over the tiny grid. ``grid_fn`` defaults to ``luma_grid``,
    the module's Pillow-or-stub dispatch.
    """
    if rows * cols > 60:
        raise ValueError(
            f"rows*cols = {rows * cols} bits exceeds the 60-bit BIGINT "
            "signature budget (see hamming_pairs)"
        )
    grid_fn = grid_fn or luma_grid

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            grids = [grid_fn(payload, rows, cols) for payload in pdf["payload"]]
            hashes = _grid_dhash_batch(grids, rows, cols)
            yield pd.DataFrame({"media_id": pdf["media_id"], "dhash": hashes})

    return media.mapInPandas(run, schema="media_id long, dhash long")


def _grid_dhash(g: list[int], rows: int, cols: int) -> int:
    """The dHash bit derivation over one row-major ``rows x (cols+1)``
    luma grid — bit (r, c) set iff luma increases from column c to
    c+1; MSB-first in row-major order, so bit position ``rows*cols -
    1 - (r*cols + c)`` in the returned BIGINT.  Shared by the
    per-image and per-video-frame hashers so the two modalities
    cannot drift.  This is the scalar REFERENCE form; the batch hot
    path is :func:`_grid_dhash_batch` (bit-identical by the
    vectorization test)."""
    h = 0
    for r in range(rows):
        base = r * (cols + 1)
        for c in range(cols):
            h = (h << 1) | (1 if g[base + c + 1] > g[base + c] else 0)
    return h


def _grid_dhash_batch(grids, rows: int, cols: int) -> "list[int]":
    """Vectorized :func:`_grid_dhash` over a stack of grids — the
    Arrow-batch hot path: per-row VIEW-slice comparisons over one
    numpy array instead of ``N x rows x cols`` Python bit ops (the
    per-frame loop was the dominant cost of video hashing at bench
    SF; measured 3-17x on 40k frames).  Same bit order and weights as
    the scalar form: row comparisons concatenate in derivation order
    and dot the MSB-first weight vector.  Grids may be any
    byte-indexable sequence; when every grid is ``bytes`` of exactly
    the grid size (the stub's output), the stack is one zero-copy
    ``frombuffer`` — the Python-list fallback pays an O(N x n)
    conversion and is still exact."""
    import numpy as np

    if not grids:
        return []
    n = rows * (cols + 1)
    if all(isinstance(gr, (bytes, bytearray)) and len(gr) == n for gr in grids):
        g = np.frombuffer(b"".join(grids), dtype=np.uint8).reshape(-1, n)
    else:
        # slice to the grid size: the scalar form indexes only the
        # first rows*(cols+1) entries, so an over-long grid_fn is legal
        # float64, not int64: a custom grid_fn may return fractional
        # lumas (e.g. averaged), and truncation would flip comparison
        # bits vs the scalar reference; float64 is exact for every
        # integer luma the byte paths produce
        g = np.asarray([list(gr[:n]) for gr in grids], dtype=np.float64)
    parts = [
        g[:, r * (cols + 1) + 1: r * (cols + 1) + cols + 1]
        > g[:, r * (cols + 1): r * (cols + 1) + cols]
        for r in range(rows)
    ]
    bits = np.concatenate(parts, axis=1).astype(np.int64)
    nbits = rows * cols
    weights = np.array([1 << (nbits - 1 - k) for k in range(nbits)], dtype=np.int64)
    return [int(h) for h in bits @ weights]


def image_near_dup_pairs(
    media: DataFrame,
    rows: int = 6,
    cols: int = 10,
    max_hamming: int = 3,
    bands: int = 4,
    grid_fn: Callable[[bytes, int, int], Sequence[int]] | None = None,
) -> DataFrame:
    """Image near-duplicate pairs: :func:`image_dhash` feeding
    :func:`~git_log_to_sqlite_spark.operators.dedup.hamming_pairs` —
    binary columns become first-class dedup citizens through the same
    banded pair stage the text operators use (pigeonhole-EXACT for
    ``bands > max_hamming``). Returns ``(id_a, id_b, hamming)``. The
    dHash pin means the decode runs once, not once per band join
    branch. The pair stage runs uncapped; a caller that expects
    degenerate hashes (e.g. flat-color images all hashing to 0) passes
    :func:`image_dhash`'s output to ``hamming_pairs(...,
    cap_hot_keys=True)`` itself."""
    from .caching import pin
    from .dedup import _validate_banding, hamming_pairs

    _validate_banding(rows * cols, bands, max_hamming)  # before the pin
    sig = pin(image_dhash(media, rows, cols, grid_fn))
    return hamming_pairs(
        sig,
        "media_id",
        "dhash",
        bits=rows * cols,
        bands=bands,
        max_hamming=max_hamming,
    )


def _band_energies_stub(
    payload: bytes, frames: int, bands: int
) -> list[list[float]]:
    """Deterministic fake spectral energies: mean byte value of
    equal slices of the payload, one slice per (frame, band) cell.
    Content-blind like the other stubs (a re-encoded clip gets
    different bytes — only a real audio decoder normalizes encodings);
    keeps the operator runnable, and tests plant twins by passing an
    energy_fn that parses a raw-energy payload format."""
    if payload is None or len(payload) == 0:
        raise NotImplementedError("empty payload: no decoder available")
    n_cells = frames * bands
    step = max(1, len(payload) // n_cells)
    out = []
    for f in range(frames):
        row = []
        for b in range(bands):
            i = (f * bands + b) * step
            chunk = payload[i:i + step] or payload[-1:]
            row.append(sum(chunk) / len(chunk))
        out.append(row)
    return out


def audio_fingerprint(
    media: DataFrame,
    frames: int = 7,
    bands: int = 11,
    energy_fn: Callable[[bytes, int, int], list[list[float]]] | None = None,
) -> DataFrame:
    """Per-clip acoustic fingerprint (``media_id, afp``) via the
    Haitsma-Kalker bit derivation — the standard public audio-
    fingerprint recipe: bit (f, b) is the sign of the band-energy
    difference's TIME DERIVATIVE, ``(E[f][b] - E[f][b+1]) -
    (E[f-1][b] - E[f-1][b+1]) > 0``, robust to volume and mild
    re-encoding because both differences cancel level shifts. The
    default (7-1) frame derivatives x (11-1) band deltas = 60 bits
    keeps the signature a non-negative BIGINT, directly compatible with
    :func:`~git_log_to_sqlite_spark.operators.dedup.hamming_pairs`.

    ``energy_fn(payload, frames, bands) -> frames x bands floats`` is
    the decode seam. No audio library ships in this container, so the
    DEFAULT is the deterministic byte-slice stub — honest plumbing
    only; swap in a real decoder (e.g. an FFT over resampled PCM) the
    same way the image operators swap Pillow in. The Spark-side shape
    (Arrow-batched mapInPandas over the media convention, integer
    hash math driver-free) is the real, tested part.
    """
    if (frames - 1) * (bands - 1) > 60:
        raise ValueError(
            f"(frames-1)*(bands-1) = {(frames - 1) * (bands - 1)} bits "
            "exceeds the 60-bit BIGINT signature budget (see hamming_pairs)"
        )
    if frames < 2 or bands < 2:
        raise ValueError("need frames >= 2 and bands >= 2 for the derivative")
    energy_fn = energy_fn or _band_energies_stub

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = []
            for payload in pdf["payload"]:
                e = energy_fn(payload, frames, bands)
                h = 0
                for f in range(1, frames):
                    for b in range(bands - 1):
                        d = (e[f][b] - e[f][b + 1]) - (e[f - 1][b] - e[f - 1][b + 1])
                        h = (h << 1) | (1 if d > 0 else 0)
                fps.append(h)
            yield pd.DataFrame({"media_id": pdf["media_id"], "afp": fps})

    return media.mapInPandas(run, schema="media_id long, afp long")


def audio_near_dup_pairs(
    media: DataFrame,
    frames: int = 7,
    bands: int = 11,
    max_hamming: int = 3,
    energy_fn: Callable[[bytes, int, int], list[list[float]]] | None = None,
) -> DataFrame:
    """Audio near-duplicate pairs: :func:`audio_fingerprint` feeding
    the shared :func:`~git_log_to_sqlite_spark.operators.dedup.
    hamming_pairs` band stage — the third modality (after text simhash
    and image dHash) on the one pigeonhole-exact pair machinery.
    Returns ``(id_a, id_b, hamming)``, uncapped like
    :func:`image_near_dup_pairs`."""
    from .caching import pin
    from .dedup import _validate_banding, hamming_pairs

    bits = (frames - 1) * (bands - 1)
    _validate_banding(bits, _BANDS, max_hamming)  # before the pin
    sig = pin(audio_fingerprint(media, frames, bands, energy_fn))
    return hamming_pairs(
        sig,
        "media_id",
        "afp",
        bits=bits,
        bands=_BANDS,
        max_hamming=max_hamming,
    )


def _frame_band_energies_stub(
    payload: bytes, frame_bytes: int, bands: int
) -> list[list[float]]:
    """Length-proportional spectral-energy stub for the SEQUENCE audio
    operators: ``max(2, len // frame_bytes)`` frames (a clip's frame
    count tracks its duration, unlike :func:`_band_energies_stub`'s
    fixed whole-clip grid), each frame's ``bands`` energies the byte-
    slice means of its chunk. Content-blind like every stub; the real
    seam is an FFT over resampled PCM windows with the same
    ``(payload, frame_bytes, bands) -> n_frames x bands`` shape."""
    if payload is None or len(payload) == 0:
        raise NotImplementedError("empty payload: no decoder available")
    n_frames = max(2, len(payload) // frame_bytes)
    rows = []
    for f in range(n_frames):
        chunk = payload[f * frame_bytes:(f + 1) * frame_bytes] or payload[-1:]
        step = max(1, len(chunk) // bands)
        row = []
        for b in range(bands):
            cell = chunk[b * step:(b + 1) * step] or chunk[-1:]
            row.append(sum(cell) / len(cell))
        rows.append(row)
    return rows


def audio_frame_fingerprints(
    media: DataFrame,
    frame_bytes: int = 256,
    bands: int = 11,
    energy_fn: Callable[[bytes, int, int], list[list[float]]] | None = None,
) -> DataFrame:
    """Haitsma-Kalker SUB-FINGERPRINT sequence per clip — the shape
    the original scheme actually defines (one (bands-1)-bit word per
    frame TRANSITION; the whole-clip :func:`audio_fingerprint` is the
    collapsed near-dup form): bit b of transition f is the sign of
    ``(E[f][b] - E[f][b+1]) - (E[f-1][b] - E[f-1][b+1])`` — the
    volume-cancelling double difference — so a level-shifted copy
    emits the IDENTICAL word sequence. Returns ``(media_id, frame_no,
    sfp)`` with ``frame_no`` indexing transitions (0-based), the
    positional-hash sequence :func:`audio_shared_segment_pairs` feeds
    to the substring machinery. Arrow-batched ``mapInPandas`` like
    every decode stage; ``energy_fn`` follows
    :func:`_frame_band_energies_stub`'s seam."""
    if bands < 2 or bands - 1 > 60:
        raise ValueError(f"need 2 <= bands <= 61 for the sub-fingerprint, got {bands}")
    if frame_bytes < 1:
        raise ValueError(f"frame_bytes must be >= 1, got {frame_bytes}")
    energy_fn = energy_fn or _frame_band_energies_stub

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frame_nos, sfps = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                e = energy_fn(payload, frame_bytes, bands)
                for f in range(1, len(e)):
                    h = 0
                    for b in range(bands - 1):
                        d = (e[f][b] - e[f][b + 1]) - (e[f - 1][b] - e[f - 1][b + 1])
                        h = (h << 1) | (1 if d > 0 else 0)
                    ids.append(mid)
                    frame_nos.append(f - 1)
                    sfps.append(h)
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": frame_nos, "sfp": sfps}
            )

    return media.mapInPandas(run, schema="media_id long, frame_no int, sfp long")


def audio_shared_segment_pairs(
    media: DataFrame,
    frame_bytes: int = 256,
    bands: int = 11,
    min_run: int = 4,
    window: int = 4,
    cap_hot_keys: bool = False,
    energy_fn: Callable[[bytes, int, int], list[list[float]]] | None = None,
    observation=None,
) -> DataFrame:
    """Segment-level audio dedup: clip pairs sharing >= ``min_run``
    consecutive identical sub-fingerprints at a fixed alignment — a
    sampled jingle, a spliced quote, a re-broadcast segment — through
    the same inverted-index pipeline as text passages and video
    scenes (``dedup._span_pairs_from_windows``). Volume shifts cancel
    in the sub-fingerprint, so a louder copy of a segment matches
    verbatim. Returns ``(id_a, id_b, longest_run_subfps,
    n_shared_subfps)`` with run lengths in sub-fingerprint words.

    THE JOIN KEY IS A ``window``-WORD SLIDING WINDOW, NOT A SINGLE
    WORD — the text modality's own discipline applied to the word
    sequence. A single (bands-1)-bit word (10 bits at the default)
    has only 1024 distinct values, so single-word posting lists would
    grow linearly with the corpus and the pair explode quadratically,
    and no occurrence cap could bound them without dropping every key
    (each word's expected df exceeds any cap at scale). Hashing
    ``window`` consecutive words through ``xxhash64`` (one Spark
    window spec of ``window - 1`` leads per clip — the shuffle the
    pipeline needs anyway) makes keys carry ~``10 x window`` bits:
    postings are sparse, runs of >= ``min_run`` words surface as
    >= ``min_run - window + 1`` consecutive window matches, and the
    gaps-and-islands tail recovers exact word-run lengths with
    ``k = window``. ``min_run >= window`` for observability — the
    identical contract as text's ``min_run_tokens >= window``.

    Degenerate windows (silence — runs of zero-words shared by half
    the corpus) are this operator's boilerplate pathology: cap them
    (``cap_hot_keys=True``) with ``subfps_dropped`` telemetry, the
    standard valve contract. Under the valve the window
    table is consumed twice, so it is PINNED here — it derives from
    the Python decode, the modality's dominant cost (see
    ``_span_pairs_from_windows``'s caller-owns-the-pin note)."""
    from .caching import pin
    from .dedup import _check_valve, _span_pairs_from_windows

    if min_run < 1:
        raise ValueError(f"min_run must be >= 1, got {min_run}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_run < window:
        raise ValueError(
            f"min_run ({min_run}) must be >= window ({window}): a shorter "
            "run has no complete window and cannot be observed"
        )
    _check_valve(cap_hot_keys, observation)  # before the pin
    sfps = audio_frame_fingerprints(media, frame_bytes, bands, energy_fn)
    from pyspark.sql import Window as W

    seq = W.partitionBy("media_id").orderBy("frame_no")
    words = [F.col("sfp")] + [
        F.lead("sfp", i).over(seq).alias(f"_w{i}") for i in range(1, window)
    ]
    w = (
        sfps.select(
            F.col("media_id").alias("_id"),
            F.col("frame_no").alias("pos"),
            F.xxhash64(F.struct(*words)).alias("h"),
            words[-1].alias("_last") if window > 1 else F.col("sfp").alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    if cap_hot_keys:
        w = pin(w)
    return _span_pairs_from_windows(
        w,
        k=window,
        min_run_tokens=min_run,
        cap_hot_keys=cap_hot_keys,
        observation=observation,
        dropped_name="subfps_dropped",
    ).select(
        "id_a",
        "id_b",
        F.col("longest_run_tokens").alias("longest_run_subfps"),
        F.col("n_shared_windows").alias("n_shared_subfps"),
    )


def video_frame_dhash(
    media: DataFrame,
    rows: int = 6,
    cols: int = 10,
    frame_bytes: int = 256,
    grid_fn: Callable[[bytes, int, int], Sequence[int]] | None = None,
) -> DataFrame:
    """Per-frame perceptual hashes for video clips: one ``(media_id,
    frame_no, dhash)`` row per sampled frame — an explode-shaped frame
    sample fused with :func:`image_dhash`'s bit math (shared
    ``_grid_dhash``, so a video frame and a still image of the same
    grid hash identically).

    Frame extraction: the clip payload splits into consecutive
    ``frame_bytes`` slices, ``max(1, len // frame_bytes)`` full
    frames (a clip shorter than one frame is its own single frame;
    a trailing partial slice is dropped).  Each slice runs through
    the same Pillow-or-stub ``grid_fn`` seam as the image operators — with a
    real decoder the slice would be a container-demuxed keyframe;
    the byte-slice stand-in keeps the plumbing (1 clip row -> N
    frame rows through one Arrow batch, payloads never leaving
    their partition) real and testable.
    """
    if frame_bytes < 1:
        raise ValueError(f"frame_bytes must be >= 1, got {frame_bytes}")
    grid_fn = grid_fn or luma_grid

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frame_nos, grids = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    raise NotImplementedError("empty payload: no decoder available")
                n_frames = max(1, len(payload) // frame_bytes)
                for i in range(n_frames):
                    chunk = payload[i * frame_bytes:(i + 1) * frame_bytes]
                    ids.append(mid)
                    frame_nos.append(i)
                    grids.append(grid_fn(chunk, rows, cols))
            # one vectorized hash over ALL frames of the batch — the
            # per-frame Python bit loop was the modality's hot path
            hashes = _grid_dhash_batch(grids, rows, cols)
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": frame_nos, "dhash": hashes}
            )

    return media.mapInPandas(run, schema="media_id long, frame_no int, dhash long")


def video_fingerprint(
    media: DataFrame,
    rows: int = 6,
    cols: int = 10,
    frame_bytes: int = 256,
    grid_fn: Callable[[bytes, int, int], Sequence[int]] | None = None,
) -> DataFrame:
    """Per-clip video fingerprint (``media_id, vfp``): bitwise
    MAJORITY VOTE of the clip's per-frame dHashes — bit k of the clip
    signature is set iff a strict majority of frames set bit k (ties
    break to 0, so the vote is deterministic for any frame count).
    Frame-voting is the standard clip-level aggregation of per-frame
    perceptual hashes: a re-encoded twin keeps every frame hash, and
    a trimmed or lightly-edited twin changes a minority of frames, so
    the majority bit survives — clip-level Hamming distance stays
    within a near-dup budget while unrelated clips differ in ~half
    of 60 bits.

    The vote is a distributed JVM-side aggregation, NOT per-clip
    Python: :func:`video_frame_dhash`'s frame table groups by
    ``media_id`` with one map-combinable ``sum((dhash >> k) & 1)``
    per bit plus a frame count — partial aggregation combines
    map-side, so a clip with millions of frames costs one row per
    partition in the shuffle, and the signature assembly is a pure
    column expression over the 60 sums.  (``rows * cols`` must stay
    within the 60-bit BIGINT budget — see ``hamming_pairs``.)
    """
    bits = rows * cols
    if bits > 60:
        raise ValueError(
            f"rows*cols = {bits} bits exceeds the 60-bit BIGINT "
            "signature budget (see hamming_pairs)"
        )
    frames = video_frame_dhash(media, rows, cols, frame_bytes, grid_fn)
    sums = [
        F.sum(F.shiftright(F.col("dhash"), k).bitwiseAND(F.lit(1))).alias(f"_b{k}")
        for k in range(bits)
    ]
    agg = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("_n"), *sums
    )
    vfp = None
    for k in range(bits):
        term = F.when(
            F.col(f"_b{k}") * 2 > F.col("_n"), F.lit(1 << k).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        vfp = term if vfp is None else vfp + term
    return agg.select("media_id", vfp.alias("vfp"))


def image_in_video_frames(
    stills: DataFrame,
    media: DataFrame,
    rows: int = 6,
    cols: int = 10,
    frame_bytes: int = 256,
    max_hamming: int = 3,
    grid_fn: Callable[[bytes, int, int], Sequence[int]] | None = None,
) -> DataFrame:
    """Cross-modal content lookup: which video frames (near-)match a
    batch of still images — ``image_dhash`` over the stills probed
    against ``video_frame_dhash`` over the clips through
    :func:`~git_log_to_sqlite_spark.operators.dedup.hamming_probe`
    (the content-ID shape: the frame corpus is never self-joined, so
    a small query batch against a billion-frame index pays only
    probe-bands x corpus-bands candidates). Returns ``(still_id,
    media_id, frame_no, hamming)``. The shared ``_grid_dhash`` means
    a still and a frame of the same content hash identically by
    construction — the property that makes the cross-modal probe
    exact under the pigeonhole guarantee. The probe runs uncapped;
    black frames, the degenerate frame bucket, are matched in full."""
    from .caching import pin
    from .dedup import _validate_banding, hamming_probe

    # all arg checks before the pins
    _validate_banding(rows * cols, _BANDS, max_hamming)
    if frame_bytes < 1:  # video_frame_dhash re-checks, but after sig_p pins
        raise ValueError(f"frame_bytes must be >= 1, got {frame_bytes}")
    sig_p = pin(
        image_dhash(stills, rows, cols, grid_fn).select(
            F.col("media_id").alias("still_id"), F.col("dhash").alias("_sig")
        )
    )
    sig_c = pin(
        video_frame_dhash(media, rows, cols, frame_bytes, grid_fn).select(
            "media_id", "frame_no", F.col("dhash").alias("_sig")
        )
    )
    return hamming_probe(
        sig_p,
        sig_c,
        probe_id="still_id",
        corpus_id=["media_id", "frame_no"],
        sig_col="_sig",
        bits=rows * cols,
        bands=_BANDS,
        max_hamming=max_hamming,
    )


def video_shared_scene_pairs(
    media: DataFrame,
    rows: int = 6,
    cols: int = 10,
    frame_bytes: int = 256,
    min_run_frames: int = 4,
    cap_hot_keys: bool = False,
    grid_fn: Callable[[bytes, int, int], Sequence[int]] | None = None,
    observation=None,
) -> DataFrame:
    """Scene-level video dedup: for every clip pair sharing a verbatim
    run of >= ``min_run_frames`` consecutive frames, report the
    longest shared run and the total shared frame cells — the video
    analog of exact-substring passage dedup, and invisible to the
    clip-level fingerprint exactly the way a copied passage is
    invisible to a document-level minhash (a 10-second scene spliced
    into an otherwise-different clip moves at most a few majority-vote
    bits).  Returns ``(id_a, id_b, longest_run_frames,
    n_shared_frames)``.

    Pure composition of two existing stages: :func:`video_frame_dhash`
    produces the ``(clip, frame_no, 60-bit hash)`` sequence, and the
    exact-substring machinery's inverted-index pipeline
    (``dedup._span_pairs_from_windows`` — occurrence cap before
    collect, c(c-1)/2 ordered pair explode, ONE gaps-and-islands
    window per (pair, diagonal) riding its own exchange) recovers the
    longest aligned runs, with ``k=1`` since each cell is one frame.
    Same scale discipline as the text modality: the shuffle carries
    (id, pos, 8-byte hash) cells, candidate mass is bounded by the
    occurrence cap, never clips^2.

    Two semantic trades, both lower-bounding (a reported scene is
    real; a real scene may be under-reported): (1) matching is EXACT
    frame-hash equality — robustness to re-encoding comes from the
    perceptual hash upstream, and a frame whose dHash flips a bit
    splits the run (the documented trade of every exact-hash
    substring recovery); (2) ``cap_hot_keys=True`` caps
    degenerate frames — black/title-card frames shared by half the
    corpus are this operator's d(d-1)/2 skew unit, exactly the
    boilerplate-window pathology of the text operator, and the valve
    reports ``frames_dropped`` / ``pairs_avoided`` telemetry through
    the standard eager contract."""
    from .caching import pin
    from .dedup import _check_valve, _span_pairs_from_windows

    if min_run_frames < 1:
        raise ValueError(f"min_run_frames must be >= 1, got {min_run_frames}")
    _check_valve(cap_hot_keys, observation)  # before the pin
    frames = video_frame_dhash(media, rows, cols, frame_bytes, grid_fn)
    w = frames.select(
        F.col("media_id").alias("_id"),
        F.col("frame_no").alias("pos"),
        F.col("dhash").alias("h"),
    )
    if cap_hot_keys:
        # consumed twice under the valve (its count + anti-joined main
        # stream); the upstream is the Python frame decode — pin so it
        # runs once (the caller-owns-the-pin note on the helper)
        w = pin(w)
    return _span_pairs_from_windows(
        w,
        k=1,  # one frame per cell: run length == island size
        min_run_tokens=min_run_frames,
        cap_hot_keys=cap_hot_keys,
        observation=observation,
        dropped_name="frames_dropped",
    ).select(
        "id_a",
        "id_b",
        F.col("longest_run_tokens").alias("longest_run_frames"),
        F.col("n_shared_windows").alias("n_shared_frames"),
    )


def video_near_dup_pairs(
    media: DataFrame,
    rows: int = 6,
    cols: int = 10,
    frame_bytes: int = 256,
    max_hamming: int = 3,
    grid_fn: Callable[[bytes, int, int], Sequence[int]] | None = None,
) -> DataFrame:
    """Video near-duplicate pairs: :func:`video_fingerprint` feeding
    the shared :func:`~git_log_to_sqlite_spark.operators.dedup.
    hamming_pairs` band stage — the fourth and final modality (text
    simhash, image dHash, audio Haitsma-Kalker, video frame-vote) on
    the one pigeonhole-exact pair machinery.  Returns ``(id_a, id_b,
    hamming)`` over clip-level signatures, uncapped like
    :func:`image_near_dup_pairs` (degenerate clips, e.g. black frames
    majority-voting to 0, are the hot-band case a caller caps by
    passing :func:`video_fingerprint`'s output to ``hamming_pairs``)."""
    from .caching import pin
    from .dedup import _validate_banding, hamming_pairs

    _validate_banding(rows * cols, _BANDS, max_hamming)  # before the pin
    sig = pin(video_fingerprint(media, rows, cols, frame_bytes, grid_fn))
    return hamming_pairs(
        sig,
        "media_id",
        "vfp",
        bits=rows * cols,
        bands=_BANDS,
        max_hamming=max_hamming,
    )
