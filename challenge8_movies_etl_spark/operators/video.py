"""REAL video decode, no codec libraries: Y4M (YUV4MPEG2).

Y4M is the one mainstream video container with no entropy coding —
a text stream header (`YUV4MPEG2 W.. H.. F.. C..`), then per frame a
`FRAME` line followed by raw planar YCbCr (Y plane, then Cb/Cr at the
declared chroma sampling).  A dependency-free decoder can therefore
be *real* in the same sense operators/audio.py (WAV) and
operators/jpeg.py are: parse the header tokens, validate the chroma
mode, walk frames computing plane offsets from the declared geometry,
and extract per-frame per-plane statistics in numpy.  This replaces
the byte-chunk stand-in as the VIDEO rung of the multimodal ladder —
frame extraction fan-out (one input row → one row per sampled frame)
with genuinely decoded frame content.

At 100 TB: identical shape to image/audio decode — zero shuffle,
Arrow-batched mapInPandas, the frame fan-out happens executor-side
inside the batch, never on the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .multimodal import synthesize
from .rowmap import row_map


def encode_y4m(width: int, height: int,
               frames: "list[tuple[int, int, int]]",
               chroma: str = "420jpeg",
               rate: "tuple[int, int]" = (25, 1)) -> bytes:
    """Minimal-but-correct YUV4MPEG2 writer: uniform (y, cb, cr)
    frames at C420jpeg (2x2-subsampled chroma; even dims required),
    C422 (horizontal-only subsample; even width required), or C444."""
    if chroma.startswith("420") and (width % 2 or height % 2):
        raise ValueError("C420 needs even dimensions")
    if chroma == "422" and width % 2:
        raise ValueError("C422 needs even width")
    head = (f"YUV4MPEG2 W{width} H{height} "
            f"F{rate[0]}:{rate[1]} Ip A1:1 C{chroma}\n").encode()
    cw, ch = ((width // 2, height // 2) if chroma.startswith("420")
              else (width // 2, height) if chroma == "422"
              else (width, height))
    out = [head]
    for y, cb, cr in frames:
        out.append(b"FRAME\n")
        out.append(bytes([y]) * (width * height))
        out.append(bytes([cb]) * (cw * ch))
        out.append(bytes([cr]) * (cw * ch))
    return b"".join(out)


def decode_y4m(buf: bytes) -> tuple[int, int, str, list]:
    """Parse a YUV4MPEG2 stream → (width, height, chroma,
    [(y_plane, cb_plane, cr_plane), ...]) with planes as uint8
    arrays.  Fails loudly on non-Y4M input and on chroma modes
    without a dependency-free layout (the honest-stub policy)."""
    nl = buf.find(b"\n")
    if nl < 0 or not buf.startswith(b"YUV4MPEG2"):
        raise NotImplementedError("not a YUV4MPEG2 stream")
    width = height = -1
    chroma = "420jpeg"  # the Y4M default when C is absent
    for tok in buf[:nl].split()[1:]:
        tag, val = chr(tok[0]), tok[1:].decode()
        if tag == "W":
            width = int(val)
        elif tag == "H":
            height = int(val)
        elif tag == "C":
            chroma = val
    if width <= 0 or height <= 0:
        raise ValueError("missing W/H in stream header")
    if chroma.startswith("420"):
        cw, ch = width // 2, height // 2
    elif chroma == "422":
        cw, ch = width // 2, height  # horizontal-only subsample
    elif chroma == "444":
        cw, ch = width, height
    else:
        raise NotImplementedError(f"chroma mode C{chroma}")
    ysz, csz = width * height, cw * ch
    frames = []
    pos = nl + 1
    while pos < len(buf):
        fnl = buf.find(b"\n", pos)
        if fnl < 0 or not buf[pos:fnl].startswith(b"FRAME"):
            raise ValueError(f"expected FRAME header at {pos}")
        pos = fnl + 1
        if pos + ysz + 2 * csz > len(buf):
            raise ValueError("truncated frame payload")
        y = np.frombuffer(buf, np.uint8, ysz, pos)
        cb = np.frombuffer(buf, np.uint8, csz, pos + ysz)
        cr = np.frombuffer(buf, np.uint8, csz, pos + ysz + csz)
        frames.append((y.reshape(height, width),
                       cb.reshape(ch, cw), cr.reshape(ch, cw)))
        pos += ysz + 2 * csz
    return width, height, chroma, frames


VIDEO_SCHEMA = ("doc_id bigint, frame_idx bigint, width bigint, "
                "height bigint, chroma string, mean_y double, "
                "mean_cb double, mean_cr double")


def _y4m_frames(d: int) -> "list[tuple[int, int, int]]":
    """Per-doc frame colours: 3 + doc_id%5 frames, each a uniform
    (y, cb, cr) closed-form in (doc_id, frame_idx)."""
    return [((d * 7 + i * 31) % 256, (d * 13 + i * 17) % 256,
             (d * 19 + i * 23) % 256) for i in range(3 + d % 5)]


def synthesize_videos(docs: DataFrame) -> DataFrame:
    """Deterministic per-doc Y4M payloads: geometry, frame count, and
    each frame's uniform (y, cb, cr) are closed-form in (doc_id,
    frame_idx), alternating C420jpeg / C444 so both plane layouts are
    walked.  An engine-independent oracle can verify the SAMPLED
    frames' decoded plane means without touching bytes."""
    return synthesize(docs, lambda d: encode_y4m(
        2 * (d % 8 + 1), 2 * (d % 4 + 1), _y4m_frames(d),
        "420jpeg" if d % 2 == 0 else "444"))


def frame_stats(media: DataFrame, every: int = 2) -> DataFrame:
    """Binary Y4M payloads → one row per SAMPLED frame (every
    ``every``-th) with per-plane means — the real frame-extraction
    fan-out shape (decode → sample → featurize)."""
    def sample(doc_id, buf):
        w, h, chroma, frames = decode_y4m(buf)
        for i in range(0, len(frames), every):
            y, cb, cr = frames[i]
            yield (doc_id, i, w, h, chroma, round(float(y.mean()), 4),
                   round(float(cb.mean()), 4), round(float(cr.mean()), 4))

    return row_map(media.select("doc_id", "payload"), sample, VIDEO_SCHEMA)


SCENE_SCHEMA = ("doc_id bigint, n_frames bigint, n_cuts bigint, "
                "first_cut bigint, max_diff bigint")


def scene_cuts(media: DataFrame, threshold: int = 64) -> DataFrame:
    """Scene-cut detection over decoded Y4M: the per-pixel mean
    absolute luma difference between consecutive frames, thresholded —
    the shot-boundary primitive video-curation pipelines cut on before
    captioning/sampling. The fixture frames are uniform, so the
    per-pixel mean diff is an exact integer and the oracle reproduces
    it in closed form; the decoder still computes it from the real
    decoded planes, so any plane-geometry bug breaks the hash."""
    def cuts(doc_id, buf):
        _w, _h, _chroma, frames = decode_y4m(buf)
        diffs = [int(np.abs(y1.astype(np.int64)
                            - y0.astype(np.int64)).mean())
                 for (y0, _, _), (y1, _, _) in zip(frames, frames[1:])]
        at = [i + 1 for i, d in enumerate(diffs) if d >= threshold]
        yield (doc_id, len(frames), len(at), at[0] if at else -1,
               max(diffs) if diffs else 0)

    return row_map(media.select("doc_id", "payload"), cuts, SCENE_SCHEMA)


def synthesize_videos_422(docs: DataFrame) -> DataFrame:
    """Round 6: per-doc Y4M payloads at C422 (horizontal-only chroma
    subsample — the broadcast/capture interchange layout) so the
    w/2 x h plane geometry is walked end to end; same closed-form
    frame colors as synthesize_videos. Odd heights are legal."""
    return synthesize(docs, lambda d: encode_y4m(
        2 * (d % 8 + 1), d % 7 + 1, _y4m_frames(d), "422"))
