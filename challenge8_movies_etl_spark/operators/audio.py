"""REAL audio decode, no codec libraries: RIFF/WAVE PCM16.

WAV is the one mainstream audio container that needs no codec — the
payload IS the samples (little-endian PCM behind a RIFF chunk walk),
so a dependency-free decoder can be *real* rather than an
honest-stub: parse the RIFF header, walk chunks (skipping unknown
ones — real files carry LIST/INFO metadata), read ``fmt `` (PCM tag,
channels, rate, bits), de-interleave ``data``, and compute signal
features in numpy.  This fills the audio rung of the multimodal
ladder the same way operators/jpeg.py filled the image rung: the
synthesized fixtures are closed-form in doc_id, so the DuckDB oracle
can verify the DECODED features without decoding anything itself —
a wrong chunk walk, a wrong stride in de-interleave, a byte-order or
bit-depth mistake all break the value hash.

At 100 TB: identical shape to image decode — zero shuffle,
Arrow-batched mapInPandas, decode parallelism == partition count,
peak memory one Arrow batch of payloads per task.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from .multimodal import synthesize
from .rowmap import row_map


def encode_wav_pcm16(rate: int, channels: list[np.ndarray],
                     with_list_chunk: bool = False) -> bytes:
    """Minimal-but-correct RIFF/WAVE writer: ``fmt `` (PCM, 16-bit) +
    optional ``LIST`` metadata chunk + interleaved ``data``.  The
    optional LIST chunk forces decoders to actually WALK chunks
    rather than assume data starts at byte 44."""
    n_ch = len(channels)
    n = len(channels[0])
    inter = np.empty(n * n_ch, dtype="<i2")
    for c, ch in enumerate(channels):
        inter[c::n_ch] = ch.astype("<i2")
    data = inter.tobytes()
    block_align = n_ch * 2
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * block_align,
                      block_align, 16)
    chunks = [b"fmt " + struct.pack("<I", len(fmt)) + fmt]
    if with_list_chunk:
        info = b"INFOISFT" + struct.pack("<I", 8) + b"mvetl\x00\x00\x00"
        chunks.append(b"LIST" + struct.pack("<I", len(info)) + info)
    chunks.append(b"data" + struct.pack("<I", len(data)) + data)
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_pcm16(buf: bytes) -> tuple[int, int, np.ndarray]:
    """Parse RIFF/WAVE → (sample_rate, n_channels, channel-0 samples
    as int64).  Walks chunks (word-aligned per the RIFF spec),
    tolerates unknown chunks, and fails loudly on anything that is
    not little-endian PCM16 — the honest-stub policy: never fake
    features for a format we cannot actually decode."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, end = 12, 8 + struct.unpack("<I", buf[4:8])[0]
    rate = n_ch = None
    samples = None
    while pos + 8 <= end:
        cid = buf[pos:pos + 4]
        size = struct.unpack("<I", buf[pos + 4:pos + 8])[0]
        body = buf[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            tag, n_ch, rate, _, _, bits = struct.unpack("<HHIIHH",
                                                        body[:16])
            if tag != 1 or bits != 16:
                raise NotImplementedError(
                    f"only PCM16 decodable without codecs "
                    f"(format tag {tag}, {bits}-bit)")
        elif cid == b"data":
            if rate is None:
                raise ValueError("data chunk before fmt")
            samples = np.frombuffer(body, dtype="<i2")
        # unknown chunks (LIST, fact, ...) are skipped; chunks are
        # word-aligned so odd sizes carry a pad byte
        pos += 8 + size + (size & 1)
    if samples is None:
        raise ValueError("no data chunk in WAVE stream")
    return rate, n_ch, samples[::n_ch].astype(np.int64)


# ---------------------------------------------------------------------------
# Round 6: the named non-PCM refusals become real decode paths —
# IEEE float32 (format tag 3) and G.711 mu-law (format tag 7), the
# two non-PCM encodings that need no codec library (float is raw
# samples; mu-law is a 256-entry companding law from the G.711 spec).
# ---------------------------------------------------------------------------

def _ulaw_encode(x: int) -> int:
    """G.711 mu-law compress one linear sample (int16 range) to a
    code byte. Values of the form ±8m (m 0..15, segment 0) round-trip
    exactly — the fixture signals live there so the oracle needs no
    companding table on its side."""
    BIAS = 0x84
    sign = 0x80 if x < 0 else 0x00
    mag = min((-x if x < 0 else x) + BIAS, 0x7FFF)
    exp = 7
    while exp > 0 and mag < (1 << (exp + 7)):
        exp -= 1
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant)) & 0xFF


def _ulaw_decode(c: int) -> int:
    """G.711 mu-law expand one code byte to the linear sample."""
    c = (~c) & 0xFF
    sign = c & 0x80
    exp = (c >> 4) & 0x07
    mant = c & 0x0F
    val = (((mant << 3) + 0x84) << exp) - 0x84
    return -val if sign else val


_ULAW_TABLE = np.array([_ulaw_decode(c) for c in range(256)],
                       dtype=np.int64)


def _alaw_encode(x: int) -> int:
    """G.711 A-law compress one linear sample (int16 range) to a code
    byte — the ITU segment encoder over the 13-bit domain with the
    0x55 alternate-bit inversion. Decode outputs ±8·(2m+1) (segment
    0) round-trip exactly; the fixture signals live there."""
    x >>= 3  # 16-bit -> the 13-bit A-law domain
    if x >= 0:
        mask = 0xD5
    else:
        mask = 0x55
        x = -x - 1
    # segment ends are 0x1F, 0x3F, 0x7F, ..., 0xFFF — i.e. seg is
    # how far x's magnitude overflows 5 bits
    seg = max(0, x.bit_length() - 5)
    if seg >= 8:
        return 0x7F ^ mask
    shift = 1 if seg < 2 else seg
    return ((seg << 4) | ((x >> shift) & 0x0F)) ^ mask


def _alaw_decode(c: int) -> int:
    """G.711 A-law expand one code byte to the linear sample (16-bit
    domain; sign bit SET means positive, per the spec)."""
    c ^= 0x55
    t = (c & 0x0F) << 4
    seg = (c & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if c & 0x80 else -t


_ALAW_TABLE = np.array([_alaw_decode(c) for c in range(256)],
                       dtype=np.int64)


def encode_wav_float32(rate: int, channels: list[np.ndarray]) -> bytes:
    """RIFF/WAVE writer for IEEE float32 (format tag 3): 18-byte fmt
    with cbSize=0 plus the fact chunk real float WAVs carry — so a
    decoder that assumes the 16-byte PCM fmt layout or chokes on fact
    fails loudly."""
    n_ch = len(channels)
    n = len(channels[0])
    inter = np.empty(n * n_ch, dtype="<f4")
    for c, ch in enumerate(channels):
        inter[c::n_ch] = ch.astype("<f4")
    data = inter.tobytes()
    block_align = n_ch * 4
    fmt = struct.pack("<HHIIHHH", 3, n_ch, rate, rate * block_align,
                      block_align, 32, 0)
    fact = struct.pack("<I", n)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", len(fact)) + fact
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_alaw(rate: int, channels: list[np.ndarray]) -> bytes:
    """RIFF/WAVE writer for G.711 A-law (format tag 6, 8-bit codes):
    linear int samples are companded through the real encoder."""
    n_ch = len(channels)
    n = len(channels[0])
    inter = np.empty(n * n_ch, dtype=np.uint8)
    for c, ch in enumerate(channels):
        inter[c::n_ch] = np.array([_alaw_encode(int(x)) for x in ch],
                                  dtype=np.uint8)
    data = inter.tobytes()
    fmt = struct.pack("<HHIIHHH", 6, n_ch, rate, rate * n_ch, n_ch, 8, 0)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", 4) + struct.pack("<I", n)
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_mulaw(rate: int, channels: list[np.ndarray]) -> bytes:
    """RIFF/WAVE writer for G.711 mu-law (format tag 7, 8-bit codes):
    linear int samples are companded through the real encoder."""
    n_ch = len(channels)
    n = len(channels[0])
    inter = np.empty(n * n_ch, dtype=np.uint8)
    for c, ch in enumerate(channels):
        inter[c::n_ch] = np.array([_ulaw_encode(int(x)) for x in ch],
                                  dtype=np.uint8)
    data = inter.tobytes()
    fmt = struct.pack("<HHIIHHH", 7, n_ch, rate, rate * n_ch, n_ch, 8, 0)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", 4) + struct.pack("<I", n)
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(buf: bytes) -> tuple[int, int, int, np.ndarray]:
    """General RIFF/WAVE parse → (format_tag, sample_rate, n_channels,
    channel-0 samples). Tags: 1 = PCM16 (int64 samples), 3 = IEEE
    float32 (float64 samples), 6 = G.711 A-law and 7 = G.711 mu-law
    (int64 samples expanded through the real companding tables).
    Anything else — ADPCM, extensible — raises NotImplementedError
    (honest-stub policy); structural corruption (bad magic, missing
    or misordered chunks) raises ValueError. Chunk walk is
    word-aligned and skips unknown chunks (LIST, fact, ...)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, end = 12, 8 + struct.unpack("<I", buf[4:8])[0]
    tag = rate = n_ch = bits = None
    raw = None
    while pos + 8 <= end:
        cid = buf[pos:pos + 4]
        size = struct.unpack("<I", buf[pos + 4:pos + 8])[0]
        body = buf[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            tag, n_ch, rate, _, _, bits = struct.unpack("<HHIIHH",
                                                        body[:16])
            if (tag, bits) not in ((1, 16), (3, 32), (6, 8), (7, 8)):
                raise NotImplementedError(
                    f"WAV format tag {tag} at {bits}-bit not decodable "
                    "without codecs (PCM16 / IEEE-float32 / G.711 "
                    "A-law / mu-law only)")
        elif cid == b"data":
            if tag is None:
                raise ValueError("data chunk before fmt")
            raw = body
        pos += 8 + size + (size & 1)
    if raw is None or tag is None:
        raise ValueError("no data chunk in WAVE stream")
    if tag == 1:
        s = np.frombuffer(raw, dtype="<i2")[::n_ch].astype(np.int64)
    elif tag == 3:
        s = np.frombuffer(raw, dtype="<f4")[::n_ch].astype(np.float64)
    elif tag == 6:  # A-law: expand through the real G.711 table
        s = _ALAW_TABLE[np.frombuffer(raw, dtype=np.uint8)[::n_ch]]
    else:  # mu-law: expand codes through the real G.711 table
        s = _ULAW_TABLE[np.frombuffer(raw, dtype=np.uint8)[::n_ch]]
    return tag, rate, n_ch, s


AUDIO_SCHEMA = ("doc_id bigint, sample_rate bigint, channels bigint, "
                "n_samples bigint, duration_ms double, peak bigint, "
                "mean_abs double, zero_cross bigint")


def _sawtooth(d: int) -> tuple[int, list[np.ndarray]]:
    """Per-doc sample rate and channels: channel 0 is the sawtooth
    ``((i*k) mod 2A) - A``; stereo (odd) docs carry a DIFFERENT
    sawtooth (k+1) on channel 1."""
    rate = 8000 + d % 3 * 4000
    n = 50 + d % 97
    k, amp = d % 11 + 1, 1000 * (d % 7 + 1)
    i = np.arange(n, dtype=np.int64)
    chans = [(i * k) % (2 * amp) - amp]
    if d % 2:
        chans.append((i * (k + 1)) % (2 * amp) - amp)
    return rate, chans


def synthesize_audio(docs: DataFrame) -> DataFrame:
    """Deterministic per-doc WAV payloads: rate / length / amplitude /
    waveform slope are closed-form in doc_id (``_sawtooth``), so a
    de-interleave stride mistake changes channel 0's features and
    breaks the hash.  Every 5th doc gets a LIST metadata chunk between
    fmt and data to force real chunk walking."""
    def encode(d):
        return encode_wav_pcm16(*_sawtooth(d), with_list_chunk=(d % 5 == 0))

    return synthesize(docs, encode)


def decode_audio_features(media: DataFrame) -> DataFrame:
    """Binary WAV payloads → per-doc signal features on channel 0:
    duration, peak amplitude, mean |sample|, and zero-crossing count.
    All integer math until the two final divisions (n*1000/rate,
    sum_abs/n), which are single IEEE ops — bit-identical on any
    engine — before round(,4)."""
    def decode(doc_id, buf):
        rate, n_ch, s = decode_wav_pcm16(buf)
        n = len(s)
        a = np.abs(s)
        yield (doc_id, rate, n_ch, n, round(n * 1000.0 / rate, 4),
               int(a.max()), round(int(a.sum()) / n, 4),
               int((s[1:] * s[:-1] < 0).sum()))

    return row_map(media.select("doc_id", "payload"), decode, AUDIO_SCHEMA)


VAD_SCHEMA = ("doc_id bigint, n_segments bigint, active_samples bigint, "
              "longest_run bigint, first_start bigint")


def vad_segments(media: DataFrame, threshold_frac: int = 2) -> DataFrame:
    """Energy-gate segmentation (the VAD shape ASR pipelines cut on):
    a sample is ACTIVE when |s| >= amp_threshold, where the threshold
    is the per-doc peak divided by ``threshold_frac`` — runs of active
    samples are the segments.  Per-payload run-length analysis happens
    in numpy inside the Arrow batch (the per-sample imperative work a
    built-in operator cannot express row-wise); output is one
    fixed-width feature row per doc, so downstream aggregation carries
    features, never samples."""
    def segment(doc_id, buf):
        _rate, _ch, s = decode_wav_pcm16(buf)
        thr = int(np.abs(s).max()) // threshold_frac
        mask = np.abs(s) >= thr
        # run-length encode the activity mask
        edges = np.flatnonzero(np.diff(
            np.concatenate(([0], mask.view(np.int8), [0]))))
        starts, ends = edges[0::2], edges[1::2]
        runs = ends - starts
        yield (doc_id, len(runs), int(runs.sum()),
               int(runs.max()) if len(runs) else 0,
               int(starts[0]) if len(starts) else -1)

    return row_map(media.select("doc_id", "payload"), segment, VAD_SCHEMA)


PITCH_SCHEMA = ("doc_id bigint, best_lag bigint, ac_peak bigint, "
                "energy bigint")


def autocorr_pitch(media: DataFrame, max_lag: int = 20) -> DataFrame:
    """Autocorrelation pitch estimation over decoded channel-0 PCM16:
    ac(L) = Σ s[i]·s[i+L] for L in 1..max_lag; the reported lag is the
    argmax (ties → smallest lag, matched by iterating lags ascending).
    Everything stays in int64 — PCM16 products are ≤ 2^30 and the
    fixture signals are ≤ ~150 samples, so sums are exact integers and
    the value-hash needs no float discipline at all. This is the
    classic no-FFT pitch tracker; a spectral estimate would add
    transcendental constants no cross-engine oracle can reproduce
    bit-exactly, and for periodicity detection the time-domain
    autocorrelation is the same information."""
    def pitch(doc_id, buf):
        _rate, _ch, s = decode_wav_pcm16(buf)
        s = s.astype(np.int64)
        best_lag, ac_peak = 0, None
        for lag in range(1, max_lag + 1):
            ac = int(np.dot(s[:-lag], s[lag:]))
            if ac_peak is None or ac > ac_peak:
                best_lag, ac_peak = lag, ac
        yield doc_id, best_lag, ac_peak, int(np.dot(s, s))

    return row_map(media.select("doc_id", "payload"), pitch, PITCH_SCHEMA)


FLOAT_SCHEMA = ("doc_id bigint, fmt_tag bigint, sample_rate bigint, "
                "channels bigint, n_samples bigint, peak double, "
                "mean_abs double, zero_cross bigint")


def synthesize_audio_float(docs: DataFrame) -> DataFrame:
    """Deterministic IEEE-float32 WAV payloads (format tag 3): each
    channel is the ``_sawtooth`` PCM signal divided by 1024 — a dyadic
    rational, exactly representable in float32 AND in the f64
    arithmetic both engines use — so peak and mean|s| have closed
    forms the oracle recomputes from the integer sawtooth with two
    exact divisions. Stereo docs interleave a different sawtooth on
    channel 1 (stride check)."""
    def encode(d):
        rate, chans = _sawtooth(d)
        return encode_wav_float32(rate, [c / 1024.0 for c in chans])

    return synthesize(docs, encode)


def decode_audio_features_float(media: DataFrame) -> DataFrame:
    """Float-WAV feature extractor: every sample is a dyadic rational
    with denominator 1024 and the |sum| stays far below 2^53, so the
    f64 sum is EXACT and the single final division matches the
    oracle's bit for bit."""
    def decode(doc_id, buf):
        tag, rate, n_ch, s = decode_wav(buf)
        if tag != 3:
            raise NotImplementedError(
                f"expected float32 WAV, got tag {tag}")
        a = np.abs(s)
        # no python round on mean_abs: the dyadic sums make exact
        # .xxxx5 ties COMMON, and python rounds half-to-even while
        # both engines' SQL round is HALF_UP — the query applies
        # F.round instead
        yield (doc_id, tag, rate, n_ch, len(s), float(a.max()),
               float(a.sum()) / len(s), int((s[1:] * s[:-1] < 0).sum()))

    return row_map(media.select("doc_id", "payload"), decode, FLOAT_SCHEMA)


MULAW_SCHEMA = ("doc_id bigint, fmt_tag bigint, sample_rate bigint, "
                "channels bigint, n_samples bigint, peak bigint, "
                "sum_abs bigint, zero_cross bigint")


def _g711_signal(d: int, n: int, k: int, scale: int,
                 offset: int) -> list[np.ndarray]:
    """Alternating-sign channels ``±(scale·((i·k) mod 16) + offset)``;
    odd docs add a k+1 channel."""
    i = np.arange(n, dtype=np.int64)
    sign = np.where(i % 2 == 0, 1, -1)
    chans = [sign * (scale * ((i * k) % 16) + offset)]
    if d % 2:
        chans.append(sign * (scale * ((i * (k + 1)) % 16) + offset))
    return chans


def synthesize_audio_mulaw(docs: DataFrame) -> DataFrame:
    """Deterministic G.711 mu-law WAV payloads (format tag 7, the
    telephony codec — 8 kHz): channel-0 samples are
    ±8·((i·k) mod 16) with alternating sign — segment-0 mu-law values
    that COMPAND EXACTLY (companding is lossy in general; these lie on
    the quantizer's representable points), so decode returns the
    closed-form signal and the oracle recomputes integer features with
    no companding table on its side. A wrong table, bias, or segment
    shift in the decoder lands off the representable grid and breaks
    peak/sum_abs."""
    return synthesize(docs, lambda d: encode_wav_mulaw(8000, _g711_signal(
        d, 40 + d % 61, d % 7 + 1, 8, 0)))


def _decode_g711_features(media: DataFrame, tag: int,
                          law: str) -> DataFrame:
    """G.711 feature extractor — all-integer output (sum_abs instead
    of mean), so the value hash needs no float discipline at all."""
    def decode(doc_id, buf):
        got, rate, n_ch, s = decode_wav(buf)
        if got != tag:
            raise NotImplementedError(
                f"expected {law} WAV, got tag {got}")
        a = np.abs(s)
        yield (doc_id, got, rate, n_ch, len(s), int(a.max()),
               int(a.sum()), int((s[1:] * s[:-1] < 0).sum()))

    return row_map(media.select("doc_id", "payload"), decode, MULAW_SCHEMA)


def decode_audio_features_mulaw(media: DataFrame) -> DataFrame:
    """mu-law (format tag 7) features, see ``_decode_g711_features``."""
    return _decode_g711_features(media, 7, "mu-law")


def synthesize_audio_alaw(docs: DataFrame) -> DataFrame:
    """Deterministic G.711 A-law WAV payloads (format tag 6 — round
    7, completing G.711 beside the round-6 mu-law path): channel-0
    samples are ±(16·((i·k) mod 16) + 8) with alternating sign —
    segment-0 A-law representable points (8·(2m+1)), so compress→
    expand through the REAL companding law is lossless for them and
    the oracle recomputes integer features in closed form with no
    companding table on its side. A wrong 0x55 inversion, segment
    shift, or sign convention (A-law's sign bit SET means positive)
    lands off the grid and breaks peak/sum_abs."""
    return synthesize(docs, lambda d: encode_wav_alaw(8000, _g711_signal(
        d, 40 + d % 53, d % 5 + 1, 16, 8)))


def decode_audio_features_alaw(media: DataFrame) -> DataFrame:
    """A-law (format tag 6) features, see ``_decode_g711_features``."""
    return _decode_g711_features(media, 6, "A-law")
