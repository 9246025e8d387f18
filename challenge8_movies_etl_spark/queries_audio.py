"""Audio rung of the multimodal ladder: REAL RIFF/WAVE PCM16 decode
(operators/audio.py — no codec libraries) with a closed-form DuckDB
oracle, mirroring how operators/jpeg.py made image decode real.

The oracle never touches bytes: fixtures are synthesized with
closed-form parameters in doc_id, and DuckDB regenerates the exact
sample series with unnest(generate_series(...)) to recompute every
feature — so a wrong chunk walk, de-interleave stride, byte order, or
feature formula in the Spark-side decoder breaks the value hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import audio
from .operators.rowmap import row_map
from .registry import query
from .sources.fixtures import load_table


@query(
    "q_audio_decode",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             8000 + doc_id % 3 * 4000 AS rate,
             50 + doc_id % 97 AS n,
             1 + doc_id % 2 AS channels,
             doc_id % 11 + 1 AS k,
             1000 * (doc_id % 7 + 1) AS amp
      FROM documents
    ), samples AS (
      SELECT doc_id, rate, n, channels,
             unnest(generate_series(0, n - 1)) AS i,
             k, amp
      FROM params
    ), sig AS (
      SELECT doc_id, rate, n, channels,
             (i * k) % (2 * amp) - amp AS s,
             lag((i * k) % (2 * amp) - amp)
               OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM samples
    )
    SELECT doc_id,
           rate AS sample_rate,
           channels,
           n AS n_samples,
           round(n * 1000.0 / rate, 4) AS duration_ms,
           max(abs(s)) AS peak,
           round(cast(sum(abs(s)) as bigint) * 1.0 / n, 4) AS mean_abs,
           cast(coalesce(sum(CASE WHEN s * prev < 0 THEN 1 END), 0)
                as bigint) AS zero_cross
    FROM sig
    GROUP BY doc_id, rate, channels, n
    """,
)
def q_audio_decode(spark, sf_dir):
    """REAL audio decode, no codec libraries: deterministic RIFF/WAVE
    PCM16 payloads (mono/stereo alternating, every 5th with a LIST
    metadata chunk that forces genuine chunk walking) are synthesized
    per doc, then an Arrow-batched mapInPandas decoder parses the
    container — chunk walk with word alignment, fmt validation
    (PCM16-only, honest-stub refusal otherwise), channel-0
    de-interleave — and computes duration / peak / mean|s| /
    zero-crossing features in numpy.  Stereo channel 1 carries a
    different sawtooth, so a de-interleave stride bug changes channel
    0's features and the hash.

    Scale: identical shape to q_multimodal_decode — zero shuffle,
    decode parallelism == partition count, one Arrow batch of
    payloads resident per task."""
    d = load_table(spark, sf_dir, "documents")
    media = audio.synthesize_audio(d)
    feats = audio.decode_audio_features(media)
    return feats.select(
        "doc_id", "sample_rate", "channels", "n_samples",
        F.round("duration_ms", 4).alias("duration_ms"),
        "peak",
        F.round("mean_abs", 4).alias("mean_abs"),
        "zero_cross")


@query(
    "q_audio_vad",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             50 + doc_id % 97 AS n,
             doc_id % 11 + 1 AS k,
             1000 * (doc_id % 7 + 1) AS amp
      FROM documents
    ), sig AS (
      SELECT doc_id,
             unnest(generate_series(0, n - 1)) AS i,
             k, amp
      FROM params
    ), act AS (
      SELECT doc_id, i,
             CASE WHEN abs((i * k) % (2 * amp) - amp) >= amp // 2
                  THEN 1 ELSE 0 END AS a
      FROM sig
    ), flagged AS (
      SELECT doc_id, i, a,
             CASE WHEN a = 1 AND coalesce(lag(a) OVER
                    (PARTITION BY doc_id ORDER BY i), 0) = 0
                  THEN 1 ELSE 0 END AS startflag
      FROM act
    ), runs AS (
      SELECT doc_id, i, a,
             sum(startflag) OVER (PARTITION BY doc_id ORDER BY i) AS seg
      FROM flagged
    ), segs AS (
      SELECT doc_id, seg, count(*) AS run_len, min(i) AS start_i
      FROM runs WHERE a = 1 GROUP BY doc_id, seg
    )
    SELECT doc_id,
           cast(count(*) as bigint) AS n_segments,
           cast(sum(run_len) as bigint) AS active_samples,
           cast(max(run_len) as bigint) AS longest_run,
           cast(min(start_i) as bigint) AS first_start
    FROM segs GROUP BY doc_id
    """,
)
def q_audio_vad(spark, sf_dir):
    """Energy-gate voice-activity segmentation over DECODED WAV
    payloads — the cut-on-silence primitive ASR data pipelines run
    before transcription: threshold at peak/2, run-length-encode the
    activity mask in numpy (operators/audio.vad_segments), emit
    per-doc segment statistics.  The oracle regenerates the exact
    sample series and computes the same islands with windowed SQL
    (lag flag + running sum), so a wrong threshold, an off-by-one at
    run boundaries, or a mask/stride bug breaks the value hash.

    Scale: zero shuffle — RLE happens per payload inside the Arrow
    batch; only fixed-width feature rows leave the executor."""
    d = load_table(spark, sf_dir, "documents")
    media = audio.synthesize_audio(d)
    return audio.vad_segments(media, threshold_frac=2).select(
        "doc_id", "n_segments", "active_samples", "longest_run",
        "first_start")


@query(
    "q_audio_pitch",
    oracle="""
    WITH params AS MATERIALIZED (
      SELECT doc_id,
             50 + doc_id % 97 AS n,
             doc_id % 11 + 1 AS k,
             1000 * (doc_id % 7 + 1) AS amp
      FROM documents
    ), sig AS MATERIALIZED (
      SELECT doc_id, n,
             unnest(generate_series(0, n - 1)) AS i,
             k, amp
      FROM params
    ), s AS MATERIALIZED (
      SELECT doc_id, i, cast((i * k) % (2 * amp) - amp as bigint) AS v
      FROM sig
    ), ac AS MATERIALIZED (
      SELECT a.doc_id, l.lag,
             cast(sum(a.v * b.v) as bigint) AS ac
      FROM (SELECT unnest(generate_series(1, 20)) AS lag) l
      CROSS JOIN s a
      JOIN s b ON b.doc_id = a.doc_id AND b.i = a.i + l.lag
      GROUP BY a.doc_id, l.lag
    ), best AS MATERIALIZED (
      SELECT doc_id, lag, ac,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY ac DESC, lag) AS rk
      FROM ac
    ), energy AS MATERIALIZED (
      SELECT doc_id, cast(sum(v * v) as bigint) AS energy
      FROM s GROUP BY doc_id
    )
    SELECT b.doc_id, b.lag AS best_lag, b.ac AS ac_peak, e.energy
    FROM best b JOIN energy e ON b.doc_id = e.doc_id
    WHERE b.rk = 1
    """,
)
def q_audio_pitch(spark, sf_dir):
    """Autocorrelation pitch/periodicity estimation over DECODED WAV
    payloads (operators/audio.autocorr_pitch): the argmax-lag of
    Σ s[i]·s[i+L], L = 1..20, plus the peak autocorrelation and the
    signal energy — ALL int64-exact, so the oracle (which regenerates
    the closed-form sawtooth and runs the same lagged self-join in
    SQL) matches bit-for-bit with no float discipline. A decoder slip
    anywhere — chunk walk, de-interleave, sign extension — shifts the
    integers and breaks the hash.

    Scale: zero shuffle on the Spark side (per-payload numpy inside
    mapInPandas, output one fixed-width row per doc); the oracle's
    O(n·max_lag) lagged join exists only on the DuckDB side — Spark
    never materializes per-sample rows."""
    d = load_table(spark, sf_dir, "documents")
    media = audio.synthesize_audio(d)
    return audio.autocorr_pitch(media)


# ---------------------------------------------------------------------------
# q_audio_resample — integer-ratio decimation with boxcar anti-alias
# ---------------------------------------------------------------------------


@query(
    "q_audio_resample",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             8000 + doc_id % 3 * 4000 AS rate,
             50 + doc_id % 97 AS n,
             doc_id % 11 + 1 AS k,
             1000 * (doc_id % 7 + 1) AS amp
      FROM documents
    ), frames AS (
      SELECT doc_id, rate, n,
             unnest(generate_series(0, n // 2 - 1)) AS j,
             k, amp
      FROM params
    ), res AS (
      SELECT doc_id, rate, n,
             cast(floor(
               ((((2 * j) * k) % (2 * amp) - amp)
                + (((2 * j + 1) * k) % (2 * amp) - amp)) / 2.0)
               as bigint) AS y
      FROM frames
    )
    SELECT doc_id,
           rate // 2 AS out_rate,
           cast(count(*) as bigint) AS n_out,
           cast(max(abs(y)) as bigint) AS peak,
           round(cast(sum(abs(y)) as bigint) * 1.0 / count(*), 4)
             AS mean_abs
    FROM res
    GROUP BY doc_id, rate, n
    """,
)
def q_audio_resample(spark, sf_dir):
    """2:1 audio decimation with boxcar anti-aliasing: decode the WAV
    payload (REAL RIFF chunk walk), average adjacent channel-0 sample
    pairs with floor division (pure integer — no resampler library
    rounding to disagree about), and report the resampled stream's
    rate/length/peak/mean-abs. The sample-rate-normalization stage an
    audio corpus pipeline runs before featurization; the closed-form
    oracle regenerates the decimated series from doc_id and recomputes
    every feature, so a stride or off-by-one in the pair average
    breaks the hash.

    Scale: one Arrow-batched mapInPandas pass, no shuffle; output rows
    are |docs|-sized aggregates, not samples."""
    import numpy as np

    d = load_table(spark, sf_dir, "documents")
    media = audio.synthesize_audio(d)

    def resample(doc_id, buf):
        rate, _channels, ch0 = audio.decode_wav_pcm16(buf)
        m = len(ch0) // 2
        # numpy // FLOORS negative halves; the oracle mirrors with
        # floor(sum/2.0) since DuckDB's integer // truncates toward
        # zero instead
        y = (ch0[:2 * m:2] + ch0[1:2 * m:2]) // 2
        yield (doc_id, rate // 2, m, int(np.abs(y).max()),
               round(float(int(np.abs(y).sum())) / m, 4))

    return row_map(media, resample,
                   "doc_id bigint, out_rate bigint, n_out bigint, "
                   "peak bigint, mean_abs double")


# ---------------------------------------------------------------------------
# Round 6: the non-PCM refusals become real decode paths — IEEE
# float32 (format tag 3) and G.711 mu-law (format tag 7).
# ---------------------------------------------------------------------------


@query(
    "q_audio_decode_float",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             8000 + doc_id % 3 * 4000 AS rate,
             50 + doc_id % 97 AS n,
             1 + doc_id % 2 AS channels,
             doc_id % 11 + 1 AS k,
             1000 * (doc_id % 7 + 1) AS amp
      FROM documents WHERE doc_id % 4 = 1
    ), samples AS (
      SELECT doc_id, rate, n, channels,
             unnest(generate_series(0, n - 1)) AS i,
             k, amp
      FROM params
    ), sig AS (
      SELECT doc_id, rate, n, channels, amp,
             (i * k) % (2 * amp) - amp AS s,
             lag((i * k) % (2 * amp) - amp)
               OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM samples
    )
    SELECT doc_id,
           3 AS fmt_tag,
           rate AS sample_rate,
           channels,
           n AS n_samples,
           amp / 1024.0 AS peak,
           round(cast(sum(abs(s)) as bigint) / 1024.0 / n, 4)
             AS mean_abs,
           cast(coalesce(sum(CASE WHEN s * prev < 0 THEN 1 END), 0)
                as bigint) AS zero_cross
    FROM sig
    GROUP BY doc_id, rate, channels, n, amp
    """,
)
def q_audio_decode_float(spark, sf_dir):
    """REAL IEEE-float32 WAV decode (format tag 3 — round 6, closing
    the non-PCM refusal): fixtures carry the PCM sawtooth divided by
    1024 as float32 behind an 18-byte fmt chunk plus the fact chunk
    real float WAVs include, so the decoder must parse the extended
    fmt layout and skip fact in the chunk walk. Every sample is a
    dyadic rational exactly representable in f32 and f64 — the |sum|
    is EXACT in double — so peak and mean|s| match the oracle's
    integer-sawtooth recomputation bit for bit. Stereo docs carry a
    different sawtooth on channel 1 (de-interleave stride check at
    4-byte samples).

    Scale: identical shape to q_audio_decode — zero shuffle,
    Arrow-batched mapInPandas."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 1)
    media = audio.synthesize_audio_float(d)
    feats = audio.decode_audio_features_float(media)
    return feats.select(
        "doc_id", "fmt_tag", "sample_rate", "channels", "n_samples",
        "peak",
        F.round("mean_abs", 4).alias("mean_abs"),
        "zero_cross")


@query(
    "q_audio_decode_mulaw",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             40 + doc_id % 61 AS n,
             1 + doc_id % 2 AS channels,
             doc_id % 7 + 1 AS k
      FROM documents WHERE doc_id % 4 = 3
    ), samples AS (
      SELECT doc_id, n, channels,
             unnest(generate_series(0, n - 1)) AS i,
             k
      FROM params
    ), sig AS (
      SELECT doc_id, n, channels,
             (CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END)
               * 8 * ((i * k) % 16) AS s,
             lag((CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END)
                 * 8 * ((i * k) % 16))
               OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM samples
    )
    SELECT doc_id,
           7 AS fmt_tag,
           8000 AS sample_rate,
           channels,
           n AS n_samples,
           cast(max(abs(s)) as bigint) AS peak,
           cast(sum(abs(s)) as bigint) AS sum_abs,
           cast(coalesce(sum(CASE WHEN s * prev < 0 THEN 1 END), 0)
                as bigint) AS zero_cross
    FROM sig
    GROUP BY doc_id, channels, n
    """,
)
def q_audio_decode_mulaw(spark, sf_dir):
    """REAL G.711 mu-law WAV decode (format tag 7, the telephony
    codec — round 6): fixture signals are ±8·((i·k) mod 16) with
    alternating sign — segment-0 values that lie exactly on the
    mu-law quantizer grid, so compress→expand through the REAL
    companding law is lossless for them and the oracle recomputes
    all-integer features (peak, sum|s|, zero crossings) from the
    closed form with no companding table on its side. A wrong table
    inversion, bias, or segment shift in the decoder lands off the
    grid and breaks peak/sum_abs; a de-interleave stride slip pulls
    channel-1 codes into channel 0.

    Scale: identical shape to q_audio_decode — zero shuffle,
    Arrow-batched mapInPandas."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 3)
    media = audio.synthesize_audio_mulaw(d)
    feats = audio.decode_audio_features_mulaw(media)
    return feats.select(
        "doc_id", "fmt_tag", "sample_rate", "channels", "n_samples",
        "peak", "sum_abs", "zero_cross")


@query(
    "q_audio_decode_alaw",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             40 + doc_id % 53 AS n,
             1 + doc_id % 2 AS channels,
             doc_id % 5 + 1 AS k
      FROM documents WHERE doc_id % 4 = 2
    ), samples AS (
      SELECT doc_id, n, channels,
             unnest(generate_series(0, n - 1)) AS i,
             k
      FROM params
    ), sig AS (
      SELECT doc_id, n, channels,
             (CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END)
               * (16 * ((i * k) % 16) + 8) AS s,
             lag((CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END)
                 * (16 * ((i * k) % 16) + 8))
               OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM samples
    )
    SELECT doc_id,
           6 AS fmt_tag,
           8000 AS sample_rate,
           channels,
           n AS n_samples,
           cast(max(abs(s)) as bigint) AS peak,
           cast(sum(abs(s)) as bigint) AS sum_abs,
           cast(coalesce(sum(CASE WHEN s * prev < 0 THEN 1 END), 0)
                as bigint) AS zero_cross
    FROM sig
    GROUP BY doc_id, channels, n
    """,
)
def q_audio_decode_alaw(spark, sf_dir):
    """REAL G.711 A-law WAV decode (format tag 6 — round 7,
    completing G.711 beside the round-6 mu-law path): fixture signals
    are ±(16·((i·k) mod 16)+8) with alternating sign — segment-0
    values that lie exactly on the A-law quantizer grid (decode
    outputs 8·(2m+1)), so compress→expand through the REAL companding
    law is lossless for them and the oracle recomputes all-integer
    features (peak, sum|s|, zero crossings) from the closed form with
    no companding table on its side. A wrong 0x55 alternate-bit
    inversion, a segment shift, or the inverted sign convention
    (A-law sign bit SET means positive — the opposite reading of
    mu-law's) lands off the grid and breaks peak/sum_abs; a
    de-interleave stride slip pulls channel-1 codes into channel 0.

    Scale: identical shape to q_audio_decode — zero shuffle,
    Arrow-batched mapInPandas."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 2)
    media = audio.synthesize_audio_alaw(d)
    feats = audio.decode_audio_features_alaw(media)
    return feats.select(
        "doc_id", "fmt_tag", "sample_rate", "channels", "n_samples",
        "peak", "sum_abs", "zero_cross")
