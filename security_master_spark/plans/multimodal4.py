"""Round-7 multimodal batch 2 (SURVEY.md §2.12): audio framing — the
overlapping-frame energy grid (STFT/VAD front end), the audio twin of
m7's image tiling, oracle-certified frame by frame.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.multimodal.binary import (
    FRAME_HOP,
    FRAME_LEN,
    audio_frame_stats,
)
from security_master_spark.plans.registry import register

#: doc slice (same as m6 — tones of 400..499 samples → 2 full frames)
_N_DOCS = 300


@register(
    "m8_audio_framing",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, CAST(400 + doc_id % 100 AS BIGINT) AS n
        FROM documents WHERE doc_id < {_N_DOCS}
    ), frames AS (
        SELECT doc_id, n,
               UNNEST(generate_series(0,
                   (n - {FRAME_LEN}) // {FRAME_HOP})) AS f
        FROM d WHERE n >= {FRAME_LEN}
    ), samp AS (
        SELECT fr.doc_id, fr.f,
               (7 * (fr.f * {FRAME_HOP} + i.i) + 13 * fr.doc_id)
                   % 65536 - 32768 AS s
        FROM frames fr,
             (SELECT UNNEST(generate_series(0, {FRAME_LEN - 1})) AS i) i
    )
    SELECT doc_id,
           CAST(f AS INT) AS frame_idx,
           CAST({FRAME_LEN} AS INT) AS n_samp,
           CAST(SUM(s) AS BIGINT) AS sum_amp,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(s)) AS INT) AS peak,
           {sql_dround(
               f"SQRT(SUM(s * s) / CAST({FRAME_LEN} AS DOUBLE))", 6
           )} AS rms
    FROM samp
    GROUP BY doc_id, f
    """,
)
def m8_audio_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing: documents → test-tone WAV bytes (mapInPandas
    encode) → RIFF chunk-walk decode → overlapping 256-sample frames
    at hop 128 (50% overlap, the STFT default) with exact integer
    energy stats + RMS per frame — the front end of every
    spectrogram/VAD/diarization pipeline, and the audio twin of m7's
    patch grid. Full frames only; the oracle regenerates every frame
    closed-form from the tone formula, so hop arithmetic, overlap
    membership, and tail truncation must all be exactly right.

    Scale: two map-only Arrow stages, zero shuffles; what leaves
    Python is the frame grid (~2 rows/doc here; at 16 kHz speech,
    ~125 rows/s of audio), never raw samples. Integer sums are exact
    — only the final RMS touches floats, IEEE-pinned on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.filter(F.col("doc_id") < _N_DOCS).select(
        "doc_id",
        (F.lit(400) + F.col("doc_id") % 100)
        .cast("long")
        .alias("n_samples"),
    )
    frames = audio_frame_stats(lens)
    return frames.select(
        "doc_id",
        "frame_idx",
        "n_samp",
        "sum_amp",
        "sum_sq",
        "peak",
        dround(
            F.sqrt(
                F.col("sum_sq").cast("double") / F.lit(float(FRAME_LEN))
            ),
            6,
        ).alias("rms"),
    )
