"""Fused audio screen: VAD + SNR + pitch + hum/DC + bandwidth + reverb +
dynamic-range + dropout + click verdicts from ONE decode.

The screen-family analog of operators/audioprep (which fused the
canonical-form chain): a corpus pass that wants all nine audio-quality
verdicts — voice activity, noise floor, periodicity, electrical defects,
effective bandwidth, decay tail, loudness range, digital dropouts,
impulsive clicks — must not decode the corpus nine times.
Decode is the per-core Python ceiling (BASELINE.md roofline), and at
100 TB the bytes-column scan itself is the other ceiling; running the
nine standalone operators back-to-back pays both nine times. This stage
runs the SAME kernels (operators/vad.segment_samples, operators/snr.
snr_of, operators/pitch.pitch_of, operators/hum.hum_of,
operators/bandwidth.band_of, operators/reverb.reverb_of,
operators/dynrange.dr_of, operators/dropout.dropout_of,
operators/click.click_of — one source of truth each, all replica-gated
in their own tests) on one decoded buffer inside ONE ArrowEvalPython
stage, and applies each standalone screen's own verdict function.

Fusion contract (pytest-enforced): every output column is bit-identical
to the corresponding standalone operator's column — fusing costs
nothing, choosing it saves eight scans and eight decodes. Cost honesty,
as recorded for prep_audio: with the built-in memcpy-cheap codecs the
wall saving is noise-level; the structural saving scales with real
codec cost and scan I/O.

VAD is aggregated to clip grain here (n_segments, speech_frames) — the
per-segment rows remain vad_segments' job; a screen wants the verdict,
not the cut list.

Zero shuffles; one decode per row (functions/audio.decoded_udf).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.audio import decoded_udf, with_sr
from .bandwidth import band_of, narrowband
from .click import click_of, click_verdicts
from .dropout import dropout_of, dropout_verdicts
from .dynrange import compressed, dr_of
from .hum import hum_of, hum_verdicts
from .pitch import pitch_of, pitch_verdicts
from .reverb import reverb_detected, reverb_of
from .snr import snr_keep, snr_of
from .vad import segment_samples

_SCREEN_T = T.StructType(
    [
        T.StructField(n, T.StringType() if n.endswith("_status") else T.LongType())
        for n in (
            "n_segments", "speech_frames",
            "snr_status", "snr_ratio",
            "pitch_status", "f0_centi_hz", "periodicity_permille",
            "hum_status", "dc_offset", "hum_permille", "hum_hz",
            "bw_status", "est_nyquist_hz",
            "rev_status", "rt60_ms",
            "dr_status", "dr_ratio_permille",
            "drop_status", "dropout_permille", "stuck_permille",
            "click_status", "clicks_per_min",
        )
    ]
)


def screen_of(x: np.ndarray, sr: int) -> tuple:
    """All nine screens' kernels on one decoded buffer -> one row in
    _SCREEN_T field order."""
    segs = segment_samples(x, sr)
    snr_st, _, _, _, _, snr_ratio = snr_of(x, sr)
    p_st, _, f0, per = pitch_of(x, sr)
    h_st, _, dc, _, hum_p, hum_hz = hum_of(x, sr)
    b_st, _, _, est = band_of(x, sr)
    r_st, _, _, _, _, rt60 = reverb_of(x, sr)
    d_st, _, _, _, _, dr = dr_of(x, sr)
    g_st, _, _, _, _, _, _, _, dp_p, st_p = dropout_of(x, sr)
    c_st, _, _, _, _, _, cpm = click_of(x, sr)
    return (
        len(segs), sum(e - b for b, e in segs),
        snr_st, snr_ratio,
        p_st, f0, per,
        h_st, dc, hum_p, hum_hz,
        b_st, est,
        r_st, rt60,
        d_st, dr,
        g_st, dp_p, st_p,
        c_st, cpm,
    )


_screen_udf = decoded_udf(_SCREEN_T, with_sr(screen_of))


def screen_audio(
    clips: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(clip_id, *passthrough, the _SCREEN_T fields, snr_keep, voiced,
    speechlike, hum_detected, dc_detected, hum_keep, narrowband,
    reverb_detected, rev_keep, compressed, dr_keep, dropout_detected,
    stuck_detected, drop_keep, click_detected, click_keep) — all nine
    screens' verdicts from one decode; each verdict is the standalone
    operator's own rule function (snr.snr_keep, pitch.pitch_verdicts,
    hum.hum_verdicts, bandwidth.narrowband, reverb.reverb_detected,
    dynrange.compressed, dropout.dropout_verdicts,
    click.click_verdicts). `passthrough` names extra clip columns to
    carry through unchanged (zero cost — they ride the same projection),
    so compositions like rate.speech_rate read transcript next to the
    verdicts without a join or second decode."""
    e = clips.select(
        F.col(id_col).alias("clip_id"),
        F.col(sr_col).alias("sr_hz"),
        *[F.col(c) for c in passthrough],
        _screen_udf(F.col(bytes_col), F.col(codec_col), F.col(sr_col)).alias("a"),
    ).where(F.col("a").isNotNull())

    def a(n: str):
        return F.col(f"a.{n}")

    voiced, speechlike = pitch_verdicts(
        a("pitch_status"), a("periodicity_permille"), a("f0_centi_hz")
    )
    hum, dc, hum_keep = hum_verdicts(a("hum_status"), a("hum_permille"), a("dc_offset"))
    rev = reverb_detected(a("rev_status"), a("rt60_ms"))
    comp = compressed(a("dr_status"), a("dr_ratio_permille"))
    gap, stuck, drop_keep = dropout_verdicts(
        a("drop_status"), a("dropout_permille"), a("stuck_permille")
    )
    clk, click_keep = click_verdicts(a("click_status"), a("clicks_per_min"))
    return e.select(
        "clip_id",
        *passthrough,
        "a.*",
        snr_keep(a("snr_status"), a("snr_ratio")).alias("snr_keep"),
        voiced.alias("voiced"),
        speechlike.alias("speechlike"),
        hum.alias("hum_detected"),
        dc.alias("dc_detected"),
        hum_keep.alias("hum_keep"),
        narrowband(a("est_nyquist_hz"), F.col("sr_hz")).alias("narrowband"),
        rev.alias("reverb_detected"),
        (~rev).alias("rev_keep"),
        comp.alias("compressed"),
        (~comp).alias("dr_keep"),
        gap.alias("dropout_detected"),
        stuck.alias("stuck_detected"),
        drop_keep.alias("drop_keep"),
        clk.alias("click_detected"),
        click_keep.alias("click_keep"),
    )
