"""WAV (RIFF PCM) codec: stdlib ``wave`` container parsing + numpy sample
conversion — the REAL audio decode path for the multimodal audio slot
(compressed formats like MP3/AAC need codec libraries absent from this
container and stay behind the fake-decode stub).

Supported: 8-bit unsigned, 16-bit, 24-bit, and 32-bit signed little-endian
integer PCM, any channel count. Samples are returned as an
(n_frames, n_channels) int16 array (8-bit rescales by ``(x-128)<<8``;
24/32-bit keep their top 16 bits — the standard bit-depth reduction), so
every downstream feature kernel sees one sample layout.
"""

from __future__ import annotations

import io
import wave

import numpy as np

WAV_MAGIC = b"RIFF"


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> ((n_frames, n_channels) int16 samples, sample_rate)."""
    with wave.open(io.BytesIO(data), "rb") as w:
        nch = w.getnchannels()
        sw = w.getsampwidth()
        rate = w.getframerate()
        raw = w.readframes(w.getnframes())
    if sw == 2:
        arr = np.frombuffer(raw, dtype="<i2").astype(np.int16)
    elif sw == 1:
        arr = ((np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) << 8).astype(
            np.int16
        )
    elif sw == 3:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        # little-endian: b2 is the signed MSB; top 16 bits = (b2 << 8) | b1
        msb = np.ascontiguousarray(b[:, 2]).view(np.int8).astype(np.int16)
        arr = ((msb << 8) | b[:, 1].astype(np.int16)).astype(np.int16)
    elif sw == 4:
        arr = (np.frombuffer(raw, dtype="<i4") >> 16).astype(np.int16)
    else:
        raise NotImplementedError(
            f"WAV sample width {sw * 8} bit not supported (8/16/24/32)"
        )
    return arr.reshape(-1, nch), rate

