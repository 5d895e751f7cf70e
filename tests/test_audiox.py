"""Audio/video container prober vs the reference's own audio corpus.

The reference ASR pipeline (docling/pipeline/asr_transcriber.py) probes
streams via ffmpeg before whisper transcribes; ``engine/audiox.py``
re-expresses the probe in pure Python. Every file in the reference's
tests/data/audio/sources (16 files, 8 containers) must sniff to the
right container/codec and report its known duration (the corpus is
"sample_10s_*" ≈ 10 s and "silent_1s" = 1 s) and stream parameters.
"""

from __future__ import annotations

import io
import pathlib
import struct
import wave

import pytest

from docling_spark.engine.audiox import probe_media, sniff_media

SRC = pathlib.Path("/root/reference/tests/data/audio/sources")

# file → (container, codec, expected duration, rate, channels)
EXPECT = {
    "sample_10s.mp3": ("mp3", "mp3", 10.0, 44100, 1),
    "sample_10s_audio-aac.aac": ("aac", "aac", 10.0, 44100, 2),
    "sample_10s_audio-flac.flac": ("flac", "flac", 10.0, 44100, 2),
    "sample_10s_audio-m4a.m4a": ("mp4", "aac", 10.0, 44100, 2),
    "sample_10s_audio-mp3.mp3": ("mp3", "mp3", 10.0, 44100, 2),
    "sample_10s_audio-mp4.m4a": ("mp4", "aac", 10.0, 44100, 2),
    "sample_10s_audio-mpeg.mp3": ("mp3", "mp3", 10.0, 44100, 2),
    "sample_10s_audio-ogg.ogg": ("ogg", "vorbis", 10.0, 44100, 2),
    "sample_10s_audio-wav.wav": ("wav", "pcm", 10.0, 44100, 2),
    "sample_10s_audio-x-flac.flac": ("flac", "flac", 10.0, 44100, 2),
    "sample_10s_audio-x-wav.wav": ("wav", "pcm", 10.0, 44100, 2),
    "sample_10s_video-avi.avi": ("avi", "avi", 10.0, None, None),
    "sample_10s_video-mp4.mp4": ("mp4", "aac", 10.0, 44100, 2),
    "sample_10s_video-quicktime.mov": ("mov", "aac", 10.0, 44100, 2),
    "sample_10s_video-x-msvideo.avi": ("avi", "avi", 10.0, None, None),
    "silent_1s.wav": ("wav", "pcm", 1.0, 44100, 1),
}

pytestmark = pytest.mark.requires_reference(SRC)


@pytest.mark.parametrize("name", sorted(EXPECT))
def test_reference_corpus_probe(name: str) -> None:
    container, codec, dur, rate, channels = EXPECT[name]
    m = probe_media((SRC / name).read_bytes())
    assert m["container"] == container
    assert m["codec"] == codec
    # encoder padding makes compressed durations land within ±1% of 10 s
    assert m["duration_s"] == pytest.approx(dur, rel=0.01)
    assert m["sample_rate"] == rate
    assert m["channels"] == channels


def test_wav_roundtrip_stdlib_writer() -> None:
    """Bytes written by the stdlib wave module parse back exactly."""
    for rate, ch, n in [(8000, 1, 80), (44100, 2, 441), (22050, 1, 2205)]:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(b"\x00\x00" * n * ch)
        m = probe_media(buf.getvalue())
        assert m["container"] == "wav" and m["codec"] == "pcm"
        assert m["sample_rate"] == rate and m["channels"] == ch
        assert m["bits"] == 16
        assert m["duration_s"] == pytest.approx(n / rate)


def test_malformed_payloads_never_raise() -> None:
    victims = [
        b"", b"x", b"RIFF", b"RIFF\x00\x00\x00\x00WAVE",  # truncated wav
        b"fLaC" + b"\x00" * 4,                             # truncated flac
        b"OggS" + b"\xff" * 30,                            # garbage ogg
        b"\xff\xfb" + b"\x00" * 6,                         # bad mp3 frame
        b"\x00\x00\x00\x08ftypM4A ",                       # mp4, no moov
        struct.pack(">I", 2**31) + b"moov",                # lying box size
        bytes(range(256)) * 4,
    ]
    for v in victims:
        m = probe_media(v)
        assert isinstance(m, dict) and "container" in m


def test_sniff_rejects_text() -> None:
    assert sniff_media(b"hello world, this is not audio") is None
    assert sniff_media(b"<html><body>nope</body></html>") is None
