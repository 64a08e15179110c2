"""Adversarial-input hardening for the pure-python decoders: random and
mutated bytes must ALWAYS raise one of the narrow exception types a
Spark UDF maps to NULL — any other exception type (KeyError,
ZeroDivisionError, OverflowError, ...) would crash a crawl-scale job on
one corrupt blob."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from driftmind_spark.kernels.imagecodec import decode_jpeg_pixels
from tests.test_jpeg_codec import _encode_jpeg

OK = (NotImplementedError, ValueError, struct.error, IndexError, EOFError)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_random_bytes_never_crash(data):
    try:
        decode_jpeg_pixels(data)
    except OK:
        pass


_JPEG = _encode_jpeg(
    np.random.RandomState(3).randint(0, 256, size=(8, 10, 3)).astype(np.uint8))


@settings(max_examples=300, deadline=None)
@given(
    pos=st.integers(min_value=0, max_value=10 ** 6),
    val=st.integers(min_value=0, max_value=255),
    trunc=st.integers(min_value=1, max_value=10 ** 6),
)
def test_mutated_valid_blobs_decode_or_raise_cleanly(pos, val, trunc):
    """Flip one byte and/or truncate a VALID file: the decoder must
    either still decode or raise a clean, expected error."""
    blob = bytearray(_JPEG)
    blob[pos % len(blob)] = val
    data = bytes(blob)[: max(1, trunc % (len(blob) + 1))]
    try:
        decode_jpeg_pixels(data)
    except OK:
        pass


# ---- the MAIN pipeline path: extraction over hostile crawl bytes ----------

from driftmind_spark.kernels.extract import extract_any, extract_text
from driftmind_spark.kernels.fileformats import render_docx, render_pdf


@settings(max_examples=300, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=400),
    ext=st.sampled_from(["", ".html", ".txt", ".md", ".pdf", ".docx", ".bin"]),
)
def test_extract_any_never_crashes_on_random_bytes(data, ext):
    """extract_any is the stage-0 kernel over 100 TB of crawl bytes: it
    must return a string for ANY payload, never raise."""
    out = extract_any(f"https://h.example/x{ext}", data)
    assert isinstance(out, str)


_PDF = render_pdf(["hello pdf world"], {"Title": "t"})
_DOCX = render_docx(["hello docx world"], [])
_HTML = (b"<html><head><title>t</title></head><body><nav>n</nav>"
         b"<main><p>Real content sentence.</p></main>"
         b"<footer>f</footer></body></html>")


@settings(max_examples=300, deadline=None)
@given(
    kind=st.sampled_from(["pdf", "docx", "html"]),
    pos=st.integers(min_value=0, max_value=10 ** 6),
    val=st.integers(min_value=0, max_value=255),
    trunc=st.integers(min_value=1, max_value=10 ** 6),
)
def test_extract_mutated_valid_files_never_crash(kind, pos, val, trunc):
    blob, url = {
        "pdf": (_PDF, "https://h.example/a.pdf"),
        "docx": (_DOCX, "https://h.example/a.docx"),
        "html": (_HTML, "https://h.example/a.html"),
    }[kind]
    b = bytearray(blob)
    b[pos % len(b)] = val
    data = bytes(b)[: max(1, trunc % (len(b) + 1))]
    out = extract_any(url, data)
    assert isinstance(out, str)
    ok, text, err = extract_text(url, data)
    assert isinstance(text, str) and isinstance(err, str)


# ---- pinned regressions from the round-4 self-review ----------------------

def test_jpeg_corrupt_dc_size_raises_cleanly():
    """A DHT assigning a DC magnitude category > 15 must be a
    ValueError, never an OverflowError from a 200-bit integer."""
    def chunk(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dht_dc = bytes([0x00]) + bytes([1] + [0] * 15) + bytes([200])  # sym=200
    dht_ac = bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x00])
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    data = (b"\xff\xd8"
            + chunk(0xDB, bytes([0]) + bytes([1] * 64))
            + chunk(0xC0, sof) + chunk(0xC4, dht_dc) + chunk(0xC4, dht_ac)
            + chunk(0xDA, sos) + b"\x00" * 40 + b"\xff\xd9")
    with pytest.raises(ValueError):
        decode_jpeg_pixels(data)
