"""Adversarial-input hardening for the stage-0 extraction kernel: random
and mutated bytes must ALWAYS come back as a string — any exception
would crash a crawl-scale job on one corrupt blob."""

from hypothesis import given, settings
from hypothesis import strategies as st

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
