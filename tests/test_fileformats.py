"""Real PDF/DOCX byte-stream extraction (S4/S5 byte-level gap from the
round-1 verdict): codec round-trips, the reference's dispatch + flatten
semantics over real bytes, the image-only metadata fallback, and the
mixed-format synth corpus parity contract — pure-kernel and through the
Spark extract stage — and adversarial-input hardening: random and mutated
bytes must ALWAYS come back as a string, since any exception would crash
a crawl-scale job on one corrupt blob."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from driftmind_spark.kernels import extract as ex
from driftmind_spark.kernels.extract import extract_any, extract_text
from driftmind_spark.kernels.fileformats import (
    parse_docx,
    parse_pdf,
    render_docx,
    render_pdf,
)


def test_pdf_roundtrip_escapes_and_unicode():
    pages = [
        ["Hello (world) \\ back\\slash", "Zeile mit ü and ß", ""],
        ["em dash — and check ✓", "tab\there"],
    ]
    meta = {"Title": "A (test) doc", "Author": "Müller"}
    for compress in (False, True):
        data = render_pdf(pages, meta, compress=compress)
        got_pages, got_meta = parse_pdf(data)
        assert got_pages == ["\n".join(p) for p in pages]
        assert got_meta == meta


def test_pdf_octal_and_tj_array():
    # hand-written object exercising octal escapes and TJ arrays
    content = b"BT (A\\051B) Tj T* [(kern) -120 (ed)] TJ ET"
    pdf = (
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>" % (len(content), content)
    )
    pages, _ = parse_pdf(pdf)
    assert pages == ["A)B\nkerned"]


def test_pdf_image_only_metadata_fallback():
    data = render_pdf([[]], {"Title": "Scanned", "Producer": "scanner"})
    ok, text, err = ex.extract_pdf_bytes(data)
    assert ok and err == ""
    assert text.startswith("Title: Scanned")
    assert "Pages: 1" in text
    assert "no extractable text" in text


def test_pdf_malformed_bytes_is_error_not_crash():
    ok, text, err = ex.extract_text("https://x/doc.pdf", b"%PDF-garbage")
    # no pages, no metadata -> flatten_pdf's final error branch
    assert not ok and text == ""
    assert "no extractable text" in err or "Error processing PDF" in err


def test_docx_roundtrip_tables_and_flatten():
    paras = ["First para", "Zwei ß", 'a<b & "q"']
    tables = [[["r1c1", "r1c2"], ["r2c1", ""]], [["single"]]]
    data = render_docx(paras, tables)
    assert parse_docx(data) == (paras, tables)
    ok, text, err = ex.extract_docx_bytes(data)
    assert ok and err == ""
    # reference flattening: paragraph lines, " | " rows (empty cells
    # dropped), a blank spacing line BETWEEN tables, trailing spacing
    # trimmed
    assert text == 'First para\nZwei ß\na<b & "q"\nr1c1 | r1c2\nr2c1\n\nsingle'


def test_docx_malformed_bytes_is_error():
    ok, _, err = ex.extract_text("https://x/doc.docx", b"not a zip")
    assert not ok and "Error processing Word document" in err


def test_dispatch_by_extension():
    assert ex.extract_text("https://x/a.txt", "plain text".encode())[1] == "plain text"
    pdf = render_pdf([["pdf line"]])
    assert ex.extract_text("https://x/a.pdf", pdf)[1] == "pdf line"
    docx = render_docx(["docx para"])
    assert ex.extract_text("https://x/a.docx", docx)[1] == "docx para"
    assert not ex.extract_text("https://x/a.exe", b"x")[0]


@pytest.fixture(scope="module")
def mixed_corpus(tmp_path_factory):
    from driftmind_spark.synth import write_corpus

    out = str(tmp_path_factory.mktemp("mixed"))
    write_corpus(out, n=250, seed=42, mixed_formats=True)
    return out


def test_mixed_corpus_byte_parity(mixed_corpus):
    """input_hint contract over real file bytes: extract_any(url,
    payload) == text for EVERY page, all four formats present."""
    import pyarrow.parquet as pq

    pages = pq.read_table(f"{mixed_corpus}/pages.parquet")
    fmts = set()
    for u, h, t in zip(
        pages.column("url").to_pylist(),
        pages.column("html").to_pylist(),
        pages.column("text").to_pylist(),
    ):
        fmts.add(u.rsplit(".", 1)[-1])
        assert ex.extract_any(u, h) == t, u
    assert fmts == {"html", "pdf", "docx", "txt"}


def test_spark_extract_stage_handles_mixed_formats(spark, mixed_corpus):
    """The Spark extract stage dispatches per url: its output must equal
    the expected text column byte-for-byte for every format."""
    from driftmind_spark.operators.chunking import extract_text_table

    pages = spark.read.parquet(f"{mixed_corpus}/pages.parquet")
    got = extract_text_table(pages).withColumnRenamed("text", "got")
    joined = got.join(
        pages.select("url", F.col("text").alias("expected")), "url"
    )
    assert joined.count() == 250
    assert joined.filter(F.col("got") != F.col("expected")).count() == 0


# ---- adversarial bytes through the stage-0 extraction kernel ---------------

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
