"""PDF route (M5) tests against the reference PDF fixtures
(GrabyFunctionalTest::testPdfFile expectations)."""

import hashlib
import os
import re
import subprocess
import sys
import tracemalloc
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from graby_spark import pdf as pdf_mod
from graby_spark.extract import ExtractOptions, extract_one
from graby_spark.pdf import extract_pdf
from graby_spark.siteconfig import RuleSet

FIXTURES = os.path.join(os.path.dirname(__file__), "..", "fixtures")


def load(path):
    with open(os.path.join(FIXTURES, path), "rb") as fh:
        return fh.read()


def test_documentation_pdf():
    """GrabyFunctionalTest.php:82-101 expectations."""
    data = load("content/http___img3.free.fr_im_tv_telesites_documentation.pdf")
    r = extract_one(
        data,
        "http://img3.free.fr/im_tv/telesites/documentation.pdf",
        RuleSet({}),
        content_type="application/pdf",
    )
    assert r.title == "PDF"
    assert r.date == "2008-03-05T17:56:07+01:00"
    assert r.authors == []
    assert "Free 2008" in r.html
    assert "Free 2008" in r.summary
    assert not r.image


def test_document1_metadata():
    for name in ("document1.pdf", "Document1_pdfcreator.pdf"):
        pdf = extract_pdf(load(name))
        assert pdf.title == "Document1"
        assert pdf.author == "Sebastien MALOT"
        assert pdf.creation_date.startswith("2013-09-01")
        assert "Lorem ipsum dolor sit amet" in pdf.text


def test_document1_through_pipeline():
    r = extract_one(
        load("document1.pdf"),
        "http://example.com/document1.pdf",
        RuleSet({}),
        content_type="application/pdf",
    )
    assert r.title == "Document1"
    assert r.authors == ["Sebastien MALOT"]
    assert r.date == "2013-09-01T22:20:38+02:00"
    assert "Lorem ipsum" in r.html


def test_garbage_pdf_never_raises():
    for data in (b"", b"%PDF-1.4 garbage", b"not a pdf", b"%PDF" + b"\x00" * 100):
        pdf = extract_pdf(data)
        assert isinstance(pdf.text, str)


def _mini_pdf_with_objstm(info_in_objstm: bytes) -> bytes:
    """A PDF 1.5-style file: one FlateDecode content stream at top level
    (streams can never live inside an ObjStm) plus an object stream
    carrying the Info dictionary — the modern-producer layout a raw byte
    scan is metadata-blind to."""
    import zlib

    content = zlib.compress(b"BT (Hello ObjStm world) Tj ET")
    # two packed objects: a page-ish dict and the Info dict
    body1 = b"<< /Type /Page >>"
    offsets = f"7 0 8 {len(body1) + 1}".encode()
    packed = offsets + b"\n" + body1 + b"\n" + info_in_objstm
    first = len(offsets) + 1
    objstm = zlib.compress(packed)
    parts = [b"%PDF-1.5\n"]
    parts.append(
        b"1 0 obj << /Length %d /Filter /FlateDecode >> stream\n" % len(content)
        + content
        + b"\nendstream endobj\n"
    )
    parts.append(
        b"2 0 obj << /Type /ObjStm /N 2 /First %d /Length %d /Filter /FlateDecode >> stream\n"
        % (first, len(objstm))
        + objstm
        + b"\nendstream endobj\n"
    )
    parts.append(b"%%EOF\n")
    return b"".join(parts)


def test_objstm_metadata_extracted():
    info = b"<< /Title (Packed Title) /Author (Obj Stm) /CreationDate (D:20240102030405Z) >>"
    pdf = extract_pdf(_mini_pdf_with_objstm(info))
    assert "Hello ObjStm world" in pdf.text
    assert pdf.title == "Packed Title"
    assert pdf.author == "Obj Stm"
    assert pdf.creation_date == "2024-01-02T03:04:05+00:00"


def test_objstm_malformed_headers_never_raise():
    import zlib

    base = _mini_pdf_with_objstm(b"<< /Title (x) >>")
    # corrupt the /First offset beyond the stream; the expander must bail
    broken = base.replace(b"/N 2 /First", b"/N 2 /First 99999 %")
    pdf = extract_pdf(broken)
    assert "Hello ObjStm world" in pdf.text
    # header ints not matching /N
    objstm = zlib.compress(b"7 0\nonly-one-pair-for-n2")
    raw = (
        b"%PDF-1.5\n2 0 obj << /Type /ObjStm /N 2 /First 4 /Length "
        + str(len(objstm)).encode()
        + b" /Filter /FlateDecode >> stream\n"
        + objstm
        + b"\nendstream endobj\n%%EOF"
    )
    assert extract_pdf(raw).title is None


# -- exact output pins ---------------------------------------------------------

# (sha256 of text, title, author, creation_date) per reference PDF
PDF_PINS = {
    "document1.pdf": (
        "47ef7f1b2ae8311209eb57e110177791c4a835deea2c89e6d00d4b7093a66e01",
        "Document1",
        "Sebastien MALOT",
        "2013-09-01T22:20:38+02:00",
    ),
    "Document1_pdfcreator.pdf": (
        "47ef7f1b2ae8311209eb57e110177791c4a835deea2c89e6d00d4b7093a66e01",
        "Document1",
        "Sebastien MALOT",
        "2013-09-01T22:20:38+02:00",
    ),
    "content/http___img3.free.fr_im_tv_telesites_documentation.pdf": (
        "cdd012411e24614342523ccf9a08cd9eb498149f05ebf448027ffb4986fd5a28",
        None,
        None,
        "2008-03-05T17:56:07+01:00",
    ),
}


@pytest.mark.parametrize("name", sorted(PDF_PINS))
def test_pdf_output_pinned(name):
    pdf = extract_pdf(load(name))
    digest = hashlib.sha256(pdf.text.encode("utf-8")).hexdigest()
    assert (digest, pdf.title, pdf.author, pdf.creation_date) == PDF_PINS[name]


# -- linear scans, checked against the lazy regexes they replace ---------------

# the former single-regex tokenizer: its ``[(.*?)]\s*TJ`` branch rescans to
# the end of the block from every ``[`` that has no ``]…TJ`` after it
OLD_TEXT_OP_RE = re.compile(
    rb"\(((?:[^()\\]|\\.)*)\)\s*(Tj|'|\")"
    rb"|<([0-9A-Fa-f\s]+)>\s*(Tj|'|\")"
    rb"|\[(.*?)\]\s*TJ"
    rb"|(T\*|TD|Td)",
    re.S,
)
OLD_ARRAY_ITEM_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]+)>|(-?\d+(?:\.\d+)?)")
OLD_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj(.*?)endobj", re.S)
OLD_BT_ET_RE = re.compile(rb"BT(.*?)ET", re.S)

OP_BYTES = st.binary(max_size=40).map(lambda b: bytes(b"()[]<>\\TJjd*D'\" 0a1f\n"[i % 21] for i in b))
OP_TOKENS = st.lists(
    st.sampled_from([b"(", b")", b"[", b"]", b"<", b">", b"\\", b"\\(", b"\\\n", b"TJ", b"Tj",
                     b"Td", b"T*", b"'", b" ", b"\n", b"0a", b"-130", b"1.5"]),
    max_size=24,
).map(b"".join)
OBJ_TOKENS = st.lists(
    st.sampled_from([b"1", b"12", b" ", b"\n", b"obj", b"endobj", b"x", b"BT", b"ET", b"B", b"T"]),
    max_size=20,
).map(b"".join)


@settings(max_examples=3000, deadline=None)
@given(st.one_of(OP_BYTES, OP_TOKENS))
def test_text_ops_match_old_tokenizer(bt):
    old = [(m.group(1), m.group(3), m.group(5), m.group(6)) for m in OLD_TEXT_OP_RE.finditer(bt)]
    assert list(pdf_mod._text_ops(bt)) == old


@settings(max_examples=2000, deadline=None)
@given(st.one_of(OP_BYTES, OP_TOKENS))
def test_array_items_match_old_regex(array):
    assert pdf_mod._array_items(array) == OLD_ARRAY_ITEM_RE.findall(array)


@settings(max_examples=2000, deadline=None)
@given(OBJ_TOKENS)
def test_object_and_bt_scans_match_old_regexes(data):
    assert list(pdf_mod._object_bodies(data)) == [body for _n, _g, body in OLD_OBJ_RE.findall(data)]
    assert list(pdf_mod._spans(data, b"BT", b"ET")) == OLD_BT_ET_RE.findall(data)


# -- hostile inputs: linear time, bounded memory ------------------------------

# Each builds a PDF of size parameter n.  The n given is where the lazy
# regexes these scans replace take 30 s or more (extrapolated at their 4x
# per doubling from n = 4,000 and 8,000 on a 4-core VM).  Each case runs in
# a subprocess under a timeout, so a quadratic scan fails instead of hanging.
HOSTILE = {
    # ~300-byte deflate stream of 200,000 unclosed TJ arrays
    "tj_bomb": ("stream(b'BT ' + b'[' * n + b' ET', flate=True)", 200_000),
    "obj_without_endobj": ("b'%PDF-1.4\\n' + b'1 0 obj\\n' * n", 24_000),
    "bt_without_et": ("stream(b'BT ' * n)", 48_000),
    "blank_lines": ("stream(b'BT ' + b'( ) Tj Td ' * n + b'ET')", 100_000),
    "escaped_parens": ("stream(b'BT (' + b'\\\\(' * n + b' ET')", 40_000),
    "escaped_parens_in_array": ("stream(b'BT [(' + b'\\\\(' * n + b'] TJ ET')", 40_000),
    "digit_run": ("b'%PDF-1.4\\n' + b'1' * n", 64_000),
    "stream_without_endstream": ("b'%PDF-1.4\\n1 0 obj ' + b'stream\\n' * n + b'endobj'", 32_000),
    "bfchar_without_end": ("stream(b'beginbfchar ' * n)", 24_000),
}

_TIMER = """
import sys, time, zlib
from graby_spark.pdf import extract_pdf

def stream(content, flate=False):
    head = b'<< /Filter /FlateDecode >>' if flate else b'<< >>'
    if flate:
        content = zlib.compress(content, 9)
    return b'%PDF-1.4\\n1 0 obj ' + head + b' stream\\n' + content + b'\\nendstream endobj\\n'

def per_call(data):
    calls, t0 = 0, time.perf_counter()
    while (elapsed := time.perf_counter() - t0) < 0.05 or not calls:
        extract_pdf(data)
        calls += 1
    return elapsed / calls

n, build = int(sys.argv[1]), eval('lambda n: ' + sys.argv[2])
docs = build(n), build(2 * n)
best = [float('inf'), float('inf')]
for _ in range(5):  # alternate sizes so drifting host load hits both alike
    best = [min(b, per_call(doc)) for b, doc in zip(best, docs)]
print(*best)
"""


@pytest.mark.parametrize("shape", sorted(HOSTILE))
def test_hostile_pdf_is_linear(shape):
    expr, n = HOSTILE[shape]
    out = subprocess.run(
        [sys.executable, "-c", _TIMER, str(n), expr],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=os.path.join(os.path.dirname(__file__), ".."),
        check=True,
    )
    at_n, at_2n = map(float, out.stdout.split())
    assert at_n < 2.0
    assert at_2n <= 3 * at_n


def test_deflate_bomb_inflates_within_cap():
    """Four streams that each inflate to 48 MiB: 192 MiB unbounded, capped
    at MAX_INFLATED_BYTES across all of them.  zlib copies its output
    blocks into one bytes object once, so the peak is at most twice the
    cap."""
    comp = zlib.compressobj(9)
    mib = b"\0" * (1 << 20)
    bomb = comp.compress(b"BT") + b"".join(comp.compress(mib) for _ in range(48)) + comp.flush()
    obj = b" 0 obj << /Filter /FlateDecode >> stream\n" + bomb + b"\nendstream endobj\n"
    data = b"%PDF-1.4\n" + b"".join(b"%d" % i + obj for i in range(1, 5))
    tracemalloc.start()
    try:
        pdf = extract_pdf(data)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert pdf.text == ""
    assert peak < 2 * pdf_mod.MAX_INFLATED_BYTES + (8 << 20)
