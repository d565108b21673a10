"""Minimal PDF text + metadata extractor (SURVEY.md §2.2 M5).

The reference uses ``smalot/pdfparser`` (Graby.php:652-693) to pull text,
Title, Author and CreationDate from PDF responses.  No PDF library ships in
this environment, so this is a small from-scratch reader sufficient for the
reference fixtures (tests/fixtures/document1.pdf, Document1_pdfcreator.pdf,
content/http___img3.free.fr...documentation.pdf): object scan, FlateDecode
streams, BT/ET text runs with Tj/TJ/'/" operators, literal and hex strings,
ToUnicode CMaps (bfchar/bfrange) for subset-encoded fonts, and the
Info-dictionary metadata keys.

Object streams (``/Type /ObjStm``, PDF 1.5+) are expanded: modern
producers compress most non-stream objects — including the Info
dictionary the metadata keys live in — inside a FlateDecode stream whose
header is ``N`` (objnum, offset) pairs followed at ``/First`` by the
object bodies, so a raw-byte scan alone goes metadata-blind on them.
Contained objects can never themselves hold streams (ISO 32000-1 §7.5.7),
so expansion only needs to feed the metadata search space.

Unsupported constructs degrade to partial/empty text, never raise.  Cost
is bounded on hostile input: every scan is linear in the bytes scanned
(an opening marker — ``obj``, ``stream``, ``BT``, ``beginbf*``, ``[``,
``(`` — is never rescanned to the end of its block for a missing closer),
and inflated stream bytes are capped per document at
``MAX_INFLATED_BYTES`` whatever the deflate ratio.  The cap is spent in
file order by every FlateDecode stream, images included: the stream that
reaches it is cut short and all later ones are skipped, so their page
text, ToUnicode CMaps and ObjStm objects (with any Info metadata in them)
are lost.  The largest reference PDF inflates to 2.4 MiB in all.
"""

from __future__ import annotations

import re
import zlib
from bisect import bisect_right
from collections.abc import Iterator
from dataclasses import dataclass

__all__ = ["PdfContent", "extract_pdf"]


@dataclass
class PdfContent:
    text: str = ""
    title: str | None = None
    author: str | None = None
    creation_date: str | None = None


# Inflated stream bytes one document may produce, all streams together: a
# 10 MB deflate bomb would otherwise inflate ~1000x inside one worker.  The
# peak is about twice this, as zlib copies its output blocks into one bytes.
MAX_INFLATED_BYTES = 64 << 20

# ``N G obj`` header; the lookbehind starts it at the head of a digit run
# only (a later start in the run ends at the same place, so it would
# rescan the run for the same outcome)
_OBJ_HEAD_RE = re.compile(rb"(?<!\d)\d+\s+\d+\s+obj")
_STREAM_KW_RE = re.compile(rb"stream\r?\n")
_INFO_KEY_RE = {
    "title": re.compile(rb"/Title\s*(?:\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]+)>)"),
    "author": re.compile(rb"/Author\s*(?:\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]+)>)"),
    "creation_date": re.compile(rb"/CreationDate\s*(?:\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]+)>)"),
}

_ESCAPES = {
    b"n": b"\n",
    b"r": b"\r",
    b"t": b"\t",
    b"b": b"\b",
    b"f": b"\f",
    b"(": b"(",
    b")": b")",
    b"\\": b"\\",
}


def _unescape_pdf_string(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out.extend(_ESCAPES[nxt])
                i += 2
                continue
            if nxt.isdigit():
                octal = raw[i + 1 : i + 4]
                j = 0
                while j < len(octal) and chr(octal[j]).isdigit():
                    j += 1
                out.append(int(octal[:j], 8) & 0xFF)
                i += 1 + j
                continue
            i += 1
            continue
        out.extend(c)
        i += 1
    return bytes(out)


def _decode_meta_bytes(raw: bytes) -> str:
    if raw.startswith(b"\xfe\xff"):
        try:
            return raw[2:].decode("utf-16-be", "replace")
        except Exception:
            return ""
    return raw.decode("latin-1", "replace")


def _inflate(data: bytes, max_length: int) -> bytes | None:
    """At most ``max_length`` (> 0) inflated bytes; a truncated stream
    yields what it holds, a corrupt one None."""
    try:
        return zlib.decompressobj().decompress(data.rstrip(b"\r\n"), max_length)
    except zlib.error:
        return None


def _spans(data: bytes, start: bytes, end: bytes) -> Iterator[bytes]:
    """The bytes between each ``start`` and the first ``end`` after it, as
    ``re.findall(start + b"(.*?)" + end, data, re.S)`` finds them, in
    linear time: once one ``start`` has no ``end`` after it no later one
    has, so the scan stops instead of rescanning the tail from each."""
    pos = 0
    while (i := data.find(start, pos)) >= 0:
        j = data.find(end, i + len(start))
        if j < 0:
            return
        yield data[i + len(start) : j]
        pos = j + len(end)


def _object_bodies(data: bytes) -> Iterator[bytes]:
    """Body of each ``N G obj … endobj`` object, as the lazy
    ``(\\d+)\\s+(\\d+)\\s+obj(.*?)endobj`` findall found them."""
    pos = 0
    while m := _OBJ_HEAD_RE.search(data, pos):
        j = data.find(b"endobj", m.end())
        if j < 0:
            return
        yield data[m.end() : j]
        pos = j + len(b"endobj")


# -- ToUnicode CMap -----------------------------------------------------------

_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEXTRIPLE_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")


def _parse_cmap(data: bytes) -> dict[int, str]:
    """code → unicode string from bfchar/bfrange sections."""
    mapping: dict[int, str] = {}

    def uni(hexs: bytes) -> str:
        try:
            raw = bytes.fromhex(hexs.decode("ascii"))
            return raw.decode("utf-16-be", "replace")
        except Exception:
            return ""

    for section in _spans(data, b"beginbfchar", b"endbfchar"):
        for src, dst in _HEXPAIR_RE.findall(section):
            mapping[int(src, 16)] = uni(dst)
    for section in _spans(data, b"beginbfrange", b"endbfrange"):
        for lo, hi, dst in _HEXTRIPLE_RE.findall(section):
            lo_i, hi_i, dst_i = int(lo, 16), int(hi, 16), int(dst, 16)
            if hi_i - lo_i > 65535:
                continue
            for offset in range(hi_i - lo_i + 1):
                mapping[lo_i + offset] = chr(dst_i + offset)
    return mapping


# -- content-stream text ------------------------------------------------------

# One text-showing or line-moving operator per match.  The openers of a
# literal string and of an array show match their opening byte only and are
# completed in ``_text_ops``: as full alternatives they would rescan to the
# end of the block from every opener that lacks a closer.
_TEXT_OP_RE = re.compile(
    rb"(\()"  # literal string show
    rb"|<([0-9A-Fa-f\s]+)>\s*(Tj|'|\")"  # hex string show
    rb"|(\[)"  # array show, up to the next `]\s*TJ`
    rb"|(T\*|TD|Td)",  # line moves
    re.S,
)
_TJ_END_RE = re.compile(rb"\]\s*TJ")
# A literal string and, if it is shown, its closing ``)`` and operator.  The
# body holds a ``(`` only escaped, as ``\(``; a string opened there runs to
# the same end, so it is shown exactly when the outer one is.
_LITERAL_SHOW_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)(\)\s*(?:Tj|'|\"))?", re.S)
# One TJ array item; group 2 is empty for a string no ``)`` closes.  No
# re.S: inside an array a backslash escapes no newline.
_ARRAY_ITEM_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)(\)?)|<([0-9A-Fa-f\s]+)>|(-?\d+(?:\.\d+)?)")
_HEX_OR_NUMBER_RE = re.compile(rb"<([0-9A-Fa-f\s]+)>|(-?\d+(?:\.\d+)?)")


def _text_ops(bt: bytes) -> Iterator[tuple[bytes | None, bytes | None, bytes | None, bytes | None]]:
    """``(literal, hex, array, move)``, one of them set, for each operator
    of a BT block, matched exactly as ``finditer`` matched the former single
    regex (whose literal and ``\\[(.*?)\\]\\s*TJ`` array alternatives
    rescanned the block from every unclosed opener) but in linear time.

    A ``[`` pairs with the first ``]\\s*TJ`` after it, from a list built
    once per block; without one the search resumes a byte on, as
    ``finditer`` did.  A ``(`` whose string is not shown is scanned once:
    every ``(`` inside that string is skipped."""
    tj_ends = list(_TJ_END_RE.finditer(bt))
    closers = [m.start() for m in tj_ends]
    dead = 0  # a string opened before this offset is not shown
    pos = 0
    while m := _TEXT_OP_RE.search(bt, pos):
        at, pos = m.start(), m.end()
        if m.group(1):
            if at < dead:
                continue
            show = _LITERAL_SHOW_RE.match(bt, at)
            if show.group(2) is None:
                dead = show.end()
                continue
            yield show.group(1), None, None, None
            pos = show.end()
        elif m.group(4):
            i = bisect_right(closers, at)
            if i < len(tj_ends):
                yield None, None, bt[at + 1 : closers[i]], None
                pos = tj_ends[i].end()
        else:
            yield None, m.group(2), None, m.group(5)


def _array_items(array: bytes) -> list[tuple[bytes, bytes, bytes]]:
    """``(literal, hex, number)`` for each item of a TJ array, exactly as
    the former ``findall`` without the empty group 2, in linear time.  That
    regex rescanned an unclosed string from each ``(`` inside it; all of
    them fail alike, so only the hex and number items it found inside the
    string are kept."""
    items = []
    for lit, close, hexs, num in _ARRAY_ITEM_RE.findall(array):
        if close or hexs or num:
            items.append((lit, hexs, num))
        else:
            items.extend((b"", h, n) for h, n in _HEX_OR_NUMBER_RE.findall(lit))
    return items


def _decode_string(raw: bytes, cmap: dict[int, str] | None, two_byte: bool) -> str:
    if cmap:
        if two_byte:
            codes = [int.from_bytes(raw[i : i + 2], "big") for i in range(0, len(raw) - 1, 2)]
        else:
            codes = list(raw)
        if any(c in cmap for c in codes):
            return "".join(cmap.get(c, "") for c in codes)
    return raw.decode("latin-1", "replace")


def _decode_hex(hexs: bytes, cmap: dict[int, str] | None, two_byte: bool) -> str:
    clean = re.sub(rb"\s+", b"", hexs)
    if len(clean) % 2:
        clean += b"0"
    return _decode_string(bytes.fromhex(clean.decode("ascii")), cmap, two_byte)


def _extract_stream_text(data: bytes, cmap: dict[int, str] | None) -> list[str]:
    two_byte = bool(cmap) and max(cmap.keys(), default=0) > 255
    lines: list[str] = []
    for bt in _spans(data, b"BT", b"ET"):
        parts: list[str] = []
        seen = False  # some part holds a non-space character
        for lit, hexs, array, move in _text_ops(bt):
            if move is not None:
                if seen:
                    lines.append("".join(parts))
                    parts, seen = [], False
                continue
            first = len(parts)
            if lit is not None:
                parts.append(_decode_string(_unescape_pdf_string(lit), cmap, two_byte))
            elif hexs is not None:
                parts.append(_decode_hex(hexs, cmap, two_byte))
            else:
                for alit, ahex, anum in _array_items(array):
                    if alit:
                        parts.append(_decode_string(_unescape_pdf_string(alit), cmap, two_byte))
                    elif ahex:
                        parts.append(_decode_hex(ahex, cmap, two_byte))
                    elif anum:
                        # large negative kerning inside TJ ≈ an inter-word gap
                        try:
                            if float(anum) <= -120:
                                parts.append(" ")
                        except ValueError:
                            pass
            seen = seen or any(part.strip() for part in parts[first:])
        if seen:
            lines.append("".join(parts))
    return lines


_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def _expand_objstm(dict_part: bytes, content: bytes) -> list[bytes]:
    """Bodies of the objects packed in one /ObjStm stream.

    The stream header is ``/N`` whitespace-separated (objnum, offset)
    integer pairs; object bodies start at ``/First`` and each runs to the
    next object's offset (last one to end-of-stream).  Malformed headers
    yield an empty list rather than raising (the caller's tolerance
    contract)."""
    n_m = _OBJSTM_N_RE.search(dict_part)
    first_m = _OBJSTM_FIRST_RE.search(dict_part)
    if not n_m or not first_m:
        return []
    n, first = int(n_m.group(1)), int(first_m.group(1))
    if n <= 0 or first <= 0 or first > len(content):
        return []
    header_ints = content[:first].split()
    if len(header_ints) < 2 * n:
        return []
    try:
        offsets = [int(header_ints[2 * i + 1]) for i in range(n)]
    except ValueError:
        return []
    bodies: list[bytes] = []
    for i, off in enumerate(offsets):
        start = first + off
        end = first + offsets[i + 1] if i + 1 < n else len(content)
        if 0 <= start <= end <= len(content):
            bodies.append(content[start:end])
    return bodies


def extract_pdf(data: bytes) -> PdfContent:
    result = PdfContent()
    if not data.startswith(b"%PDF"):
        return result
    try:
        # object scan (xref-free; tolerant of linearized files)
        streams: list[tuple[bytes, bytes]] = []  # (dict part, inflated data)
        cmaps: list[dict[int, str]] = []
        objstm_bodies: list[bytes] = []
        budget = MAX_INFLATED_BYTES
        for body in _object_bodies(data):
            sm = _STREAM_KW_RE.search(body)
            if not sm:
                continue
            end = body.find(b"endstream", sm.end())
            if end < 0:
                continue
            dict_part, raw = body[: sm.start()], body[sm.end() : end]
            if b"FlateDecode" in dict_part:
                content = _inflate(raw, budget) if budget > 0 else None
                if content is None:
                    continue
                budget -= len(content)
            else:
                content = raw.rstrip(b"\r\n")
            if b"/ObjStm" in dict_part:
                objstm_bodies.extend(_expand_objstm(dict_part, content))
                continue
            if b"beginbfchar" in content or b"beginbfrange" in content:
                cmap = _parse_cmap(content)
                if cmap:
                    cmaps.append(cmap)
                continue
            if b"BT" in content:
                streams.append((dict_part, content))

        # merge all ToUnicode maps (per-font Tf tracking omitted — subset
        # fonts in one document overwhelmingly share the glyph order the
        # producer emitted, which holds for all reference fixtures)
        merged: dict[int, str] = {}
        for cmap in cmaps:
            for code, uni in cmap.items():
                merged.setdefault(code, uni)

        lines: list[str] = []
        for _dict_part, content in streams:
            lines.extend(_extract_stream_text(content, merged or None))
        result.text = "\n".join(line for line in lines if line.strip())

        # metadata lives in dictionary objects — which since PDF 1.5 are
        # routinely packed into object streams; search raw bytes first
        # (classic files), the expanded ObjStm bodies second
        meta_space = data
        if objstm_bodies:
            meta_space = data + b"\n" + b"\n".join(objstm_bodies)
        for attr, pattern in _INFO_KEY_RE.items():
            m = pattern.search(meta_space)
            if m:
                raw = m.group(1)
                if raw is not None:
                    value = _decode_meta_bytes(_unescape_pdf_string(raw)).strip()
                else:
                    hexs = re.sub(rb"\s+", b"", m.group(2) or b"")
                    value = _decode_meta_bytes(bytes.fromhex(hexs.decode("ascii"))).strip()
                if value:
                    setattr(result, attr, _normalize_meta(attr, value))
    except Exception:
        pass
    return result


def _normalize_meta(attr: str, value: str) -> str:
    if attr == "creation_date" and value.startswith("D:"):
        # D:YYYYMMDDHHmmSSOHH'mm' → ISO-ish string the date validator accepts
        raw = value[2:]
        m = re.match(r"(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?([+\-Z].*)?", raw)
        if m:
            y, mo, d, h, mi, s, tz = m.groups()
            iso = f"{y}-{mo or '01'}-{d or '01'}T{h or '00'}:{mi or '00'}:{s or '00'}"
            if tz and tz != "Z":
                tz = tz.replace("'", ":").rstrip(":")
                iso += tz
            elif tz == "Z":
                iso += "+00:00"
            return iso
    return value
