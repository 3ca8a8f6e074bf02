"""Real DOCX text extraction (SURVEY §2.7 X5; reference parser/docx.go).

The reference walks document paragraphs → runs → run text with gooxml
(parser/docx.go:11-31). A .docx file is a zip whose word/document.xml
holds ``<w:p>`` paragraphs containing ``<w:r>`` runs containing ``<w:t>``
text — all parseable with the stdlib (zipfile + ElementTree), so this is
a REAL extractor with zero external dependencies, run as a vectorized
``mapInPandas`` kernel over binary payloads.

Paragraph/run order maps to span order (SURVEY §1.2: the ordered
paragraph runs are the reference's span-sequence analogue).

PDF text extraction (X4; reference parser/pdf.go:11-53, which shells out
to ``pdfcpu extract -mode text`` then substring-searches the text files):
a REAL minimal extractor in pure Python — FlateDecode content streams
(zlib is stdlib) walked for BT…ET text blocks, decoding ``(…) Tj``,
``[…] TJ`` and ``<hex> Tj`` show operators with PDF string escapes.
Covers fixture-grade PDFs with standard simple fonts AND (round 3)
Identity-H CID-keyed Type0 fonts via their ToUnicode CMap (bfchar +
bfrange, the ``Tf``-tracking walker routes show strings through the
active font's map). CID text without a ToUnicode mapping extracts as
empty — boundary-tested — rather than wrong.
"""

from __future__ import annotations

import io
import zipfile
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from webcrawler_go_spark.schemas import DOCUMENTS

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"


def docx_paragraphs(payload: bytes) -> list[str]:
    """One string per paragraph: the concatenated run texts, in document
    order (parser/docx.go:23-28 iterates paragraphs → runs → text)."""
    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        xml_bytes = z.read("word/document.xml")
    root = ET.fromstring(xml_bytes)
    out = []
    for p in root.iter(f"{_W}p"):
        runs = [t.text or "" for r in p.iter(f"{_W}r") for t in r.iter(f"{_W}t")]
        text = "".join(runs)
        if text:
            out.append(text)
    return out


def docx_contains(payload: bytes, target: str) -> bool:
    """Search-mode predicate over DOCX content (parser/docx.go:25:
    substring over the extracted text)."""
    return any(target in p for p in docx_paragraphs(payload))


def extract_docx_documents(
    blobs: DataFrame, ref_col: str = "media_ref", payload_col: str = "payload"
) -> DataFrame:
    """(media_ref, payload binary) → documents(doc_id, spans): one text
    span per paragraph, offsets in paragraph order."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            spans = []
            for pl in b[payload_col]:
                paras = docx_paragraphs(bytes(pl))
                spans.append(
                    [
                        {"kind": "text", "text": t, "media_ref": "", "offset": i}
                        for i, t in enumerate(paras)
                    ]
                )
            yield pd.DataFrame({"doc_id": b[ref_col], "spans": spans})

    return blobs.mapInPandas(kernel, schema=DOCUMENTS)


def make_docx(paragraphs: list[str]) -> bytes:
    """Minimal valid .docx builder (test fixture helper — deterministic,
    no wall clock in the zip entries)."""
    doc = ET.Element(f"{_W}document")
    body = ET.SubElement(doc, f"{_W}body")
    for text in paragraphs:
        p = ET.SubElement(body, f"{_W}p")
        # split each paragraph into two runs to exercise run-concat order
        mid = max(1, len(text) // 2)
        for part in (text[:mid], text[mid:]):
            r = ET.SubElement(p, f"{_W}r")
            t = ET.SubElement(r, f"{_W}t")
            t.text = part
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        info = zipfile.ZipInfo("word/document.xml", date_time=(2026, 1, 1, 0, 0, 0))
        z.writestr(info, ET.tostring(doc, xml_declaration=True, encoding="unicode"))
    return buf.getvalue()


# ---------------------------------------------------------------------------
# PDF (X4) — parser/pdf.go:11-53 re-expressed without the pdfcpu binary
# ---------------------------------------------------------------------------

import re
import zlib

from webcrawler_go_spark.functions.media_codecs import _paeth, png_unfilter

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.S)
_BT_RE = re.compile(rb"BT(.*?)ET", re.S)
# (…) literal strings with escapes, <…> hex strings — each followed by a
# show operator (Tj, ', ") or inside a […] TJ array
_SHOW_RE = re.compile(
    rb"\(((?:[^()\\]|\\.)*)\)\s*(?:Tj|'|\")"
    rb"|<([0-9A-Fa-f\s]+)>\s*(?:Tj|'|\")"
    rb"|\[((?:\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>|[^\]])*)\]\s*TJ",
    re.S,
)
_ARRAY_STR_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]+)>", re.S)

_ESCAPES = {
    ord("n"): 10, ord("r"): 13, ord("t"): 9, ord("b"): 8, ord("f"): 12,
    ord("("): 40, ord(")"): 41, ord("\\"): 92,
}


def _unescape_pdf_bytes(s: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(s):
        c = s[i]
        if c == 0x5C and i + 1 < len(s):  # backslash
            n = s[i + 1]
            if n in _ESCAPES:
                out.append(_ESCAPES[n])
                i += 2
            elif 0x30 <= n <= 0x37:  # \ddd octal, 1-3 digits
                j = i + 1
                end = min(len(s), i + 4)
                while j < end and 0x30 <= s[j] <= 0x37:
                    j += 1
                out.append(int(s[i + 1 : j], 8) & 0xFF)
                i = j
            elif n in (0x0A, 0x0D):  # line continuation
                i += 2
            else:
                out.append(n)
                i += 2
        else:
            out.append(c)
            i += 1
    return bytes(out)


def _hex_bytes(h: bytes) -> bytes:
    h = re.sub(rb"\s", b"", h)
    if len(h) % 2:
        h += b"0"  # PDF spec: odd-length hex pads with 0
    return bytes.fromhex(h.decode("ascii"))


# ---------------------------------------------------------------------------
# Stream filters (round-4 directive #6; parser/pdf.go parity: pdfcpu
# decodes LZW/RunLength/ASCIIHex/ASCII85 streams — these are the stdlib
# re-implementations from the public PDF 1.7 spec §7.4, plus matching
# encoders for fixtures)
# ---------------------------------------------------------------------------


# Per-stream decoded-size budget. pdf_text_blocks runs on real fetched
# bytes inside the http kernel, so a few-KB malicious Flate/LZW stream
# could otherwise inflate to GBs and OOM an executor — same threat model
# as _PNG_MAX_RAW_BYTES in functions/media_codecs.py. Exceeding the
# budget raises, which _decode_stream maps to None (skip stream,
# extract nothing — the empty-not-wrong contract).
_MAX_STREAM_BYTES = 64 * 1024 * 1024


def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode: length byte L — L<128: copy next L+1 literals;
    L>128: repeat next byte 257−L times; L==128: EOD."""
    out = bytearray()
    i = 0
    while i < len(data):
        length = data[i]
        if length == 128:
            break
        if length < 128:
            chunk = data[i + 1 : i + 2 + length]
            if len(chunk) != length + 1:
                raise ValueError("truncated RunLength literal")
            out += chunk
            i += 2 + length
        else:
            if i + 1 >= len(data):
                raise ValueError("truncated RunLength run")
            out += bytes([data[i + 1]]) * (257 - length)
            i += 2
        if len(out) > _MAX_STREAM_BYTES:
            raise ValueError("RunLength output exceeds per-stream budget")
    return bytes(out)


def _rle_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while run < 128 and i + run < n and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while (
                j < n
                and j - i < 128
                and not (j + 1 < n and data[j] == data[j + 1])
            ):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    out.append(128)  # EOD
    return bytes(out)


def _ascii_hex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode: hex pairs, whitespace ignored, '>' is EOD, odd
    final digit pads with 0."""
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    return _hex_bytes(data)


def _ascii_hex_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


def _ascii85_decode(data: bytes) -> bytes:
    import base64

    data = data.strip()
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end != -1:
        data = data[:end]
    return base64.a85decode(re.sub(rb"\s", b"", data))


def _ascii85_encode(data: bytes) -> bytes:
    import base64

    return base64.a85encode(data) + b"~>"


# decoder base table: codes 0-255 are their single byte; 256 (clear)
# and 257 (EOD) hold placeholders so table indices line up with codes.
# Built once at import — per-call table setup is a C-level list copy
# instead of a 256-entry dict comprehension (the old per-strip setup
# dominated TIFF round-trip cost for small strips).
_LZW_BASE: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """LZWDecode (PDF variant: 9→12-bit codes MSB-first, clear=256,
    EOD=257, EarlyChange=1 by default).

    The table is a code-indexed list (len(table) == next code to
    assign), capped at the 12-bit code space — once full, decoding
    continues with existing entries (mirrors the encoder, bounds table
    memory on malicious input)."""
    out = bytearray()
    table = _LZW_BASE.copy()
    width = 9
    prev: bytes | None = None
    bitbuf = 0
    nbits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                del table[258:]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            n = len(table)
            if prev is None:
                if code >= n:
                    raise ValueError(f"bad LZW code {code}")
                entry = table[code]
            elif code < n:
                entry = table[code]
                if n <= 4095:
                    table.append(prev + entry[:1])
            elif code == n and n <= 4095:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"bad LZW code {code}")
            out += entry
            prev = entry
            if len(out) > _MAX_STREAM_BYTES:
                raise ValueError("LZW output exceeds per-stream budget")
            # decoder's table lags the encoder's by ONE entry (the first
            # data code after a clear adds none), so it must switch
            # width one code earlier than the encoder's own schedule
            if len(table) + early + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """LZW encoder matching ``_lzw_decode`` (leading clear code,
    trailing EOD, same early-change width schedule).

    The string table is keyed on ``(prefix_code << 8) | next_byte``
    with single-byte strings implicit (their code IS the byte value) —
    the greedy parse is byte-for-byte identical to the classic
    byte-string-keyed formulation but does one int-dict probe per input
    byte instead of building a bytes object per step (which made long
    matches quadratic and table setup the dominant cost on small
    strips)."""
    codes: list[tuple[int, int]] = [(256, 9)]
    table: dict[int, int] = {}
    next_code = 258
    width = 9
    w = -1
    for ch in data:
        if w < 0:
            w = ch
            continue
        key = (w << 8) | ch
        nxt = table.get(key)
        if nxt is not None:
            w = nxt
            continue
        codes.append((w, width))
        if next_code < 4096:
            table[key] = next_code
            next_code += 1
            if next_code + early >= (1 << width) and width < 12:
                width += 1
        w = ch
    if w >= 0:
        codes.append((w, width))
    codes.append((257, width))
    bitbuf = 0
    nbits = 0
    out = bytearray()
    for code, cw in codes:
        bitbuf = (bitbuf << cw) | code
        nbits += cw
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _flate_decode(data: bytes) -> bytes:
    # decompressobj, NOT decompress+strip: compressed payloads can
    # legitimately END in EOL bytes (see pdf_text_blocks note).
    # max_length stops the inflater AT the budget — an over-long stream
    # fails here without ever materializing the full bomb output.
    out = zlib.decompressobj().decompress(data, _MAX_STREAM_BYTES + 1)
    if len(out) > _MAX_STREAM_BYTES:
        raise ValueError("FlateDecode output exceeds per-stream budget")
    return out


# filter name → (decoder, encoder); encoders exist for fixture building
_STREAM_CODECS = {
    "FlateDecode": (_flate_decode, zlib.compress),
    "RunLengthDecode": (_rle_decode, _rle_encode),
    "ASCIIHexDecode": (_ascii_hex_decode, _ascii_hex_encode),
    "ASCII85Decode": (_ascii85_decode, _ascii85_encode),
    "LZWDecode": (_lzw_decode, _lzw_encode),
}

_FILTER_SPEC_RE = re.compile(rb"/Filter\s*(?:\[((?:\s*/\w+)*)\s*\]|/(\w+))")


def _stream_filters(stream_dict: bytes) -> list[str] | None:
    """Filter chain from a stream dictionary: [] = no filter, None =
    stream carries an unsupported/undecodable /Filter entry."""
    m = _FILTER_SPEC_RE.search(stream_dict)
    if not m:
        return [] if b"/Filter" not in stream_dict else None
    if m.group(2) is not None:
        return [m.group(2).decode("latin-1")]
    return [n.decode("latin-1") for n in re.findall(rb"/(\w+)", m.group(1))]


_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_EARLY_CHANGE_RE = re.compile(rb"/EarlyChange\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")
_COLORS_RE = re.compile(rb"/Colors\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")


def _int_parm(rx: re.Pattern, stream_dict: bytes, default: int) -> int:
    m = rx.search(stream_dict)
    return int(m.group(1)) if m else default


def _reverse_predictor(stream_dict: bytes, data: bytes) -> bytes | None:
    """Reverse a /Predictor DecodeParm on decoded Flate/LZW output
    (PDF 1.7 §7.4.4.4). Predictor 2 = TIFF horizontal differencing
    (8-bit components only here); 10-15 = PNG row filters — the per-row
    filter byte governs, so all six map to the same reversal, reusing
    the PNG decoder's filter 0-4 unfilter incl. Paeth
    (functions/media_codecs.py; reference parity parser/pdf.go:11-53,
    pdfcpu handles predictor-coded streams). Returns None on geometry
    mismatch — skip the stream, never emit garbage."""
    pred = _int_parm(_PREDICTOR_RE, stream_dict, 1)
    if pred <= 1:
        return data
    columns = _int_parm(_COLUMNS_RE, stream_dict, 1)
    colors = _int_parm(_COLORS_RE, stream_dict, 1)
    bpc = _int_parm(_BPC_RE, stream_dict, 8)
    if pred == 2:
        if bpc != 8:
            return None
        stride = columns * colors
        if stride <= 0 or len(data) % stride:
            return None
        out = bytearray(data)
        for r0 in range(0, len(out), stride):
            for i in range(colors, stride):
                out[r0 + i] = (out[r0 + i] + out[r0 + i - colors]) & 0xFF
        return bytes(out)
    if 10 <= pred <= 15:
        stride = (columns * colors * bpc + 7) // 8
        bpp = max(1, colors * bpc // 8)
        if stride <= 0 or len(data) % (stride + 1):
            return None
        try:
            return png_unfilter(data, len(data) // (stride + 1), stride, bpp)
        except ValueError:
            return None
    return None  # unknown predictor value


def _png_predictor_encode(data: bytes, columns: int) -> bytes:
    """Fixture-side forward PNG-predictor coding (colors=1, bpc=8):
    rows of ``columns`` bytes, each prefixed with a filter-type byte
    cycling 0-4 so every filter incl. Paeth is exercised; ``data``
    length must be a multiple of ``columns``."""
    assert len(data) % columns == 0
    out = bytearray()
    prev = bytes(columns)
    for r, r0 in enumerate(range(0, len(data), columns)):
        row = data[r0 : r0 + columns]
        ft = r % 5
        out.append(ft)
        for i in range(columns):
            left = row[i - 1] if i >= 1 else 0
            if ft == 0:
                v = row[i]
            elif ft == 1:
                v = row[i] - left
            elif ft == 2:
                v = row[i] - prev[i]
            elif ft == 3:
                v = row[i] - (left + prev[i]) // 2
            else:
                ul = prev[i - 1] if i >= 1 else 0
                v = row[i] - _paeth(left, prev[i], ul)
            out.append(v & 0xFF)
        prev = row
    return bytes(out)


def _tiff_predictor_encode(data: bytes, columns: int) -> bytes:
    """Fixture-side forward TIFF horizontal differencing (colors=1,
    bpc=8) over rows of ``columns`` bytes."""
    assert len(data) % columns == 0
    out = bytearray(data)
    for r0 in range(0, len(out), columns):
        for i in range(columns - 1, 0, -1):
            out[r0 + i] = (data[r0 + i] - data[r0 + i - 1]) & 0xFF
    return bytes(out)


def _decode_stream(stream_dict: bytes, data: bytes) -> bytes | None:
    """Apply the stream's full filter chain in order, then reverse any
    /Predictor DecodeParm. Returns None for unsupported filters or
    corrupt data — callers extract NOTHING from such streams, never
    wrong text (parser/pdf.go error contract). ``/EarlyChange 0`` on
    LZW is honored; /Predictor 2 and 10-15 are reversed (PNG-filter
    composition), unknown predictor values skip the stream."""
    filters = _stream_filters(stream_dict)
    if filters is None:
        return None
    early = 1
    em = _EARLY_CHANGE_RE.search(stream_dict)
    if em:
        early = int(em.group(1))
    for name in filters:
        codec = _STREAM_CODECS.get(name)
        if codec is None:
            return None  # DCTDecode / JBIG2 / CCITT etc.: skip stream
        try:
            if name == "LZWDecode":
                data = _lzw_decode(data, early=early)
            else:
                data = codec[0](data)
        except Exception:  # noqa: BLE001 — corrupt stream: extract nothing
            return None
    return _reverse_predictor(stream_dict, data)


def _cid_text(raw: bytes, cmap: dict[int, str]) -> str:
    """Identity-H show string → text: 2-byte big-endian codes through the
    font's ToUnicode cmap. Unmapped codes extract as nothing (empty, not
    wrong — same contract as unsupported filters)."""
    return "".join(
        cmap.get(int.from_bytes(raw[i : i + 2], "big"), "")
        for i in range(0, len(raw) - len(raw) % 2, 2)
    )


# font-select operator interleaved with show operators: the walker below
# tracks the ACTIVE font to route CID-keyed strings through its cmap
_TOKEN_RE = re.compile(
    _SHOW_RE.pattern + rb"|/(\w+)\s+[-\d.]+\s+Tf",
    re.S,
)


def _block_text(content: bytes, cid_fonts: dict[str, dict[int, str]] | None = None) -> str:
    cid_fonts = cid_fonts or {}
    parts: list[str] = []
    cmap: dict[int, str] | None = None  # active font's cmap, if CID-keyed

    def emit(raw: bytes) -> None:
        parts.append(_cid_text(raw, cmap) if cmap is not None else raw.decode("latin-1"))

    for m in _TOKEN_RE.finditer(content):
        lit, hexs, arr, font = m.group(1), m.group(2), m.group(3), m.group(4)
        if font is not None:
            cmap = cid_fonts.get(font.decode("latin-1"))
        elif lit is not None:
            emit(_unescape_pdf_bytes(lit))
        elif hexs is not None:
            emit(_hex_bytes(hexs))
        else:  # TJ array: concatenate its strings (numbers are kerning)
            for am in _ARRAY_STR_RE.finditer(arr):
                if am.group(1) is not None:
                    emit(_unescape_pdf_bytes(am.group(1)))
                else:
                    emit(_hex_bytes(am.group(2)))
    return "".join(parts)


# ---------------------------------------------------------------------------
# CID / Identity-H fonts (parser/pdf.go parity: pdfcpu handles composite
# fonts; round-3 directive #7 brings the stdlib extractor to the same
# fixture-grade coverage via ToUnicode cmaps)
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj(.*?)endobj", re.S)
_FONT_BIND_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_NAME_REF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+0\s+R")
_TOUNI_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")
_OBJ_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_TOKEN_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>|\[((?:<[0-9A-Fa-f\s]*>|\s)*)\]")


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """ToUnicode CMap → {2-byte code: unicode string}: bfchar pairs and
    bfrange spans (scalar destination increments; array destination maps
    consecutive codes to the listed UTF-16BE strings)."""
    cmap: dict[int, str] = {}

    def u16(h: bytes) -> str:
        return _hex_bytes(h).decode("utf-16-be", errors="replace")

    for block in _BFCHAR_RE.finditer(data):
        # keep EMPTY <> tokens in the pair stream: a legal empty
        # destination string must not shift the flat code/dst pairing
        # (dropping it silently corrupted every later mapping in the
        # block — wrong text, not empty text). finditer distinguishes
        # an empty hex match (group(1) == b"") from the array
        # alternative (group(1) is None).
        flat = [
            m.group(1)
            for m in _HEX_TOKEN_RE.finditer(block.group(1))
            if m.group(1) is not None
        ]
        for i in range(0, len(flat) - 1, 2):
            code = re.sub(rb"\s", b"", flat[i])
            if code == b"":
                continue  # malformed empty SOURCE code: skip pair, stay aligned
            cmap[int(code, 16)] = u16(flat[i + 1])
    for block in _BFRANGE_RE.finditer(data):
        toks = [
            (m.group(1), m.group(2)) for m in _HEX_TOKEN_RE.finditer(block.group(1))
        ]
        i = 0
        while i + 2 < len(toks):
            lo_t, hi_t, dst_t = toks[i], toks[i + 1], toks[i + 2]
            if lo_t[0] is None or hi_t[0] is None:
                break
            lo, hi = int(lo_t[0], 16), int(hi_t[0], 16)
            if dst_t[0] is not None:
                # scalar base: increment last unit. A destination longer
                # than 4 hex digits is a UTF-16 string (e.g. a surrogate
                # pair for math alphanumerics) — increment-by-codepoint
                # doesn't apply; decode the base once and map the whole
                # range only when it IS a single BMP unit, else skip the
                # range (extract empty, not crash/not wrong).
                base = int(dst_t[0], 16)
                if len(re.sub(rb"\s", b"", dst_t[0])) <= 4:
                    for c in range(lo, hi + 1):
                        cp = base + (c - lo)
                        if cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
                            cmap[c] = chr(cp)
            else:  # array form: one dst string per consecutive code
                dsts = re.findall(rb"<([0-9A-Fa-f\s]*)>", dst_t[1])
                for off, d in enumerate(dsts):
                    if lo + off <= hi:
                        cmap[lo + off] = u16(d)
            i += 3
    return cmap


def pdf_cid_fonts(payload: bytes) -> dict[str, dict[int, str]]:
    """{font resource name: ToUnicode cmap} for every Type0/Identity-H
    font in the document. Regex-grade object index (fixture-class PDFs,
    no xref-stream documents) — same tier as the rest of this extractor."""
    objs = {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(payload)}
    fonts: dict[str, dict[int, str]] = {}
    for body in objs.values():
        for bind in _FONT_BIND_RE.finditer(body):
            for name_m in _NAME_REF_RE.finditer(bind.group(1)):
                name, ref = name_m.group(1).decode("latin-1"), int(name_m.group(2))
                fobj = objs.get(ref, b"")
                if b"/Subtype" not in fobj or b"/Type0" not in fobj:
                    continue
                if b"/Identity-H" not in fobj:
                    continue  # other CID encodings: extract empty, not wrong
                tu = _TOUNI_RE.search(fobj)
                if not tu:
                    fonts[name] = {}  # no ToUnicode → unmapped → empty
                    continue
                tobj = objs.get(int(tu.group(1)), b"")
                sm = _OBJ_STREAM_RE.search(tobj)
                if not sm:
                    continue
                data = _decode_stream(tobj, sm.group(1))
                if data is None:
                    continue
                try:
                    fonts[name] = _parse_tounicode(data)
                except (ValueError, OverflowError):
                    # malformed cmap: extract empty, never crash the
                    # extraction path (parser/pdf.go error contract)
                    fonts[name] = {}
    return fonts


_ENCRYPT_RE = re.compile(rb"/Encrypt\s+\d+\s+\d+\s*R")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")


def _pdf_is_encrypted(payload: bytes) -> bool:
    """/Encrypt counts only when it appears in the TRAILER dictionary
    region, not anywhere in the body — an unencrypted document whose
    content happens to contain '/Encrypt N M R' (e.g. a document about
    PDF internals) must not misclassify and extract empty. Scope: from
    the LAST 'trailer' keyword; for xref-stream PDFs (no trailer
    keyword) a 2 KiB window at the startxref target offset; whole
    payload only as the malformed-document fallback."""
    t = payload.rfind(b"trailer")
    if t != -1:
        return _ENCRYPT_RE.search(payload, t) is not None
    matches = list(_STARTXREF_RE.finditer(payload))
    if matches:
        off = int(matches[-1].group(1))
        if 0 <= off < len(payload):
            return _ENCRYPT_RE.search(payload[off : off + 2048]) is not None
    return _ENCRYPT_RE.search(payload) is not None


def pdf_text_blocks(payload: bytes) -> list[str]:
    """One string per BT…ET text block across all content streams, in
    document order. Stream filter chains decode through
    ``_decode_stream`` (Flate, LZW, RunLength, ASCIIHex, ASCII85 — the
    pdfcpu-covered set, parser/pdf.go:11-53); unsupported filters and
    ENCRYPTED documents extract nothing rather than wrong text.
    Identity-H CID fonts decode through their ToUnicode cmap
    (``pdf_cid_fonts``); CID strings with no mapping extract empty, not
    wrong."""
    if _pdf_is_encrypted(payload):
        # encrypted document: content streams are ciphertext — any
        # "text" walked out of them would be garbage, so extract empty
        return []
    cid_fonts = pdf_cid_fonts(payload)
    blocks: list[str] = []
    for m in _STREAM_RE.finditer(payload):
        data = _decode_stream(m.group(1), m.group(2))
        if data is None:
            continue
        for bt in _BT_RE.finditer(data):
            text = _block_text(bt.group(1), cid_fonts)
            if text:
                blocks.append(text)
    return blocks


def pdf_contains(payload: bytes, target: str) -> bool:
    """Search-mode predicate over PDF text (parser/pdf.go:40-46:
    substring over the extracted text files)."""
    return any(target in b for b in pdf_text_blocks(payload))


def extract_pdf_documents(
    blobs: DataFrame, ref_col: str = "media_ref", payload_col: str = "payload"
) -> DataFrame:
    """(media_ref, payload binary) → documents(doc_id, spans): one text
    span per BT…ET block, offsets in document order."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            spans = []
            for pl in b[payload_col]:
                blocks = pdf_text_blocks(bytes(pl))
                spans.append(
                    [
                        {"kind": "text", "text": t, "media_ref": "", "offset": i}
                        for i, t in enumerate(blocks)
                    ]
                )
            yield pd.DataFrame({"doc_id": b[ref_col], "spans": spans})

    return blobs.mapInPandas(kernel, schema=DOCUMENTS)


def make_pdf_cid(texts: list[str], compress: bool = True) -> bytes:
    """Minimal Identity-H CID-keyed PDF builder (fixture helper): one
    page per text, a Type0 font with a ToUnicode CMap, show strings as
    2-byte hex CIDs with cid = codepoint + 7 (a non-identity mapping, so
    extraction must actually consult the cmap). Digits map via a scalar
    bfrange, everything else via bfchar — both parser paths exercised."""
    used = sorted({ch for t in texts for ch in t if ord(ch) + 7 <= 0xFFFF})
    bf_range_chars = [c for c in used if "0" <= c <= "9"]
    bf_char_chars = [c for c in used if not ("0" <= c <= "9")]

    cmap_lines = ["begincmap"]
    if bf_range_chars:
        cmap_lines.append("1 beginbfrange")
        cmap_lines.append(
            f"<{ord('0') + 7:04X}> <{ord('9') + 7:04X}> <{ord('0'):04X}>"
        )
        cmap_lines.append("endbfrange")
    for i in range(0, len(bf_char_chars), 100):
        chunk = bf_char_chars[i : i + 100]
        cmap_lines.append(f"{len(chunk)} beginbfchar")
        for ch in chunk:
            cmap_lines.append(f"<{ord(ch) + 7:04X}> <{ord(ch):04X}>")
        cmap_lines.append("endbfchar")
    cmap_lines.append("endcmap")
    cmap_data = "\n".join(cmap_lines).encode("ascii")
    cmap_filt = b""
    if compress:
        cmap_data = zlib.compress(cmap_data)
        cmap_filt = b" /Filter /FlateDecode"

    objs: list[bytes] = []
    n_pages = len(texts)
    page_ids = [5 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    objs.append(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-Identity"
        b" /Encoding /Identity-H /ToUnicode 4 0 R >>"
    )
    objs.append(
        b"<< /Length %d%s >>\nstream\n%s\nendstream"
        % (len(cmap_data), cmap_filt, cmap_data)
    )
    for i, text in enumerate(texts):
        hexstr = "".join(
            f"{ord(ch) + 7:04X}" for ch in text if ord(ch) + 7 <= 0xFFFF
        )
        content = f"BT /F1 12 Tf 72 720 Td <{hexstr}> Tj ET".encode("ascii")
        filt = b""
        if compress:
            content = zlib.compress(content)
            filt = b" /Filter /FlateDecode"
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /Contents {page_ids[i] + 1} 0 R "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/MediaBox [0 0 612 792] >>".encode()
        )
        objs.append(
            b"<< /Length %d%s >>\nstream\n%s\nendstream"
            % (len(content), filt, content)
        )
    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(out.tell())
        out.write(b"%d 0 obj %s endobj\n" % (i, body))
    xref_at = out.tell()
    out.write(b"xref\n0 %d\n" % (len(objs) + 1))
    out.write(b"0000000000 65535 f \n")
    for off in offsets:
        out.write(b"%010d 00000 n \n" % off)
    out.write(
        b"trailer << /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return out.getvalue()


def make_pdf(
    texts: list[str],
    compress: bool = True,
    filters: list[str] | None = None,
    encrypted: bool = False,
    predictor: int | None = None,
    pred_columns: int = 32,
) -> bytes:
    """Minimal valid single-font PDF builder (test fixture helper —
    deterministic; one page per text, one BT block per page).

    ``filters``: explicit /Filter chain for the content streams (e.g.
    ["ASCII85Decode", "FlateDecode"]); overrides ``compress``. Encoders
    apply in REVERSE chain order so decoding in chain order recovers the
    content (PDF 1.7 §7.4 semantics). ``encrypted=True`` adds an
    /Encrypt entry to the trailer (boundary fixture: extractors must
    return nothing, not garbage). ``predictor`` (2 or 10-15) applies
    that DecodeParm predictor (colors=1, bpc=8, ``pred_columns``
    columns) to the content BEFORE filter encoding, newline-padding the
    content to a row multiple (padding lands outside BT…ET, so
    extracted text is unchanged)."""
    objs: list[bytes] = []
    n_pages = len(texts)
    page_ids = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    if filters is None:
        filters = ["FlateDecode"] if compress else []
    for i, text in enumerate(texts):
        esc = text.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        content = f"BT /F1 12 Tf 72 720 Td ({esc}) Tj ET".encode("latin-1")
        parms = b""
        if predictor is not None:
            if len(content) % pred_columns:
                content += b"\n" * (pred_columns - len(content) % pred_columns)
            if predictor == 2:
                content = _tiff_predictor_encode(content, pred_columns)
            else:
                content = _png_predictor_encode(content, pred_columns)
            parms = (
                f" /DecodeParms << /Predictor {predictor}"
                f" /Columns {pred_columns} >>".encode()
            )
        for name in reversed(filters):
            content = _STREAM_CODECS[name][1](content)
        if len(filters) == 1:
            filt = f" /Filter /{filters[0]}".encode() + parms
        elif filters:
            filt = (
                " /Filter [" + " ".join(f"/{n}" for n in filters) + "]"
            ).encode() + parms
        else:
            filt = b""
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /Contents {page_ids[i] + 1} 0 R "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/MediaBox [0 0 612 792] >>".encode()
        )
        objs.append(
            b"<< /Length %d%s >>\nstream\n%s\nendstream"
            % (len(content), filt, content)
        )
    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(out.tell())
        out.write(b"%d 0 obj %s endobj\n" % (i, body))
    xref_at = out.tell()
    out.write(b"xref\n0 %d\n" % (len(objs) + 1))
    out.write(b"0000000000 65535 f \n")
    for off in offsets:
        out.write(b"%010d 00000 n \n" % off)
    enc = b" /Encrypt 9999 0 R" if encrypted else b""
    out.write(
        b"trailer << /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, enc, xref_at)
    )
    return out.getvalue()
