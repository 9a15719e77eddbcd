"""From-scratch PDF text extraction (ISO 32000-1 subset), stdlib only.

PDF is one of the highest-volume real corpus sources a training
pipeline ingests (papers, reports, books); the reference stores
payloads opaquely and leaves interpretation to the warehouse, so text
extraction belongs to the analytics engine — same placement argument as
the image/audio codecs (multimodal.py) and WARC (warc.py).

Scope (documented, like every codec boundary in this repo):
- Classic non-encrypted PDFs; object map built by a tolerant
  ``N G obj .. endobj`` scan (real-world extractors do this — damaged
  xref tables are endemic; the xref is never needed for a linear scan).
- Content streams uncompressed, FlateDecode (zlib, inflation capped
  against decompression bombs), LZWDecode (both EarlyChange variants,
  via the shared TIFF-flavor decoder), ASCIIHexDecode, ASCII85Decode,
  RunLengthDecode — filter CHAINS with per-filter /DecodeParms
  included (r12); other filters raise a named ``NotImplementedError``
  gap.
- Simple fonts / single-byte encodings: string bytes decode latin-1
  (PDFDocEncoding's printable range).  CID/composite fonts with CMaps
  need font tables out of scope for a stdlib parser — their text
  extracts as the raw bytes decode.
- Text operators: BT/ET blocks, Tj, ' , " , TJ (kern numbers ignored),
  newline on Td/TD with a vertical move, T*, and Tm.  Literal strings
  with the full escape table + octal + line continuations; hex strings.
- Encrypted PDFs (``/Encrypt`` in any trailer dict) raise ``PdfError``.

Spark placement: per-payload parse inside Arrow batches
(``pdf_to_text`` is mapInPandas, the codec boundary) — map-side only,
zero shuffle; at 100 TB the cost is the payload scan.  The q_pdf gate
round-trips REAL pdfs: built from table rows by ``build_simple_pdf``,
parsed back by this module, md5-pinned against the DuckDB-computed
expected text (the WARC-gate synthesis pattern).
"""

from __future__ import annotations

import hashlib
import re
import zlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .codecerrors import guard

MAX_STREAM_OUT = 64 * 1024 * 1024  # inflation cap per stream


class PdfError(ValueError):
    pass


def is_pdf(b: bytes) -> bool:
    return b[:5] == b"%PDF-"


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover — debug aid
        return f"Ref({self.num})"


def _skip_ws(b: bytes, i: int) -> int:
    n = len(b)
    while i < n:
        c = b[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment to EOL
            while i < n and b[i] not in (0x0A, 0x0D):
                i += 1
        else:
            break
    return i


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")


def _parse_value(b: bytes, i: int):
    """Recursive-descent parse of one PDF object value at offset i;
    returns (value, next_offset)."""
    i = _skip_ws(b, i)
    if i >= len(b):
        raise PdfError("unexpected end of data")
    c = b[i]
    if b[i : i + 2] == b"<<":
        d = {}
        i += 2
        while True:
            i = _skip_ws(b, i)
            if b[i : i + 2] == b">>":
                return d, i + 2
            if b[i : i + 1] != b"/":
                raise PdfError(f"dict key is not a name at {i}")
            key, i = _parse_value(b, i)
            val, i = _parse_value(b, i)
            d[key] = val
    if c == 0x5B:  # [
        arr = []
        i += 1
        while True:
            i = _skip_ws(b, i)
            if b[i : i + 1] == b"]":
                return arr, i + 1
            v, i = _parse_value(b, i)
            arr.append(v)
    if c == 0x2F:  # /Name
        j = i + 1
        n = len(b)
        while j < n and b[j] not in _WS and b[j] not in _DELIM:
            j += 1
        name = b[i + 1 : j].decode("latin-1")
        # #xx hex escapes in names
        name = re.sub(
            r"#([0-9A-Fa-f]{2})",
            lambda m: chr(int(m.group(1), 16)),
            name,
        )
        return "/" + name, j
    if c == 0x28:  # ( literal string
        return _parse_literal_string(b, i)
    if c == 0x3C:  # < hex string (<<" handled above)
        j = b.index(b">", i)
        hx = re.sub(rb"[^0-9A-Fa-f]", b"", b[i + 1 : j])
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode()), j + 1
    m = _REF_RE.match(b, i)
    if m:
        return _Ref(int(m.group(1))), m.end()
    m = _NUM_RE.match(b, i)
    if m:
        s = m.group(0)
        return (float(s) if b"." in s else int(s)), m.end()
    for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
        if b[i : i + len(lit)] == lit:
            return val, i + len(lit)
    raise PdfError(f"unparseable token at offset {i}")


_ESC = {
    0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b",
    0x66: b"\x0c", 0x28: b"(", 0x29: b")", 0x5C: b"\\",
}


def _parse_literal_string(b: bytes, i: int):
    out = bytearray()
    depth = 1
    i += 1
    n = len(b)
    while i < n:
        c = b[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = b[i]
            if e in _ESC:
                out += _ESC[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                j = i
                while j < min(i + 3, n) and 0x30 <= b[j] <= 0x37:
                    j += 1
                out.append(int(b[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and b[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char itself
                out.append(e)
                i += 1
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
        out.append(c)
        i += 1
    raise PdfError("unterminated literal string")


_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")


def _objects(b: bytes) -> dict[int, tuple]:
    """Tolerant object scan: {num: (value, stream_bytes | None)}."""
    objs: dict[int, tuple] = {}
    for m in _OBJ_RE.finditer(b):
        num = int(m.group(1))
        try:
            val, i = _parse_value(b, m.end())
        except PdfError:
            continue
        stream = None
        i = _skip_ws(b, i)
        if b[i : i + 6] == b"stream":
            i += 6
            if b[i : i + 2] == b"\r\n":
                i += 2
            elif b[i : i + 1] == b"\n":
                i += 1
            ln = val.get("/Length") if isinstance(val, dict) else None
            if isinstance(ln, int):
                stream = b[i : i + ln]
            else:  # /Length indirect or damaged: search endstream
                j = b.find(b"endstream", i)
                if j < 0:
                    raise PdfError("unterminated stream")
                stream = b[i:j].rstrip(b"\r\n")
        objs[num] = (val, stream)
    if not objs:
        raise PdfError("no objects found")
    _expand_object_streams(objs)
    return objs


MAX_OBJSTM_MEMBERS = 1 << 16


def _expand_object_streams(objs: dict) -> None:
    """PDF 1.5 object streams (§7.5.7, r12): objects of /Type /ObjStm
    hold N compressed non-stream objects — N pairs of (objnum,
    offset) integers, then the object values at /First + offset.  The
    tolerant raw scan can't see them, so modern PDFs (xref streams,
    compressed page dicts) would otherwise lose their page tree.
    Members never override a directly-scanned object (incremental
    updates append direct definitions, which win)."""
    members: dict[int, tuple] = {}
    for _num, (val, raw) in list(objs.items()):
        if not (isinstance(val, dict)
                and val.get("/Type") == "/ObjStm" and raw is not None):
            continue
        # tolerant like the raw scan: one damaged or
        # unsupported-filter ObjStm must not cost the directly
        # scanned objects — skip it
        try:
            n = _resolve(objs, val.get("/N"))
            first = _resolve(objs, val.get("/First"))
            if not isinstance(n, int) or not isinstance(first, int) \
                    or not 0 <= n <= MAX_OBJSTM_MEMBERS or first < 0:
                raise PdfError("bad ObjStm /N or /First")
            body = _decode_stream(objs, val, raw)
            pairs = []
            i = 0
            for _ in range(2 * n):
                i = _skip_ws(body, i)
                m = _NUM_RE.match(body, i)
                if not m or b"." in m.group(0):
                    raise PdfError("bad ObjStm header pair")
                pairs.append(int(m.group(0)))
                i = m.end()
        except (PdfError, NotImplementedError):
            continue
        for k in range(n):
            onum, off = pairs[2 * k], pairs[2 * k + 1]
            if onum < 0 or off < 0 or first + off > len(body):
                continue                   # signed header pair = junk
            try:
                v, _ = _parse_value(body, first + off)
            except PdfError:
                continue                       # tolerant, like the scan
            members[onum] = (v, None)
    for onum, pair in members.items():
        objs.setdefault(onum, pair)


def _resolve(objs: dict, v):
    seen = 0
    while isinstance(v, _Ref):
        v = objs.get(v.num, (None, None))[0]
        seen += 1
        if seen > 32:
            raise PdfError("reference cycle")
    return v


def _ascii_hex_decode(data: bytes) -> bytes:
    """/ASCIIHexDecode (PDF 32000-1 §7.4.2): hex pairs, whitespace
    ignored, '>' EOD, odd trailing digit implicitly padded with 0."""
    digits = []
    for c in data:
        if c in b" \t\r\n\x0c\x00":
            continue
        if c == 0x3E:                           # '>'
            break
        if chr(c) not in "0123456789abcdefABCDEF":
            raise PdfError(f"ASCIIHex: bad digit {c:#x}")
        digits.append(chr(c))
    if len(digits) % 2:
        digits.append("0")
    return bytes.fromhex("".join(digits))


def _ascii85_decode(data: bytes) -> bytes:
    """/ASCII85Decode (§7.4.3): base-85 groups, 'z' = four zero bytes
    (only between groups), '~>' EOD, 2-4 char partial final group."""
    out = bytearray()
    group: list[int] = []
    i = 0
    end = data.find(b"~>")
    body = data[:end if end >= 0 else len(data)]
    while i < len(body):
        c = body[i]
        i += 1
        if c in b" \t\r\n\x0c\x00":
            continue
        if c == 0x7A:                           # 'z'
            if group:
                raise PdfError("ASCII85: z inside a group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:               # '!'..'u'
            raise PdfError(f"ASCII85: bad char {c:#x}")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise PdfError("ASCII85: group overflow")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise PdfError("ASCII85: lone trailing char")
        n = len(group)
        v = 0
        for g in group + [84] * (5 - n):
            v = v * 85 + g
        if v > 0xFFFFFFFF:
            raise PdfError("ASCII85: group overflow")
        out += v.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def _run_length_decode(data: bytes) -> bytes:
    """/RunLengthDecode (§7.4.5): the PackBits scheme with 128 = EOD."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) <= MAX_STREAM_OUT:
        n = data[i]
        i += 1
        if n == 128:
            break
        if n < 128:
            if i + n + 1 > len(data):
                raise PdfError("RunLength: truncated literal run")
            out += data[i:i + n + 1]
            i += n + 1
        else:
            if i >= len(data):
                raise PdfError("RunLength: truncated repeat run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
    return bytes(out)


def _decode_stream(objs: dict, d: dict, raw: bytes) -> bytes:
    filt = _resolve(objs, d.get("/Filter"))
    if filt is None:
        return raw
    filters = filt if isinstance(filt, list) else [filt]
    parms_all = _resolve(objs, d.get("/DecodeParms", d.get("/DP")))
    if not isinstance(parms_all, list):
        parms_all = [parms_all] * len(filters)
    elif len(parms_all) < len(filters):
        # a short /DecodeParms array must not drop trailing filters
        parms_all = parms_all + [None] * (len(filters) - len(parms_all))
    out = raw
    for f, parms in zip(filters, parms_all):
        f = _resolve(objs, f)
        parms = _resolve(objs, parms)
        if not isinstance(parms, dict):   # crafted non-dict /DecodeParms
            parms = {}
        if f == "/FlateDecode":
            try:
                out = zlib.decompressobj().decompress(out, MAX_STREAM_OUT)
            except zlib.error as e:
                raise PdfError(f"bad Flate stream: {e}") from e
        elif f == "/LZWDecode":
            from .tiff import TiffError, _lzw_decode_tiff

            early = _resolve(objs, parms.get("/EarlyChange", 1))
            try:
                out = _lzw_decode_tiff(out, MAX_STREAM_OUT,
                                       early=bool(early))
            except TiffError as e:
                raise PdfError(f"bad LZW stream: {e}") from e
        elif f == "/ASCIIHexDecode":
            out = _ascii_hex_decode(out)
        elif f == "/ASCII85Decode":
            out = _ascii85_decode(out)
        elif f == "/RunLengthDecode":
            out = _run_length_decode(out)
        else:
            raise NotImplementedError(
                f"PDF stream filter {f} needs codecs out of stdlib "
                "scope (supported: none, /FlateDecode, /LZWDecode, "
                "/ASCIIHexDecode, /ASCII85Decode, /RunLengthDecode)"
            )
    return out


_OP_RE = re.compile(rb"[A-Za-z'\"*]+")


def _extract_text(content: bytes) -> str:
    """Walk a content stream's operators, keeping text order."""
    out: list[str] = []
    stack: list = []
    i, n = 0, len(content)
    line_open = False

    def emit(raw: bytes):
        nonlocal line_open
        out.append(raw.decode("latin-1"))
        line_open = True

    def newline():
        nonlocal line_open
        if line_open:
            out.append("\n")
            line_open = False

    while i < n:
        i = _skip_ws(content, i)
        if i >= n:
            break
        c = content[i]
        if c == 0x28 or c == 0x3C or c == 0x5B or c == 0x2F or (
            0x30 <= c <= 0x39 or c in (0x2B, 0x2D, 0x2E)
        ):
            try:
                v, i = _parse_value(content, i)
            except PdfError:
                i += 1
                continue
            stack.append(v)
            continue
        m = _OP_RE.match(content, i)
        if not m:
            i += 1
            continue
        op = m.group(0)
        i = m.end()
        if op == b"Tj" and stack and isinstance(stack[-1], bytes):
            emit(stack[-1])
        elif op in (b"'", b'"'):
            newline()
            if stack and isinstance(stack[-1], bytes):
                emit(stack[-1])
        elif op == b"TJ" and stack and isinstance(stack[-1], list):
            for el in stack[-1]:
                if isinstance(el, bytes):
                    emit(el)
        elif op in (b"TD", b"Td"):
            if len(stack) >= 1 and isinstance(
                stack[-1], (int, float)
            ) and stack[-1] != 0:
                newline()
        elif op in (b"T*", b"Tm", b"ET"):
            newline()
        stack.clear()  # every operator consumes its operands
    return "".join(out)


@guard(PdfError)
def extract_pdf_text(b: bytes) -> tuple[str, int]:
    """Extract (text, n_pages) from a PDF payload.  Page texts joined
    with ``\\f`` (form feed)."""
    if not is_pdf(b):
        raise PdfError("not a PDF (%PDF- header missing)")
    if b"/Encrypt" in b:
        raise PdfError("encrypted PDFs are out of scope")
    objs = _objects(b)
    # find the page tree: catalog /Pages, else any /Type /Pages root
    pages: list[dict] = []

    def walk(node, depth=0):
        node = _resolve(objs, node)
        if not isinstance(node, dict) or depth > 64:
            return
        t = node.get("/Type")
        if t == "/Pages":
            for kid in _resolve(objs, node.get("/Kids")) or []:
                walk(kid, depth + 1)
        elif t == "/Page":
            pages.append(node)

    root = None
    for _num, (val, _s) in sorted(objs.items()):
        if isinstance(val, dict) and val.get("/Type") == "/Catalog":
            root = val.get("/Pages")
            break
    if root is not None:
        walk(root)
    if not pages:  # tolerant fallback: direct page scan
        for _num, (val, _s) in sorted(objs.items()):
            if isinstance(val, dict) and val.get("/Type") == "/Page":
                pages.append(val)
    texts = []
    for pg in pages:
        contents = pg.get("/Contents")
        resolved = _resolve(objs, contents)
        if isinstance(resolved, list):
            refs = resolved  # array of stream refs
        elif contents is None:
            refs = []
        else:
            refs = [contents]  # single stream ref — keep the REF so
            # the stream bytes (attached to the object) stay reachable
        body = b""
        for r in refs:
            if not isinstance(r, _Ref):
                continue
            d, raw = objs.get(r.num, (None, None))
            if raw is None:
                continue
            body += _decode_stream(objs, d, raw) + b"\n"
        texts.append(_extract_text(body))
    return "\f".join(texts), len(pages)


def build_simple_pdf(page_texts: list[str], compress: bool = False) -> bytes:
    """Minimal single-font PDF writer (synthesis utility for gates and
    round-trip checks; tests also verify against an independent
    hand-written fixture builder).  Each page shows its text as one
    ``Tj`` per line at a fixed position.  Input must be latin-1
    encodable; ``(``, ``)`` and ``\\`` are escaped."""
    objects: list[bytes] = []

    def esc(s: str) -> bytes:
        return (
            s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        ).encode("latin-1")

    n_pages = len(page_texts)
    # 1 catalog, 2 pages, 3 font; pages at 4..; contents after
    kids = " ".join(f"{4 + i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Count {n_pages} /Kids [{kids}] >>".encode()
    )
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for i in range(n_pages):
        objects.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {4 + n_pages + i} 0 R >>".encode()
        )
    for text in page_texts:
        lines = text.split("\n")
        parts = [b"BT /F1 12 Tf 72 720 Td"]
        for k, ln in enumerate(lines):
            if k:
                parts.append(b"0 -14 Td")
            parts.append(b"(" + esc(ln) + b") Tj")
        parts.append(b"ET")
        body = b" ".join(parts)
        if compress:
            body = zlib.compress(body)
            head = (
                f"<< /Length {len(body)} /Filter /FlateDecode >>".encode()
            )
        else:
            head = f"<< /Length {len(body)} >>".encode()
        objects.append(head + b"\nstream\n" + body + b"\nendstream")
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, obj in enumerate(objects, 1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_off = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _undo_png_predictor(data: bytes, columns: int, colors: int,
                        bpc: int) -> bytes:
    """PNG-predictor DecodeParms (Predictor >= 10): per-row filter
    byte + the four PNG filters, exactly png.py's unfiltering rules."""
    import numpy as np

    bpp = max(1, colors * bpc // 8)
    row_bytes = (columns * colors * bpc + 7) // 8
    stride = row_bytes + 1
    if len(data) % stride:
        raise PdfError("predictor rows misaligned")
    h = len(data) // stride
    out = np.zeros((h, row_bytes), dtype=np.uint8)
    raw = np.frombuffer(data, dtype=np.uint8).reshape(h, stride)
    for y in range(h):
        ftype = raw[y, 0]
        row = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(
            row_bytes, dtype=np.int32)
        if ftype == 0:
            cur = row
        elif ftype == 2:                         # Up
            cur = (row + prev) & 0xFF
        elif ftype in (1, 3, 4):
            cur = np.zeros(row_bytes, dtype=np.int32)
            for x in range(row_bytes):
                a = cur[x - bpp] if x >= bpp else 0
                bb = prev[x]
                if ftype == 1:
                    p = a
                elif ftype == 3:
                    p = (a + bb) >> 1
                else:                            # Paeth
                    c = prev[x - bpp] if x >= bpp else 0
                    pa, pb, pc = abs(bb - c), abs(a - c), abs(
                        a + bb - 2 * c)
                    p = a if pa <= pb and pa <= pc else (
                        bb if pb <= pc else c)
                cur[x] = (row[x] + p) & 0xFF
        else:
            raise PdfError(f"bad PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
    return out.tobytes()


def pdf_images(b: bytes) -> list[dict]:
    """Extract the IMAGE XOBJECTS a PDF carries (scanned pages,
    figures): every object whose dict says ``/Subtype /Image``
    decodes to RGBA through the repo's own codecs —

    - ``/DCTDecode``: the stream IS a JPEG (jpeg.py: baseline/
      progressive/arithmetic/lossless alike);
    - ``/CCITTFaxDecode``: scanned-fax pages through ccittfax.py
      (DecodeParms /K < 0 -> G4, 0 -> G3 1-D, > 0 -> G3 2-D;
      /Columns, /Rows defaulted from the image dict;
      /EncodedByteAlign honored in all three K regimes — r12);
    - ``/FlateDecode`` (or no filter): raw DeviceGray/DeviceRGB
      rasters at 8 bits (PNG-style DecodeParms predictors undone);
    - ``/JBIG2Decode``: generic-region JBIG2 (r13, jbig2.py — MQ
      arithmetic templates 0-3 + TPGDON + MMR, optional
      ``/JBIG2Globals``); symbol/text/halftone regions stay typed;
    - ``/JPXDecode``: lossless JPEG 2000 (r13, jpeg2000.py — Part-1
      5/3 reversible subset, raw codestream or JP2 container); the
      9/7 lossy path stays a named NotImplementedError inside it.

    Returns ``[{obj, width, height, bits, colorspace, filter, rgba}]``
    in object order."""
    import numpy as np

    if not is_pdf(b):
        raise PdfError("not a PDF payload")
    objs = _objects(b)
    out: list[dict] = []
    for num in sorted(objs):
        val, raw = objs[num]
        if not isinstance(val, dict) or raw is None:
            continue
        if _resolve(objs, val.get("/Subtype")) != "/Image":
            continue
        w = _resolve(objs, val.get("/Width"))
        h = _resolve(objs, val.get("/Height"))
        bpc = _resolve(objs, val.get("/BitsPerComponent", 8))
        cs = _resolve(objs, val.get("/ColorSpace", "/DeviceGray"))
        if isinstance(cs, list):
            cs = str(_resolve(objs, cs[0]) if cs else "?")
        filt = _resolve(objs, val.get("/Filter"))
        if isinstance(filt, list):
            filt = [_resolve(objs, f) for f in filt]
            last = filt[-1] if filt else None
        else:
            last = filt
        if not isinstance(w, int) or not isinstance(h, int) \
                or w < 1 or h < 1 or w * h > (1 << 24):
            # pixel-count cap (the webp rule): a tiny crafted dict
            # must not force a giant raster or a long predictor walk
            raise PdfError(f"image object {num}: bad dimensions")
        parms = _resolve(objs, val.get("/DecodeParms", {}))
        if isinstance(parms, list):
            parms = _resolve(objs, parms[-1]) if parms else None
        if not isinstance(parms, dict):   # crafted non-dict /DecodeParms
            parms = {}
        rgba = np.zeros((h, w, 4), dtype=np.uint8)
        rgba[:, :, 3] = 255
        if last == "/DCTDecode":
            from .jpeg import JpegError, decode_jpeg

            try:
                dec = decode_jpeg(bytes(raw))
            except JpegError as e:
                raise PdfError(f"image object {num}: {e}") from e
            if dec.shape[0] < h or dec.shape[1] < w:
                raise PdfError(f"image object {num}: JPEG smaller "
                               "than declared")
            rgba = np.ascontiguousarray(dec[:h, :w])
        elif last == "/CCITTFaxDecode":
            from .ccittfax import (
                CcittError,
                decode_g3,
                decode_g4,
                decode_mh,
            )

            ebal = bool(
                _resolve(objs, parms.get("/EncodedByteAlign", False)))
            k = _resolve(objs, parms.get("/K", 0))
            cols = _resolve(objs, parms.get("/Columns", 1728))
            nrows = _resolve(objs, parms.get("/Rows", h))
            try:
                if k < 0:
                    packed = decode_g4(bytes(raw), cols, nrows,
                                       byte_align=ebal)
                elif k == 0:
                    packed = decode_mh(bytes(raw), cols, nrows,
                                       byte_align=ebal)
                else:
                    packed = decode_g3(bytes(raw), cols, nrows,
                                       two_d=True, byte_align=ebal)
            except CcittError as e:
                raise PdfError(f"image object {num}: {e}") from e
            bits = np.unpackbits(packed, axis=1)
            if bits.shape[0] < h or bits.shape[1] < w:
                # crafted /Rows (or /Columns) smaller than the image
                # dimensions would otherwise broadcast-crash below
                raise PdfError(
                    f"image object {num}: CCITT raster "
                    f"{bits.shape[0]}x{bits.shape[1]} smaller than "
                    f"declared {h}x{w}")
            bits = bits[:h, :w]
            g = ((1 - bits) * 255).astype(np.uint8)  # 1 = black
            rgba[:, :, 0] = rgba[:, :, 1] = rgba[:, :, 2] = g
        elif last in (None, "/FlateDecode"):
            data = _decode_stream(objs, val, raw)
            pred = _resolve(objs, parms.get("/Predictor", 1))
            ncomp = 3 if cs == "/DeviceRGB" else 1
            if bpc != 8:
                raise PdfError(
                    f"image object {num}: {bpc}-bit raw rasters "
                    "not supported (8 only)")
            if pred and pred >= 10:
                data = _undo_png_predictor(data, w, ncomp, bpc)
            elif pred not in (None, 1):
                raise PdfError(
                    f"image object {num}: predictor {pred} "
                    "not supported")
            need = w * h * ncomp
            if len(data) < need:
                raise PdfError(f"image object {num}: raster short")
            arr = np.frombuffer(
                data[:need], dtype=np.uint8).reshape(h, w, ncomp)
            if ncomp == 1:
                rgba[:, :, 0] = rgba[:, :, 1] = rgba[:, :, 2] = \
                    arr[:, :, 0]
            else:
                rgba[:, :, :3] = arr
        elif last == "/JBIG2Decode":
            from .jbig2 import Jbig2Error, decode_embedded

            gref = parms.get("/JBIG2Globals")
            gdata = b""
            if isinstance(gref, _Ref):
                gval, graw = objs.get(gref.num, (None, None))
                if graw is not None:
                    gdata = _decode_stream(
                        objs,
                        gval if isinstance(gval, dict) else {},
                        graw)
            try:
                bits = decode_embedded(bytes(raw), gdata)
            except Jbig2Error as e:
                raise PdfError(f"image object {num}: {e}") from e
            if bits.shape[0] < h or bits.shape[1] < w:
                raise PdfError(
                    f"image object {num}: JBIG2 page "
                    f"{bits.shape[0]}x{bits.shape[1]} smaller than "
                    f"declared {h}x{w}")
            bits = bits[:h, :w]
            g = ((1 - bits) * 255).astype(np.uint8)  # 1 = black
            rgba[:, :, 0] = rgba[:, :, 1] = rgba[:, :, 2] = g
        elif last == "/JPXDecode":
            from .jpeg2000 import Jpeg2000Error, decode_jpx

            try:
                dec = decode_jpx(bytes(raw))
            except Jpeg2000Error as e:
                raise PdfError(f"image object {num}: {e}") from e
            if dec.dtype == np.uint16:
                dec = (dec >> 8).astype(np.uint8)  # 16-bit display rule
            if dec.shape[0] < h or dec.shape[1] < w:
                raise PdfError(
                    f"image object {num}: JPX image "
                    f"{dec.shape[0]}x{dec.shape[1]} smaller than "
                    f"declared {h}x{w}")
            if dec.ndim == 2:
                rgba[:, :, 0] = rgba[:, :, 1] = rgba[:, :, 2] = \
                    dec[:h, :w]
            else:
                rgba[:, :, :3] = dec[:h, :w, :3]
        else:
            raise NotImplementedError(
                f"PDF image filter {last} out of scope")
        out.append({
            "obj": num, "width": w, "height": h, "bits": bpc,
            "colorspace": str(cs), "filter": str(last), "rgba": rgba,
        })
    return out


def build_pdf_with_images(images: list[tuple[str, "object"]],
                          text: str = "scan") -> bytes:
    """Synthesis writer: a one-page PDF whose Resources carry one
    image XObject per entry.  ``images``: (kind, array) with kind in
    'flate_gray' ((h,w) uint8), 'flate_rgb' ((h,w,3) uint8),
    'ccitt_g4' / 'ccitt_mh' / 'ccitt_g3' ((h,w) 0/1 bits, 1 = black;
    '_ba' suffix = /EncodedByteAlign true; 'ccitt_mh_cont' = the
    strict K=0 continuous bit stream),
    'jbig2' / 'jbig2_tpgdon' / 'jbig2_t2' / 'jbig2_mmr' /
    'jbig2_text' ((h,w) 0/1 bits, 1 = black, through
    jbig2.encode_embedded / encode_embedded_text — r13),
    'jpx' / 'jp2' ((h,w) or (h,w,3) uint8 through jpeg2000.encode_j2k,
    raw codestream vs JP2 container — r13),
    'jpeg' (pre-encoded JPEG bytes + (h,w) declared dims as
    ((h, w), payload))."""
    import zlib as _z

    import numpy as np

    from .ccittfax import encode_g3, encode_g4, encode_mh

    objects: list[bytes] = []
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>")
    n_img = len(images)
    xnames = " ".join(
        f"/Im{k} {5 + k} 0 R" for k in range(n_img))
    objects.append(
        f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /XObject << {xnames} >> >> "
        f"/Contents 4 0 R >>".encode())
    draws = " ".join(
        f"q 100 0 0 100 {50 + 110 * k} 600 cm /Im{k} Do Q"
        for k in range(n_img))
    body = draws.encode()
    objects.append(
        f"<< /Length {len(body)} >>".encode()
        + b"\nstream\n" + body + b"\nendstream")
    for kind, arr in images:
        if kind == "jpeg":
            (h, w), payload = arr
            head = (f"<< /Subtype /Image /Width {w} /Height {h} "
                    f"/BitsPerComponent 8 /ColorSpace /DeviceRGB "
                    f"/Filter /DCTDecode /Length {len(payload)} >>")
        elif kind.startswith("ccitt_"):
            bits = (np.asarray(arr) > 0).astype(np.uint8)
            h, w = bits.shape
            ba = kind.endswith("_ba")
            base = kind[:-3] if ba else kind
            # 'ccitt_mh' rows are byte-aligned (the encoder's TIFF
            # RLE framing), so the dict must say /EncodedByteAlign
            # true; 'ccitt_mh_cont' is the strict PDF K=0 continuous
            # bit stream.  '*_ba' variants align every line.
            if base == "ccitt_g4":
                payload, k = encode_g4(bits, byte_align=ba), -1
            elif base == "ccitt_mh":
                payload, k = encode_mh(bits), 0
                ba = True
            elif base == "ccitt_mh_cont":
                payload, k = encode_mh(bits, byte_align=False), 0
            elif base == "ccitt_g3":
                payload, k = encode_g3(bits, two_d=True,
                                       byte_align=ba), 1
            else:
                raise PdfError(f"unknown CCITT kind {kind}")
            ebal = " /EncodedByteAlign true" if ba else ""
            head = (f"<< /Subtype /Image /Width {w} /Height {h} "
                    f"/BitsPerComponent 1 /ColorSpace /DeviceGray "
                    f"/Filter /CCITTFaxDecode "
                    f"/DecodeParms << /K {k} /Columns {w} "
                    f"/Rows {h}{ebal} >> /Length {len(payload)} >>")
        elif kind in ("jpx", "jp2"):
            from .jpeg2000 import build_jp2, encode_j2k

            a = np.asarray(arr, dtype=np.uint8)
            h, w = a.shape[:2]
            cs = "/DeviceRGB" if a.ndim == 3 else "/DeviceGray"
            payload = (build_jp2(a) if kind == "jp2"
                       else encode_j2k(a))
            head = (f"<< /Subtype /Image /Width {w} /Height {h} "
                    f"/BitsPerComponent 8 /ColorSpace {cs} "
                    f"/Filter /JPXDecode /Length {len(payload)} >>")
        elif kind.startswith("jbig2"):
            from .jbig2 import encode_embedded, encode_embedded_text

            bits = (np.asarray(arr) > 0).astype(np.uint8)
            h, w = bits.shape
            # 'jbig2' = arith template 0; '_tpgdon' = typical
            # prediction on; '_t2' = template 2; '_mmr' = MMR mode;
            # '_text' = symbol dictionary + immediate text region
            # (one symbol = the bitmap, placed at the origin — r13)
            if kind == "jbig2_text":
                payload = encode_embedded_text(
                    [bits], [(0, 0, 0)], w, h)
            else:
                payload = encode_embedded(
                    bits,
                    template=2 if kind == "jbig2_t2" else 0,
                    tpgdon=kind == "jbig2_tpgdon",
                    mmr=kind == "jbig2_mmr")
            head = (f"<< /Subtype /Image /Width {w} /Height {h} "
                    f"/BitsPerComponent 1 /ColorSpace /DeviceGray "
                    f"/Filter /JBIG2Decode /Length {len(payload)} >>")
        else:
            a = np.asarray(arr, dtype=np.uint8)
            if kind == "flate_gray":
                h, w = a.shape
                cs, raw = "/DeviceGray", a.tobytes()
            else:
                h, w = a.shape[:2]
                cs, raw = "/DeviceRGB", a.tobytes()
            payload = _z.compress(raw)
            head = (f"<< /Subtype /Image /Width {w} /Height {h} "
                    f"/BitsPerComponent 8 /ColorSpace {cs} "
                    f"/Filter /FlateDecode /Length {len(payload)} >>")
        objects.append(head.encode() + b"\nstream\n" + payload
                       + b"\nendstream")
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, obj in enumerate(objects, 1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_off = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode()
    return bytes(out)


PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_pages", T.LongType()),
    ]
)


def pdf_to_text(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    strict: bool = False,
) -> DataFrame:
    """Text extraction over a binary PDF column — the document-corpus
    mirror of ``weburl.html_to_text``: (media_id, text, n_pages), page
    texts joined by form feed.

    ``strict=True``: non-PDF payloads raise ``NotImplementedError``,
    corrupt PDFs raise ``PdfError``-backed ``ValueError``.
    ``strict=False``: both fall back to the deterministic sha256 fake
    (``text = 'pdf:' + hex prefix``) — the never-fail admission
    contract."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf_batch in it:
            out = {"media_id": [], "text": [], "n_pages": []}
            for mid, payload in zip(
                pdf_batch[id_col], pdf_batch[payload_col]
            ):
                b = bytes(payload or b"")
                row = None
                if is_pdf(b):
                    try:
                        text, np_ = extract_pdf_text(b)
                        row = (text, np_)
                    except (PdfError, NotImplementedError):
                        if strict:
                            raise
                elif strict:
                    raise NotImplementedError(
                        "strict pdf_to_text expects %PDF- payloads; "
                        "use strict=False for the deterministic fake"
                    )
                if row is None:
                    h = hashlib.sha256(b).digest()
                    row = ("pdf:" + h[:8].hex(), 1 + h[8] % 9)
                out["media_id"].append(mid)
                out["text"].append(row[0])
                out["n_pages"].append(row[1])
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, PDF_TEXT_SCHEMA)
