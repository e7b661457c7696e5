"""Minimal pure-stdlib PDF text extraction (best-effort, text-first PDFs).

The reference rasterizes and ships pages to a remote parser; the container
here has no PDF library, but the PDF *text layer* of simple generators
(reportlab — the reference's own test fixtures, tests/conftest.py:76-141 —
LaTeX, many office exporters) is extractable with nothing but zlib:

1. scan the raw bytes for ``stream ... endstream`` objects,
2. FlateDecode (zlib) when the object dict says so,
3. within each content stream, read the text-showing operators
   (``Tj``, ``TJ``, ``'``, ``"``) inside BT/ET text objects, decoding
   PDF literal-string escapes and hex strings,
4. one BT/ET text object → one text block; one content stream with text
   → one page.

Composite (Type0/CID) fonts — the layout Word/LibreOffice exporters
emit — are handled through their **ToUnicode CMaps** (bfchar/bfrange per
the public CMap spec, Adobe TN 5014), with PER-FONT SCOPING when the
object graph allows it: a lightweight ``N G obj``-level walk resolves
each page's ``/Resources /Font`` dict, each Type0 font's own
``/ToUnicode`` stream, and the content stream then tracks the current
font through ``Tf`` operators — so two CID fonts assigning the same code
differently decode correctly, and hex strings shown with a simple font
are never routed through a CMap. When the graph cannot be resolved
(fixture-grade PDFs with bare streams), the fallback is the union
code→text map applied only to 2-byte-shaped hex strings it covers
(≥80% of codes) whose latin-1 reading fails the plausibility guard —
a simple-font hex string that reads as text keeps its latin-1 reading.

Also handled: PDF 1.5+ compressed object streams (``/ObjStm`` — where
modern writers put page/font dictionaries), ``/LZWDecode`` streams (the
TIFF-variant LZW older PDFs use, with EarlyChange; decoded by
functions/tiff.lzw_decode), and embedded raster
images (``extract_pdf_images``: DCTDecode = JPEG baseline/progressive,
Flate/LZW/raw 8-bit Gray/RGB and 1-bit bilevel → PNG, CCITTFaxDecode
Group 4 fax → PNG via functions/ccitt.py, JBIG2Decode generic-region
streams → PNG via functions/jbig2.py, JPXDecode lossless JPEG 2000 →
PNG via functions/jpx.py).

NOT a general PDF parser — no xref table parsing (objects are found by
scanning, which also survives mild corruption), no encryption, no
irreversible-9/7 or multi-tile JPX, no halftone/refinement JBIG2, no
byte-aligned CCITT; anything it cannot read yields zero blocks and the caller degrades to the documented stub path. This
boundary is explicit on purpose: the goal is unstubbing the common
text-PDF case, not silently mis-reading hard ones.
"""

from __future__ import annotations

import re
import struct
import zlib

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.DOTALL)
_TEXTOBJ_RE = re.compile(rb"BT(.*?)ET", re.DOTALL)
#: text-showing operators: (string) Tj | ' | "   and   [array] TJ
_SHOW_RE = re.compile(
    rb"""
    \( ((?:[^()\\]|\\.|\((?:[^()\\]|\\.)*\))*) \) \s* (?:Tj|'|") |
    \[ ((?:[^\]\\]|\\.)*) \] \s* TJ |
    < ([0-9A-Fa-f\s]+) > \s* (?:Tj|'|")
    """,
    re.VERBOSE | re.DOTALL,
)
_ARRAY_STR_RE = re.compile(
    rb"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]+)>"
)

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _decode_literal(raw: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            m = re.match(rb"\\([0-7]{1,3})", raw[i:])
            if m:
                out.append(int(m.group(1), 8) & 0xFF)
                i += 1 + len(m.group(1))
                continue
            i += 1  # line continuation / unknown escape: drop backslash
            continue
        out += c
        i += 1
    return out.decode("latin-1")


def _decode_hex(raw: bytes, cmap: dict[int, str] | None = None) -> str:
    """UNSCOPED fallback hex decode (no font information): 2-byte-shaped
    strings go through the union ToUnicode map only when it covers ≥80%
    of their codes AND the plain latin-1 reading fails the plausibility
    guard — a simple-font hex string that already reads as text keeps
    its latin-1 reading (a mixed CID+simple-font document can no longer
    silently corrupt simple-font strings; round-3 ADVICE finding)."""
    h = re.sub(rb"\s", b"", raw)
    if len(h) % 2:
        h += b"0"
    latin = bytes.fromhex(h.decode("ascii")).decode("latin-1")
    if cmap and h and len(h) % 4 == 0 and not _plausible_text(latin):
        codes = [int(h[i : i + 4], 16) for i in range(0, len(h), 4)]
        mapped = [cmap.get(c) for c in codes]
        if sum(m is not None for m in mapped) / len(codes) >= 0.8:
            return "".join(m for m in mapped if m is not None)
    return latin


def _decode_hex_scoped(raw: bytes, cmap: dict[int, str] | None) -> str:
    """Hex decode with KNOWN font scope: a Type0 font with a ToUnicode
    map decodes its 2-byte codes through it (unmapped codes drop — they
    have no text meaning); any other font reads latin-1. No heuristics —
    the current ``Tf`` font decides."""
    h = re.sub(rb"\s", b"", raw)
    if len(h) % 2:
        h += b"0"
    if cmap is not None and len(h) % 4 == 0:
        codes = [int(h[i : i + 4], 16) for i in range(0, len(h), 4)]
        return "".join(cmap.get(c, "") for c in codes)
    return bytes.fromhex(h.decode("ascii")).decode("latin-1")


#: font selection operator: /Name size Tf
_TF_RE = re.compile(rb"/([^\s/<>\[\]()]+)\s+[-\d.]+\s+Tf")


def _text_from_textobj(body: bytes, cmap: dict[int, str] | None = None) -> str:
    """Unscoped decode (no font graph): every hex string goes through the
    union-map fallback heuristic (``_decode_hex``)."""
    pieces: list[str] = []
    for m in _SHOW_RE.finditer(body):
        lit, arr, hx = m.groups()
        if lit is not None:
            pieces.append(_decode_literal(lit))
        elif hx is not None:
            pieces.append(_decode_hex(hx, cmap))
        else:
            for am in _ARRAY_STR_RE.finditer(arr):
                alit, ahx = am.groups()
                pieces.append(
                    _decode_literal(alit)
                    if alit is not None
                    else _decode_hex(ahx, cmap)
                )
    return "".join(pieces).strip()


def _text_from_textobj_scoped(
    body: bytes,
    fonts: dict[bytes, dict[int, str]],
    cur: dict[int, str] | None,
) -> tuple[str, dict[int, str] | None]:
    """Decode one BT/ET body tracking the current font through ``Tf``
    operators (text state persists across text objects, so ``cur`` is
    threaded through and returned). ``fonts`` maps font resource names to
    their OWN ToUnicode maps (absent name → simple font → latin-1)."""
    events = sorted(
        [(m.start(), 0, m) for m in _TF_RE.finditer(body)]
        + [(m.start(), 1, m) for m in _SHOW_RE.finditer(body)]
    )
    pieces: list[str] = []
    for _pos, kind, m in events:
        if kind == 0:
            cur = fonts.get(m.group(1))
            continue
        lit, arr, hx = m.groups()
        if lit is not None:
            pieces.append(_decode_literal(lit))
        elif hx is not None:
            pieces.append(_decode_hex_scoped(hx, cur))
        else:
            for am in _ARRAY_STR_RE.finditer(arr):
                alit, ahx = am.groups()
                pieces.append(
                    _decode_literal(alit)
                    if alit is not None
                    else _decode_hex_scoped(ahx, cur)
                )
    return "".join(pieces).strip(), cur


# -- ToUnicode CMap parsing (Adobe TN 5014 bfchar/bfrange subset) ---------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_RANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
    rb"(?:<([0-9A-Fa-f]+)>|\[(.*?)\])",
    re.DOTALL,
)
_HEX1_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _u16(hexb: bytes) -> str:
    try:
        return bytes.fromhex(hexb.decode("ascii")).decode("utf-16-be")
    except (ValueError, UnicodeDecodeError):
        return ""


def parse_tounicode(payload: bytes, cmap: dict[int, str]) -> None:
    """Merge one ToUnicode CMap stream's bfchar/bfrange entries into
    ``cmap`` (2-byte source codes only — the CID layout every common
    generator emits; dst hex is UTF-16BE, possibly multi-unit)."""
    for m in _BFCHAR_RE.finditer(payload):
        for pm in _HEXPAIR_RE.finditer(m.group(1)):
            src, dst = pm.groups()
            if len(src) == 4:
                s = _u16(dst)
                if s:
                    cmap[int(src, 16)] = s
    for m in _BFRANGE_RE.finditer(payload):
        for rm in _RANGE_RE.finditer(m.group(1)):
            lo, hi, dst, arr = rm.groups()
            if len(lo) != 4 or len(hi) != 4:
                continue
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if not (0 <= hi_i - lo_i <= 0xFFFF):
                continue
            if dst is not None:
                width = len(dst)
                base = int(dst, 16)
                for k in range(hi_i - lo_i + 1):
                    s = _u16(b"%0*x" % (width, base + k))
                    if s:
                        cmap[lo_i + k] = s
            else:  # array form: one dst per code
                for k, am in enumerate(_HEX1_RE.finditer(arr)):
                    if lo_i + k > hi_i:
                        break
                    s = _u16(am.group(1))
                    if s:
                        cmap[lo_i + k] = s


#: stream dicts that are definitely not page content (images, fonts,
#: metadata) — random bytes inside them can coincidentally spell BT/ET
_NON_CONTENT = (
    b"/Image", b"/DCTDecode", b"/JPXDecode", b"/JBIG2Decode",
    b"/CCITTFaxDecode", b"/FontFile", b"/Metadata", b"/XML", b"/ObjStm",
)


def _plausible_text(s: str) -> bool:
    """Guard against garbage decoded from binary streams: require mostly
    printable characters."""
    if not s:
        return False
    printable = sum(c.isprintable() or c in "\n\t" for c in s)
    return printable / len(s) >= 0.85


# -- minimal object graph (font scoping) ----------------------------------

_OBJHEAD_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_STREAM_START_RE = re.compile(rb"stream\r?\n")
_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b")
_TOUNICODE_REF_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_RESOURCES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(?:(\d+)\s+\d+\s+R|\[(.*?)\])", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_FONT_DICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.DOTALL)
_FONT_ENTRY_RE = re.compile(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R")


def _object_map(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Scan for ``N G obj … endobj`` → {num: (header, raw stream payload
    or None)}. No xref parsing — scanning also survives mildly broken
    files; a spurious header inside a binary stream produces an unused
    entry, never a wrong resolution of a real reference (generators do
    not duplicate object numbers)."""
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    for m in _OBJHEAD_RE.finditer(data):
        num = int(m.group(1))
        start = m.end()
        end = data.find(b"endobj", start)
        body = data[start:end] if end >= 0 else data[start:]
        sm = _STREAM_START_RE.search(body)
        payload = None
        header = body
        if sm:
            header = body[: sm.start()]
            pend = body.find(b"endstream", sm.end())
            if pend >= 0:
                payload = body[sm.end() : pend].rstrip(b"\r\n")
        if num not in objs:  # first definition wins (matches readers)
            objs[num] = (header, payload)
    _expand_object_streams(objs)
    return objs


_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def _expand_object_streams(objs: dict[int, tuple[bytes, bytes | None]]) -> None:
    """Merge objects embedded in ``/Type /ObjStm`` compressed object
    streams (PDF 1.5+) into the object map: the payload starts with N
    (objnum, offset) integer pairs, object bodies begin at /First.
    Modern writers put page and font DICTIONARIES there, so without this
    the graph walk goes blind on most current-generation PDFs. Streams
    cannot nest inside an ObjStm, so embedded objects carry no payload."""
    for _num, (header, payload) in list(objs.items()):
        if b"/ObjStm" not in header or payload is None:
            continue
        nm = _OBJSTM_N_RE.search(header)
        fm = _OBJSTM_FIRST_RE.search(header)
        if not (nm and fm):
            continue
        content = _inflate(header, payload)
        if content is None:
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        head = content[:first].split()
        if len(head) < 2 * n or first > len(content):
            continue
        try:
            pairs = [(int(head[2 * i]), int(head[2 * i + 1])) for i in range(n)]
        except ValueError:
            continue
        for i, (onum, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < n else len(content) - first
            if not (0 <= off <= end <= len(content) - first):
                continue
            if onum not in objs:
                objs[onum] = (content[first + off : first + end], None)


#: decompression ceiling per stream — far above any real content/image
#: stream, far below what a crafted zip bomb could expand to across a
#: worker's concurrent tasks
_MAX_STREAM_BYTES = 256 * 1024 * 1024


def _inflate(header: bytes, payload: bytes) -> bytes | None:
    if b"FlateDecode" in header:
        try:
            d = zlib.decompressobj()
            out = d.decompress(payload, _MAX_STREAM_BYTES)
            if d.unconsumed_tail:  # bomb: would exceed the ceiling
                return None
            return out
        except zlib.error:
            return None
    if b"LZWDecode" in header:
        from agentic_doc_spark.functions.tiff import lzw_decode

        em = re.search(rb"/EarlyChange\s+(\d+)", header)
        try:
            return lzw_decode(
                payload, _MAX_STREAM_BYTES, int(em.group(1)) if em else 1
            )
        except ValueError:
            return None
    return payload


def _font_cmaps(
    objs: dict[int, tuple[bytes, bytes | None]],
) -> dict[int, dict[int, str]]:
    """Font object number → its OWN ToUnicode map (fonts without a
    resolvable ToUnicode stream are simply absent → latin-1 downstream)."""
    out: dict[int, dict[int, str]] = {}
    for num, (header, _payload) in objs.items():
        rm = _TOUNICODE_REF_RE.search(header)
        if not rm:
            continue
        tu = objs.get(int(rm.group(1)))
        if not tu or tu[1] is None:
            continue
        payload = _inflate(tu[0], tu[1])
        if payload is None:
            continue
        cm: dict[int, str] = {}
        parse_tounicode(payload, cm)
        if cm:
            out[num] = cm
    return out


def _stream_fonts(
    objs: dict[int, tuple[bytes, bytes | None]],
    cmaps: dict[int, dict[int, str]],
) -> dict[int, dict[bytes, dict[int, str]]]:
    """Content-stream object number → {font resource name: ToUnicode map}
    via each /Type /Page object's /Contents + /Resources /Font entries
    (resources inline or one indirect hop)."""
    out: dict[int, dict[bytes, dict[int, str]]] = {}
    for _num, (header, _payload) in objs.items():
        if not _TYPE_PAGE_RE.search(header):
            continue
        crefs: list[int] = []
        for cm_ in _CONTENTS_RE.finditer(header):
            single, arr = cm_.groups()
            if single is not None:
                crefs.append(int(single))
            else:
                crefs.extend(int(x.group(1)) for x in _REF_RE.finditer(arr))
        res = header
        rm = _RESOURCES_REF_RE.search(header)
        if rm and int(rm.group(1)) in objs:
            res = objs[int(rm.group(1))][0]
        fonts: dict[bytes, dict[int, str]] = {}
        fm = _FONT_DICT_RE.search(res)
        if fm:
            for name, ref in _FONT_ENTRY_RE.findall(fm.group(1)):
                cm2 = cmaps.get(int(ref))
                if cm2:
                    fonts[name] = cm2
        for c in crefs:
            out.setdefault(c, {}).update(fonts)
    return out


def extract_pdf_blocks(data: bytes) -> list[tuple[int, str]]:
    """PDF bytes → ordered (page_idx, text_block). Empty list when the
    file has no extractable text layer (scanned/encrypted).

    Decode strategy per content stream: when the object graph resolves
    a page → resources → font → ToUnicode chain for it, show strings
    decode with PER-FONT scoping (``Tf`` tracking — exact for
    multi-CID-font documents); otherwise the union-CMap fallback
    heuristic applies (``_decode_hex``)."""
    objs = _object_map(data)
    cmaps = _font_cmaps(objs)
    scoped = _stream_fonts(objs, cmaps)

    ordered: list[tuple[int | None, bytes, bytes]] = []  # (num, header, payload)
    for num, (header, payload) in objs.items():
        if payload is not None:
            ordered.append((num, header, payload))
    if not ordered:
        # no parseable objects (or exotic layout): raw stream scan
        for m in _STREAM_RE.finditer(data):
            start = m.end()
            end = data.find(b"endstream", start)
            if end < 0:
                continue
            ordered.append((None, m.group(1), data[start:end].rstrip(b"\r\n")))

    # pass 1 — union fallback map: every CMap stream found anywhere
    # (object-graph ones included), collected BEFORE any content decode
    # so stream order cannot matter. Used only for streams the graph
    # cannot scope.
    union: dict[int, str] = {}
    for cm in cmaps.values():
        union.update(cm)
    inflated: list[tuple[int | None, bytes]] = []
    for num, header, payload in ordered:
        if any(k in header for k in _NON_CONTENT):
            continue
        payload = _inflate(header, payload)
        if payload is None:
            continue
        if b"beginbfchar" in payload or b"beginbfrange" in payload:
            parse_tounicode(payload, union)  # re-merge is idempotent
            continue  # a CMap stream is never page content
        if b"BT" in payload:
            inflated.append((num, payload))

    # pass 2 — decode: per-font scoping when the graph resolved fonts
    # for this stream, union heuristic otherwise. Page numbering: a
    # content stream referenced by a /Type /Page object takes THAT
    # page's index (the same /Type /Page-order scheme
    # extract_pdf_images uses, so mixed scanned/text documents keep
    # text and images in true page order); unreferenced streams fall
    # back to sequential text-yielding-stream counting (graph-less
    # fixture PDFs).
    page_of = _content_pages(objs)
    raw_blocks: list[tuple[int, int, str]] = []  # (page, seq, text)
    seq = 0
    fallback_page = 0
    for num, payload in inflated:
        found = False
        mapped = num is not None and num in page_of
        pg = page_of[num] if mapped else fallback_page
        fonts = scoped.get(num) if num is not None else None
        cur: dict[int, str] | None = None
        for tm in _TEXTOBJ_RE.finditer(payload):
            if fonts:
                text, cur = _text_from_textobj_scoped(tm.group(1), fonts, cur)
            else:
                text = _text_from_textobj(tm.group(1), union or None)
            if text and _plausible_text(text):
                raw_blocks.append((pg, seq, text))
                seq += 1
                found = True
        if found and not mapped:
            fallback_page += 1
    raw_blocks.sort(key=lambda t: (t[0], t[1]))
    return [(pg, text) for pg, _s, text in raw_blocks]


def _content_pages(objs: dict[int, tuple[bytes, bytes | None]]) -> dict[int, int]:
    """Content-stream object number → page index, by /Type /Page object
    order — the SHARED page-numbering scheme of the text and image
    extractors."""
    out: dict[int, int] = {}
    pi = 0
    for _num, (header, _payload) in objs.items():
        if not _TYPE_PAGE_RE.search(header):
            continue
        for cm_ in _CONTENTS_RE.finditer(header):
            single, arr = cm_.groups()
            if single is not None:
                out.setdefault(int(single), pi)
            else:
                for x in _REF_RE.finditer(arr):
                    out.setdefault(int(x.group(1)), pi)
        pi += 1
    return out


# -- embedded raster images (scanned-PDF support) --------------------------

_XOBJECT_DICT_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.DOTALL)
_SUBTYPE_IMAGE_RE = re.compile(rb"/Subtype\s*/Image")
_WIDTH_RE = re.compile(rb"/Width\s+(\d+)")
_HEIGHT_RE = re.compile(rb"/Height\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")


def _image_payload(
    header: bytes, payload: bytes, transcode: bool = True
) -> bytes | None:
    """Image XObject stream → decodable image bytes: DCTDecode payloads
    ARE JPEG streams (baseline or progressive — both decode via
    functions/jpeg.py); Flate/LZW/unfiltered raw samples re-encode as
    PNG — 8-bit DeviceGray/DeviceRGB, plus 1-bit DeviceGray/ImageMask
    (the classic bilevel scan; /Decode [1 0] inversion honored);
    CCITTFaxDecode streams decode as Group 4 (K<0) or Group 3
    1-D/mixed-2-D fax (K≥0; BlackIs1, /EndOfLine and /Decode
    honored); JBIG2Decode arithmetic generic-region streams
    decode via the T.88 MQ coder. Anything else (JPX, symbol-region
    JBIG2, G3 CCITT) returns None — a surfaced gap, not silent
    garbage."""
    if payload is None:
        return None
    if b"/DCTDecode" in header:
        return payload if payload[:2] == b"\xff\xd8" else None
    if b"/CCITTFaxDecode" in header:
        # CCITT fax images decode for real via functions/ccitt.py:
        # K < 0 = Group 4, K = 0 = G3 1-D (MH), K > 0 = G3 mixed 2-D
        # (/EndOfLine honored); EncodedByteAlign remains a surfaced
        # gap (None → error row).
        km = re.search(rb"/K\s+(-?\d+)", header)
        k = int(km.group(1)) if km else 0
        if b"/EncodedByteAlign true" in header:
            return None
        cm = re.search(rb"/Columns\s+(\d+)", header)
        cols = int(cm.group(1)) if cm else 1728
        rm = re.search(rb"/Rows\s+(\d+)", header)
        hm2 = _HEIGHT_RE.search(header)
        rows = int(rm.group(1)) if rm else (int(hm2.group(1)) if hm2 else 0)
        if not (0 < cols * rows <= 64_000_000):
            return None
        import numpy as np  # lazy: keeps the text path stdlib-only

        from agentic_doc_spark.functions.ccitt import g4_decode
        from agentic_doc_spark.functions.png import encode_png

        eol = b"/EndOfLine true" in header
        try:
            if k < 0:
                black = g4_decode(payload, cols, rows)
            else:
                from agentic_doc_spark.functions.ccitt import g3_decode

                black = g3_decode(
                    payload, cols, rows, two_d=k > 0, eol=eol
                )
        except ValueError:
            return None
        if not transcode:
            return b""  # probe: valid, encoding skipped
        # BlackIs1 false (default): the filter emits SAMPLE 0 for black;
        # DeviceGray 1-bit then maps sample 0 → black. /Decode [1 0]
        # inverts samples, same as the uncompressed bilevel path below.
        sample = black if b"/BlackIs1 true" in header else 1 - black
        if b"/Decode [1 0]" in header or b"/Decode[1 0]" in header:
            sample = 1 - sample
        return encode_png((sample * 255).astype(np.uint8))
    if b"/JBIG2Decode" in header:
        # embedded JBIG2 (arithmetic generic regions AND symbol-coded
        # text regions) decodes via functions/jbig2.py; halftone/
        # refinement regions, Huffman variants and /JBIG2Globals-
        # referencing streams stay surfaced gaps
        if b"/JBIG2Globals" in header:
            return None
        import numpy as np  # lazy: keeps the text path stdlib-only

        from agentic_doc_spark.functions.jbig2 import decode_embedded
        from agentic_doc_spark.functions.png import encode_png

        wj, hj = _WIDTH_RE.search(header), _HEIGHT_RE.search(header)
        expect = (
            (int(wj.group(1)), int(hj.group(1))) if wj and hj else None
        )
        try:
            black = decode_embedded(payload, expect=expect)
        except (ValueError, struct.error):
            return None
        if not transcode:
            return b""  # probe: valid, encoding skipped
        # the JBIG2Decode filter delivers DeviceGray samples with 0 =
        # black (decoders invert the coder's black=1 convention)
        sample = 1 - black
        if b"/Decode [1 0]" in header or b"/Decode[1 0]" in header:
            sample = 1 - sample
        return encode_png((sample * 255).astype(np.uint8))
    if b"/JPXDecode" in header:
        # restricted-profile lossless JPEG 2000 (functions/jpx.py);
        # irreversible 9/7 / multi-tile / multi-layer streams surface
        import numpy as np  # lazy: keeps the text path stdlib-only

        from agentic_doc_spark.functions.jpx import decode_jpx
        from agentic_doc_spark.functions.png import encode_png

        try:
            arr = decode_jpx(payload)
        except (ValueError, struct.error, IndexError):
            return None
        if not transcode:
            return b""  # probe: valid, encoding skipped
        return encode_png(arr.astype(np.uint8))
    wm, hm, bm = (
        _WIDTH_RE.search(header),
        _HEIGHT_RE.search(header),
        _BPC_RE.search(header),
    )
    bpc = int(bm.group(1)) if bm else (1 if b"/ImageMask" in header else 0)
    if not (wm and hm) or bpc not in (1, 8):
        return None
    w, h = int(wm.group(1)), int(hm.group(1))
    if not (0 < w * h <= 64_000_000):
        return None
    raw = _inflate(header, payload)
    if raw is None:
        return None
    import numpy as np  # lazy: keeps the text path stdlib-only

    from agentic_doc_spark.functions.png import encode_png

    pm = re.search(rb"/Predictor\s+(\d+)", header)
    if pm and int(pm.group(1)) >= 10:
        # PNG row predictors (PDF 7.4.4.4): each row is filter-tagged,
        # exactly the PNG scanline layout — reuse the PNG defilter with
        # the declared Colors/Columns/BitsPerComponent geometry
        from agentic_doc_spark.functions.png import _defilter

        cm = re.search(rb"/Colors\s+(\d+)", header)
        colors = int(cm.group(1)) if cm else 1
        colm = re.search(rb"/Columns\s+(\d+)", header)
        columns = int(colm.group(1)) if colm else w
        try:
            rows, _used = _defilter(raw, 0, columns, h, colors, bpc)
        except ValueError:
            return None
        raw = rows.tobytes()
    elif pm and int(pm.group(1)) != 1:
        return None  # TIFF predictor 2: rare for images, surfaced gap

    if bpc == 1:
        if not (b"/DeviceGray" in header or b"/ImageMask" in header):
            return None
        stride = (w + 7) // 8
        if len(raw) < stride * h:
            return None
        if not transcode:
            return b""  # probe: valid, encoding skipped
        rows = np.frombuffer(
            raw[: stride * h], dtype=np.uint8
        ).reshape(h, stride)
        bits = np.unpackbits(rows, axis=1)[:, :w]
        if b"/Decode [1 0]" in header or b"/Decode[1 0]" in header:
            bits = 1 - bits
        return encode_png((bits * 255).astype(np.uint8))
    ch = 3 if b"/DeviceRGB" in header else (
        1 if b"/DeviceGray" in header else 0
    )
    if not ch or len(raw) < w * h * ch:
        return None
    if not transcode:
        return b""  # probe: valid, encoding skipped
    arr = np.frombuffer(raw[: w * h * ch], dtype=np.uint8).reshape(h, w, ch)
    return encode_png(arr)


def extract_pdf_images(
    data: bytes, transcode: bool = True
) -> list[tuple[int, bytes]]:
    """PDF bytes → ordered (page_idx, image_bytes) for every embedded
    raster the object graph can resolve (page → /Resources /XObject →
    /Subtype /Image). This is what makes SCANNED PDFs — pages that are
    one big DCTDecode JPEG with no text layer — yield media spans
    instead of error documents. Falls back to a whole-file scan (each
    image its own page index) when no page objects parse. The reference
    gets the same pixels by rasterizing via pymupdf
    (agentic_doc/utils.py:110-124); here the embedded stream IS the
    page raster. ``transcode=False`` probes only: entries carry empty
    bytes but validity/page/ORDER are identical to the transcoding run —
    the cheap enumeration mode the span builder uses (the sidecar
    ``pdf_media_table`` does the one real transcode)."""
    objs = _object_map(data)
    out: list[tuple[int, bytes]] = []
    pages = [
        (num, header)
        for num, (header, _p) in objs.items()
        if _TYPE_PAGE_RE.search(header)
    ]
    seen: set[int] = set()
    for pi, (_num, header) in enumerate(pages):
        res = header
        rm = _RESOURCES_REF_RE.search(header)
        if rm and int(rm.group(1)) in objs:
            res = objs[int(rm.group(1))][0]
        xm = _XOBJECT_DICT_RE.search(res)
        if not xm:
            continue
        for _name, ref in _FONT_ENTRY_RE.findall(xm.group(1)):
            o = objs.get(int(ref))
            if not o or not _SUBTYPE_IMAGE_RE.search(o[0]):
                continue
            img = _image_payload(o[0], o[1], transcode)
            if img is not None:
                out.append((pi, img))
                seen.add(int(ref))
    if not out:  # no resolvable page graph: flat scan, one page per image
        for num, (header, payload) in objs.items():
            if num in seen or not _SUBTYPE_IMAGE_RE.search(header):
                continue
            img = _image_payload(header, payload, transcode)
            if img is not None:
                out.append((len(out), img))
    return out
