"""CCITT Group 4 (ITU-T T.6 / MMR) and Group 3 1-D (Modified Huffman)
bilevel codecs — pure stdlib + numpy.

Closes the highest-frequency remaining codec gap (round-4 VERDICT task
5): fax-scanned TIFFs (Compression=4/2) and PDF ``/CCITTFaxDecode``
streams with K<0, which the reference decodes for free through pymupdf
(agentic_doc/utils.py:110-124). The run-length code tables below are the
published ITU-T T.4 standard tables (terminating codes 0–63, make-up
codes 64–1728 per colour, extended make-ups 1792–2560 shared); the 2-D
vertical/horizontal/pass mode codes are T.4 §2 / T.6 §4. Self-checks:
``tests/test_tiff.py`` pins prefix-freeness and code-count structure of
every table, G4↔uncompressed pixel equality on fixtures, and random
round-trips.

Representation: a decoded page is an (h, w) uint8 array with 1 = BLACK
(the first run of every coded line is white, per the standard). Callers
map to samples via their container's photometric convention (TIFF
PhotometricInterpretation, PDF BlackIs1/Decode).

Scale note: this is a per-page kernel invoked inside the row kernels' decode
ladders — run-loop Python over at most a few thousand runs per scanned
page, never a per-row Spark UDF.
"""

from __future__ import annotations

from bisect import bisect_right

import numpy as np

# --- ITU-T T.4 run-length tables (run: MSB-first code bitstring) ----------

_WHITE_TERM = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
}

_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}

_BLACK_TERM = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011",
    5: "0011", 6: "0010", 7: "00011", 8: "000101", 9: "000100",
    10: "0000100", 11: "0000101", 12: "0000111", 13: "00000100",
    14: "00000111", 15: "000011000", 16: "0000010111",
    17: "0000011000", 18: "0000001000", 19: "00001100111",
    20: "00001101000", 21: "00001101100", 22: "00000110111",
    23: "00000101000", 24: "00000010111", 25: "00000011000",
    26: "000011001010", 27: "000011001011", 28: "000011001100",
    29: "000011001101", 30: "000001101000", 31: "000001101001",
    32: "000001101010", 33: "000001101011", 34: "000011010010",
    35: "000011010011", 36: "000011010100", 37: "000011010101",
    38: "000011010110", 39: "000011010111", 40: "000001101100",
    41: "000001101101", 42: "000011011010", 43: "000011011011",
    44: "000001010100", 45: "000001010101", 46: "000001010110",
    47: "000001010111", 48: "000001100100", 49: "000001100101",
    50: "000001010010", 51: "000001010011", 52: "000000100100",
    53: "000000110111", 54: "000000111000", 55: "000000100111",
    56: "000000101000", 57: "000001011000", 58: "000001011001",
    59: "000000101011", 60: "000000101100", 61: "000001011010",
    62: "000001100110", 63: "000001100111",
}

_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

#: extended make-up codes 1792–2560 — shared by both colours
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

#: T.4/T.6 two-dimensional mode codes
_MODE_V0 = "1"
_MODE_VR = {1: "011", 2: "000011", 3: "0000011"}
_MODE_VL = {1: "010", 2: "000010", 3: "0000010"}
_MODE_H = "001"
_MODE_P = "0001"
_EOL = "000000000001"


def _decode_map(*tables: dict[int, str]) -> dict[tuple[int, int], int]:
    out: dict[tuple[int, int], int] = {}
    for t in tables:
        for run, code in t.items():
            key = (len(code), int(code, 2))
            if key in out:
                raise AssertionError(f"duplicate code {code}")
            out[key] = run
    return out


_WHITE_DEC = _decode_map(_WHITE_TERM, _WHITE_MAKEUP, _EXT_MAKEUP)
_BLACK_DEC = _decode_map(_BLACK_TERM, _BLACK_MAKEUP, _EXT_MAKEUP)
_MAX_CODE_LEN = 14


class _BitReader:
    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position, MSB-first
        self.n = len(data) * 8

    def read_bit(self) -> int:
        if self.pos >= self.n:
            raise ValueError("CCITT stream exhausted")
        b = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def eod(self) -> bool:
        return self.pos >= self.n


def _read_run(r: _BitReader, black: bool) -> int:
    """One complete run length: make-up codes accumulate until a
    terminating (<64) code arrives."""
    table = _BLACK_DEC if black else _WHITE_DEC
    total = 0
    while True:
        ln, val = 0, 0
        while True:
            val = (val << 1) | r.read_bit()
            ln += 1
            run = table.get((ln, val))
            if run is not None:
                break
            if ln > _MAX_CODE_LEN:
                raise ValueError("invalid CCITT run code")
        total += run
        if run < 64:
            return total


def _b1_b2(ref: list[int], a0: int, color: int, width: int) -> tuple[int, int]:
    """b1 = first changing element of the reference line right of a0 with
    opposite colour to a0's colour; b2 = the next one. ``ref`` holds the
    change positions of the reference line (even index = white→black)."""
    i = bisect_right(ref, a0)
    if (i & 1) != color:
        i += 1
    b1 = ref[i] if i < len(ref) else width
    b2 = ref[i + 1] if i + 1 < len(ref) else width
    return b1, b2


def _row_from_changes(changes: list[int], width: int) -> np.ndarray:
    row = np.zeros(width, dtype=np.uint8)
    for k in range(0, len(changes), 2):
        x0 = min(changes[k], width)
        x1 = min(changes[k + 1], width) if k + 1 < len(changes) else width
        row[x0:x1] = 1
    return row


def _decode_line_2d(r: _BitReader, ref: list[int], width: int) -> list[int]:
    """One 2-D coded line (shared by T.6/G4 and T.4 2-D rows): mode
    codes against the reference line's changing elements → change
    positions of the current line."""
    cur: list[int] = []
    a0, color = -1, 0
    while a0 < width:
        # mode code: walk the prefix tree bit by bit
        if r.eod():
            raise ValueError("CCITT stream ended mid-picture")
        if r.read_bit():
            mode = ("V", 0)
        else:
            if r.read_bit():
                mode = ("V", 1) if r.read_bit() else ("V", -1)
            elif r.read_bit():
                mode = ("H", 0)
            elif r.read_bit():
                mode = ("P", 0)
            elif r.read_bit():
                mode = ("V", 2) if r.read_bit() else ("V", -2)
            else:
                if r.read_bit():
                    mode = ("V", 3) if r.read_bit() else ("V", -3)
                else:
                    # 0000000...: EOL/EOFB inside a line (a valid
                    # stream never has one mid-line) or garbage
                    raise ValueError("invalid CCITT mode code")
        b1, b2 = _b1_b2(ref, a0, color, width)
        kind, d = mode
        if kind == "P":
            if b2 <= a0 and a0 >= 0:
                raise ValueError("CCITT pass mode does not advance")
            a0 = b2
        elif kind == "H":
            start = a0 if a0 > 0 else 0
            r1 = _read_run(r, black=bool(color))
            r2 = _read_run(r, black=not bool(color))
            a1 = start + r1
            a2 = a1 + r2
            if a2 <= a0 and a0 >= 0:
                raise ValueError("CCITT horizontal mode does not advance")
            # cur's alternation invariant (even index = white→black)
            # holds in both colours: appended changes always flip
            cur.extend((a1, a2))
            a0 = a2
        else:  # vertical
            a1 = b1 + d
            if a1 < 0 or a1 > width or (a1 <= a0 and a0 >= 0):
                raise ValueError("CCITT vertical move out of range")
            cur.append(a1)
            a0 = a1
            color ^= 1
    return cur


def _decode_line_1d(r: _BitReader, width: int) -> list[int]:
    """One Modified-Huffman 1-D line → change positions."""
    x, black = 0, False
    changes: list[int] = []
    while x < width:
        run = _read_run(r, black)
        x += run
        changes.append(min(x, width))
        black = not black
    return changes


def _ref_of(cur: list[int], width: int) -> list[int]:
    ref = [c for c in cur if c < width]
    if len(ref) % 2:
        ref.append(width)
    return ref


def g4_decode(data: bytes, width: int, height: int) -> np.ndarray:
    """T.6 (MMR) decode → (height, width) uint8, 1 = black. Decodes
    exactly ``height`` rows; a trailing EOFB is accepted but not
    required (TIFF strips usually omit it)."""
    if width <= 0 or height <= 0:
        raise ValueError("bad CCITT dimensions")
    r = _BitReader(data)
    out = np.zeros((height, width), dtype=np.uint8)
    ref: list[int] = []  # imaginary all-white line above the first row
    for y in range(height):
        cur = _decode_line_2d(r, ref, width)
        out[y] = _row_from_changes(cur, width)
        ref = _ref_of(cur, width)
    return out


def g3_1d_decode(data: bytes, width: int, height: int) -> np.ndarray:
    """Modified-Huffman (TIFF Compression=2) decode: pure 1-D run
    lengths, each row starting on a byte boundary, no EOLs."""
    if width <= 0 or height <= 0:
        raise ValueError("bad CCITT dimensions")
    r = _BitReader(data)
    out = np.zeros((height, width), dtype=np.uint8)
    for y in range(height):
        if r.pos & 7:
            r.pos += 8 - (r.pos & 7)  # rows are byte-aligned
        out[y] = _row_from_changes(_decode_line_1d(r, width), width)
    return out


def _skip_to_eol(r: _BitReader) -> None:
    """Consume (fill) zeros until the terminating 1 of an EOL. T.4 EOLs
    are ≥ 11 zeros + 1; encoders may pad with extra zero fill bits."""
    zeros = 0
    while True:
        b = r.read_bit()
        if b:
            if zeros < 11:
                raise ValueError("CCITT G3: expected EOL")
            return
        zeros += 1
        if zeros > 4096:
            raise ValueError("CCITT G3: runaway EOL fill")


def g3_decode(
    data: bytes,
    width: int,
    height: int,
    two_d: bool = True,
    eol: bool = True,
) -> np.ndarray:
    """T.4 Group 3 decode (TIFF Compression=3, PDF /CCITTFaxDecode
    K ≥ 0): with ``eol`` every line is preceded by an EOL (fill bits
    tolerated); in 2-D mode (T4Options bit 0 / K>0) a 1-bit tag after
    the EOL — or at bare line start when PDF /EndOfLine is false —
    selects 1-D (1) or 2-D (0) coding for that line, the 2-D rows
    referencing the previous line through the same mode coder as G4.
    ``two_d=False, eol=False`` is the PDF K=0 unaligned MH shape."""
    if width <= 0 or height <= 0:
        raise ValueError("bad CCITT dimensions")
    r = _BitReader(data)
    out = np.zeros((height, width), dtype=np.uint8)
    ref: list[int] = []
    for y in range(height):
        if eol:
            _skip_to_eol(r)
        if two_d and r.read_bit():
            cur = _decode_line_1d(r, width)
        elif two_d:
            cur = _decode_line_2d(r, ref, width)
        else:
            cur = _decode_line_1d(r, width)
        out[y] = _row_from_changes(cur, width)
        ref = _ref_of(cur, width)
    return out


# --- encoder (fixtures + encode_tiff_bilevel) -----------------------------


class _BitWriter:
    __slots__ = ("bits",)

    def __init__(self):
        self.bits: list[str] = []

    def write(self, code: str) -> None:
        self.bits.append(code)

    def tobytes(self) -> bytes:
        s = "".join(self.bits)
        s += "0" * (-len(s) % 8)
        return bytes(
            int(s[i : i + 8], 2) for i in range(0, len(s), 8)
        )


def _emit_run(w: _BitWriter, run: int, black: bool) -> None:
    term = _BLACK_TERM if black else _WHITE_TERM
    makeup = _BLACK_MAKEUP if black else _WHITE_MAKEUP
    while run >= 2624:
        w.write(_EXT_MAKEUP[2560])
        run -= 2560
    if run >= 64:
        if run > 1791:
            step = (run - 1792) // 64 * 64 + 1792
            w.write(_EXT_MAKEUP[step])
        else:
            step = run // 64 * 64
            w.write(makeup[step])
        run -= step
    w.write(term[run])


def _changes_of_row(row: np.ndarray) -> list[int]:
    d = np.flatnonzero(np.diff(row.astype(np.int8)))
    changes = (d + 1).tolist()
    if row[0]:
        changes = [0] + changes
    return changes


def _encode_line_2d(
    w: _BitWriter, cur: list[int], ref: list[int], width: int
) -> None:
    """One 2-D coded line (shared by G4 and G3 2-D rows): pass when
    b2 < a1, vertical when |a1−b1| ≤ 3, else horizontal."""
    a0, color = -1, 0
    while a0 < width:
        i = bisect_right(cur, a0)
        if (i & 1) != color:
            i += 1
        a1 = cur[i] if i < len(cur) else width
        b1, b2 = _b1_b2(ref, a0, color, width)
        if b2 < a1:
            w.write(_MODE_P)
            a0 = b2
        elif abs(a1 - b1) <= 3:
            d = a1 - b1
            w.write(
                _MODE_V0 if d == 0
                else (_MODE_VR[d] if d > 0 else _MODE_VL[-d])
            )
            a0 = a1
            color ^= 1
        else:
            j = bisect_right(cur, a1)
            if (j & 1) == color:
                j += 1
            a2 = cur[j] if j < len(cur) else width
            w.write(_MODE_H)
            start = a0 if a0 > 0 else 0
            _emit_run(w, a1 - start, black=bool(color))
            _emit_run(w, a2 - a1, black=not bool(color))
            a0 = a2


def _encode_line_1d(w: _BitWriter, cur: list[int], width: int) -> None:
    # the decoder stops once x reaches width, so never emit a run past it
    x, black = 0, False
    for c in cur + [width]:
        if x >= width:
            break
        _emit_run(w, c - x, black)
        x = c
        black = not black


def g4_encode(page: np.ndarray, eofb: bool = True) -> bytes:
    """T.6 (MMR) encode of an (h, w) 0/1 array (1 = black). Greedy
    standard coder; EOFB appended unless ``eofb=False`` (TIFF strips)."""
    page = (np.asarray(page) != 0).astype(np.uint8)
    h, width = page.shape
    w = _BitWriter()
    ref: list[int] = []
    for y in range(h):
        cur = _changes_of_row(page[y])
        _encode_line_2d(w, cur, ref, width)
        ref = cur
    if eofb:
        w.write(_EOL)
        w.write(_EOL)
    return w.tobytes()


def g3_encode(
    page: np.ndarray, two_d: bool = True, k: int = 2, eol: bool = True
) -> bytes:
    """T.4 Group 3 fixture encoder: every ``k``-th line is coded 1-D
    (tag 1), the rest 2-D against the previous line (tag 0); pure 1-D
    when ``two_d=False`` (no tags); ``eol=False`` drops the EOL framing
    (the PDF /EndOfLine-false shape)."""
    page = (np.asarray(page) != 0).astype(np.uint8)
    h, width = page.shape
    w = _BitWriter()
    ref: list[int] = []
    for y in range(h):
        if eol:
            w.write(_EOL)
        cur = _changes_of_row(page[y])
        if not two_d:
            _encode_line_1d(w, cur, width)
        elif y % max(k, 1) == 0:
            w.write("1")
            _encode_line_1d(w, cur, width)
        else:
            w.write("0")
            _encode_line_2d(w, cur, ref, width)
        ref = cur
    return w.tobytes()
