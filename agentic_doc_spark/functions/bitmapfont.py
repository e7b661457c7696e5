"""Embedded 5×7 bitmap font + numpy text renderer.

The reference rasterizes born-digital PDF pages with pymupdf
(agentic_doc/utils.py:110-124 ``page_to_image``), so its grounding crops
contain readable text. The pure-stdlib build has no PDF renderer, so
``multimodal._synth_page`` synthesizes pages as tinted blocks, and the
chunk's ACTUAL text renders inside them through this font: crops of
born-digital documents carry legible glyph pixels.

The glyph set is a hand-authored classic 5×7 dot-matrix design (the
HD44780-style public-domain pattern family): A–Z, 0–9, and common
punctuation; lowercase maps to uppercase; unknown characters draw a
hollow box. Glyphs are authored as 7 visual rows of '.'/'X' and compiled
to numpy bool masks at import — rendering is pure numpy slicing, no
per-pixel Python in the hot loop beyond the per-character blit.
"""

from __future__ import annotations

import numpy as np

GLYPH_W, GLYPH_H = 5, 7
CELL_W, CELL_H = 6, 9  # 1 px inter-char gap, 2 px line gap

_RAW: dict[str, str] = {
    " ": "..... ..... ..... ..... ..... ..... .....",
    "A": "..X.. .X.X. X...X XXXXX X...X X...X X...X",
    "B": "XXXX. X...X X...X XXXX. X...X X...X XXXX.",
    "C": ".XXX. X...X X.... X.... X.... X...X .XXX.",
    "D": "XXXX. X...X X...X X...X X...X X...X XXXX.",
    "E": "XXXXX X.... X.... XXXX. X.... X.... XXXXX",
    "F": "XXXXX X.... X.... XXXX. X.... X.... X....",
    "G": ".XXX. X...X X.... X.XXX X...X X...X .XXX.",
    "H": "X...X X...X X...X XXXXX X...X X...X X...X",
    "I": ".XXX. ..X.. ..X.. ..X.. ..X.. ..X.. .XXX.",
    "J": "..XXX ...X. ...X. ...X. ...X. X..X. .XX..",
    "K": "X...X X..X. X.X.. XX... X.X.. X..X. X...X",
    "L": "X.... X.... X.... X.... X.... X.... XXXXX",
    "M": "X...X XX.XX X.X.X X.X.X X...X X...X X...X",
    "N": "X...X XX..X X.X.X X..XX X...X X...X X...X",
    "O": ".XXX. X...X X...X X...X X...X X...X .XXX.",
    "P": "XXXX. X...X X...X XXXX. X.... X.... X....",
    "Q": ".XXX. X...X X...X X...X X.X.X X..X. .XX.X",
    "R": "XXXX. X...X X...X XXXX. X.X.. X..X. X...X",
    "S": ".XXXX X.... X.... .XXX. ....X ....X XXXX.",
    "T": "XXXXX ..X.. ..X.. ..X.. ..X.. ..X.. ..X..",
    "U": "X...X X...X X...X X...X X...X X...X .XXX.",
    "V": "X...X X...X X...X X...X X...X .X.X. ..X..",
    "W": "X...X X...X X...X X.X.X X.X.X XX.XX X...X",
    "X": "X...X X...X .X.X. ..X.. .X.X. X...X X...X",
    "Y": "X...X X...X .X.X. ..X.. ..X.. ..X.. ..X..",
    "Z": "XXXXX ....X ...X. ..X.. .X... X.... XXXXX",
    "0": ".XXX. X...X X..XX X.X.X XX..X X...X .XXX.",
    "1": "..X.. .XX.. ..X.. ..X.. ..X.. ..X.. .XXX.",
    "2": ".XXX. X...X ....X ...X. ..X.. .X... XXXXX",
    "3": "XXXXX ...X. ..X.. ...X. ....X X...X .XXX.",
    "4": "...X. ..XX. .X.X. X..X. XXXXX ...X. ...X.",
    "5": "XXXXX X.... XXXX. ....X ....X X...X .XXX.",
    "6": "..XX. .X... X.... XXXX. X...X X...X .XXX.",
    "7": "XXXXX ....X ...X. ..X.. .X... .X... .X...",
    "8": ".XXX. X...X X...X .XXX. X...X X...X .XXX.",
    "9": ".XXX. X...X X...X .XXXX ....X ...X. .XX..",
    ".": "..... ..... ..... ..... ..... .XX.. .XX..",
    ",": "..... ..... ..... ..... .XX.. ..X.. .X...",
    ":": "..... .XX.. .XX.. ..... .XX.. .XX.. .....",
    ";": "..... .XX.. .XX.. ..... .XX.. ..X.. .X...",
    "!": "..X.. ..X.. ..X.. ..X.. ..X.. ..... ..X..",
    "?": ".XXX. X...X ....X ...X. ..X.. ..... ..X..",
    "'": "..X.. ..X.. ..X.. ..... ..... ..... .....",
    '"': ".X.X. .X.X. .X.X. ..... ..... ..... .....",
    "-": "..... ..... ..... XXXXX ..... ..... .....",
    "+": "..... ..X.. ..X.. XXXXX ..X.. ..X.. .....",
    "=": "..... ..... XXXXX ..... XXXXX ..... .....",
    "_": "..... ..... ..... ..... ..... ..... XXXXX",
    "/": "....X ....X ...X. ..X.. .X... X.... X....",
    "\\": "X.... X.... .X... ..X.. ...X. ....X ....X",
    "(": "...X. ..X.. .X... .X... .X... ..X.. ...X.",
    ")": ".X... ..X.. ...X. ...X. ...X. ..X.. .X...",
    "[": ".XXX. .X... .X... .X... .X... .X... .XXX.",
    "]": ".XXX. ...X. ...X. ...X. ...X. ...X. .XXX.",
    "<": "...X. ..X.. .X... X.... .X... ..X.. ...X.",
    ">": ".X... ..X.. ...X. ....X ...X. ..X.. .X...",
    "*": "..... X.X.X .XXX. XXXXX .XXX. X.X.X .....",
    "%": "XX..X XX..X ...X. ..X.. .X... X..XX X..XX",
    "&": ".XX.. X..X. X..X. .XX.. X.X.X X..X. .XX.X",
    "#": ".X.X. .X.X. XXXXX .X.X. XXXXX .X.X. .X.X.",
    "@": ".XXX. X...X X.XXX X.X.X X.XX. X.... .XXX.",
    "$": "..X.. .XXXX X.X.. .XXX. ..X.X XXXX. ..X..",
    "|": "..X.. ..X.. ..X.. ..X.. ..X.. ..X.. ..X..",
}

_UNKNOWN = "XXXXX X...X X...X X...X X...X X...X XXXXX"


def _compile(spec: str) -> np.ndarray:
    rows = spec.split()
    assert len(rows) == GLYPH_H and all(len(r) == GLYPH_W for r in rows), spec
    return np.array(
        [[c == "X" for c in r] for r in rows], dtype=bool
    )


_GLYPHS: dict[str, np.ndarray] = {ch: _compile(s) for ch, s in _RAW.items()}
_UNKNOWN_GLYPH = _compile(_UNKNOWN)


def glyph(ch: str) -> np.ndarray:
    """(7, 5) bool mask for one character; lowercase folds to uppercase,
    anything without a pattern gets the hollow-box fallback."""
    g = _GLYPHS.get(ch)
    if g is None:
        g = _GLYPHS.get(ch.upper())
    return _UNKNOWN_GLYPH if g is None else g


def render_line(
    canvas: np.ndarray,
    x: int,
    y: int,
    text: str,
    color: int = 30,
    x_max: int | None = None,
    y_max: int | None = None,
) -> int:
    """Blit one line of text onto an HxWx3 uint8 canvas at (x, y)
    top-left, clipping at ``x_max``/``y_max`` (default: the canvas
    edge) — a glyph never straddles the limit, so ink stays inside the
    caller's rect. Returns the x just past the last glyph."""
    h, w = canvas.shape[:2]
    x_lim = w if x_max is None else min(x_max, w)
    y_lim = h if y_max is None else min(y_max, h)
    for ch in text:
        if x + GLYPH_W > x_lim or y + GLYPH_H > y_lim:
            break
        canvas[y : y + GLYPH_H, x : x + GLYPH_W][glyph(ch)] = color
        x += CELL_W
    return x


def render_wrapped(
    canvas: np.ndarray,
    x0: int,
    y0: int,
    x1: int,
    y1: int,
    text: str,
    color: int = 30,
) -> int:
    """Word-wrap ``text`` into the [x0,x1)×[y0,y1) rect, one 9-px line
    pitch per row, truncating when the rect is full; a rect too narrow
    or short for even one glyph draws NOTHING (ink never bleeds past
    the rect into neighboring page area). Returns the number of lines
    drawn. Deterministic: pure function of (rect, text)."""
    if x1 - x0 < GLYPH_W or y1 - y0 < GLYPH_H:
        return 0
    cols = max(1, (x1 - x0) // CELL_W)
    lines: list[str] = []
    cur = ""
    for word in text.split():
        if not cur:
            cand = word
        else:
            cand = cur + " " + word
        if len(cand) <= cols:
            cur = cand
            continue
        if cur:
            lines.append(cur)
        while len(word) > cols:  # hard-break oversized words
            lines.append(word[:cols])
            word = word[cols:]
        cur = word
    if cur:
        lines.append(cur)
    n = 0
    y = y0
    for ln in lines:
        if y + GLYPH_H > y1:
            break
        render_line(canvas, x0, y, ln, color, x_max=x1, y_max=y1)
        y += CELL_H
        n += 1
    return n
