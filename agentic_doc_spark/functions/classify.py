"""Chunk classification + HTML boilerplate stripping.

The single semantic contract for span `kind` assignment and boilerplate
removal, implemented twice off the SAME regex constants:

- scalar Python (``classify_kind`` / ``is_boilerplate``) — used by the
  pure-Python oracle in synth.py and by unit tests;
- vectorized (``classify_arrays``, with the pandas wrapper
  ``classify_frame``) — the batch kernel the Arrow engine runs. Arrow
  compute kernels build every mask; each regex then runs as one bare
  Python loop over only the rows whose result is used. Python ``re`` has no
  C-vectorized form (pandas' object-dtype ``.str`` is the same
  per-element loop with more overhead), so the saving is in running
  fewer rows, not in hiding the loop.

Kind vocabulary = reference ChunkType (agentic_doc/common.py:22-26:
text|table|figure|marginalia) + 'media' for pure media spans. Boilerplate
stripping (nav/footer/aside DOM heuristics + anchor-link density) is the
north-rule addition with no reference analog (SURVEY.md §2 end note);
the link-density heuristic follows the shallow-text-features approach of
Kohlschütter/Fankhauser/Nejdl, "Boilerplate detection using shallow text
features" (WSDM 2010).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# --- shared regex contract -------------------------------------------------

#: marginalia: page numbers, "Page N of M", roman-numeral folios
#: (reference chunk type 'marginalia', agentic_doc/common.py:26).
MARGINALIA_RE = re.compile(
    r"^\s*(?:page\s+\d+(?:\s+of\s+\d+)?|\d{1,4}|[ivxlcdm]{1,7})\s*$",
    re.IGNORECASE,
)

#: table: at least one line with two-or-more pipe-separated cells.
TABLE_RE = re.compile(r"\|.*\|")

#: boilerplate DOM containers (north rule: nav/footer/header/aside strip).
BOILER_TAG_RE = re.compile(r"<(?:nav|footer|aside)[\s>/]", re.IGNORECASE)

#: boilerplate phrase heuristics (cookie banners, copyright lines).
BOILER_PHRASE_RE = re.compile(
    r"(?:accept\s+(?:all\s+)?cookies|cookie\s+policy|all\s+rights\s+reserved"
    r"|©\s*\d{4}|terms\s+of\s+service|privacy\s+policy)",
    re.IGNORECASE,
)

#: anchor contents, for link-density: chars inside <a ...>...</a>.
ANCHOR_RE = re.compile(r"<a[\s>].*?</a>", re.IGNORECASE | re.DOTALL)
TAG_RE = re.compile(r"<[^>]+>")

#: corrupt marker: NUL byte in text, or kind literal 'corrupt' — triggers
#: the per-part failure path (reference per-page error semantics,
#: agentic_doc/parse.py:722-739).
CORRUPT_MARKER = "\x00"

LINK_DENSITY_THRESHOLD = 0.5


# --- scalar implementations (oracle / tests) -------------------------------


def link_density(text: str) -> float:
    """chars inside <a> anchors / total tag-stripped chars (0 if no text)."""
    if not text:
        return 0.0
    anchor_chars = sum(len(TAG_RE.sub("", m)) for m in ANCHOR_RE.findall(text))
    total = len(TAG_RE.sub("", text))
    return anchor_chars / total if total else 0.0


def is_boilerplate(text: str | None) -> bool:
    if not text:
        return False
    if BOILER_TAG_RE.search(text):
        return True
    if BOILER_PHRASE_RE.search(text):
        return True
    return link_density(text) > LINK_DENSITY_THRESHOLD


def is_corrupt(kind: str | None, text: str | None) -> bool:
    return kind == "corrupt" or bool(text and CORRUPT_MARKER in text)


def classify_kind(kind: str | None, text: str | None, media_ref: str | None) -> str:
    """Assign the final span kind. Pre-labeled kinds pass through;
    'raw'/None are classified by heuristic."""
    if kind in ("text", "table", "figure", "marginalia", "media"):
        return kind
    if media_ref is not None and media_ref != "":
        return "media" if not text else "figure"
    t = text or ""
    if TABLE_RE.search(t):
        return "table"
    if MARGINALIA_RE.match(t):
        return "marginalia"
    return "text"


# --- vectorized implementation (Spark kernel) ------------------------------

_KNOWN_KINDS = pa.array(["text", "table", "figure", "marginalia", "media"])


def _hits(find, texts: np.ndarray) -> np.ndarray:
    """Row mask of a bound ``Pattern.search`` / ``match`` over an object
    array of str — one bare loop, no per-row Series machinery."""
    return np.array([find(t) is not None for t in texts], dtype=bool)


def classify_arrays(
    kind: pa.Array, text: pa.Array, media_ref: pa.Array
) -> tuple[pa.Array, np.ndarray, np.ndarray]:
    """Vectorized classify + strip over flat Arrow span columns.

    Returns (kind_out, keep, corrupt): the final kind as a string array,
    whether the span survives the boilerplate strip, and whether it
    triggers its part's failure. The Arrow kernels do the masks; each
    regex runs as one bare loop over only the rows whose result is used:

    - TABLE_RE / MARGINALIA_RE only on rows that are neither pre-labelled
      nor media-bearing (every other row's kind is fixed without them),
      and TABLE_RE only where the text holds two pipes;
    - the tag and link-density checks only on rows containing '<'.

    BOILER_PHRASE_RE and MARGINALIA_RE stay Python ``re``: their
    IGNORECASE Unicode folding and Unicode ``\\s`` have no exact RE2 twin.
    """
    n = len(text)
    text = pc.fill_null(text, "")
    texts = text.to_numpy(zero_copy_only=False)

    known = pc.fill_null(pc.is_in(kind, value_set=_KNOWN_KINDS), False)
    has_media = pc.fill_null(pc.greater(pc.binary_length(media_ref), 0), False)

    # heuristic kinds for the rows nothing else labels: table before
    # marginalia, as in classify_kind
    heur = ~np.asarray(pc.or_(known, has_media))
    is_table = np.zeros(n, dtype=bool)
    is_marg = np.zeros(n, dtype=bool)
    piped = heur & (pc.count_substring(text, "|").to_numpy() >= 2)
    idx = np.flatnonzero(piped)
    is_table[idx] = _hits(TABLE_RE.search, texts[idx])
    idx = np.flatnonzero(heur & ~is_table)
    is_marg[idx] = _hits(MARGINALIA_RE.match, texts[idx])

    heur_kind = pc.if_else(
        is_table, "table", pc.if_else(is_marg, "marginalia", "text")
    )
    media_kind = pc.if_else(pc.equal(text, ""), "media", "figure")
    kind_out = pc.if_else(
        known, kind, pc.if_else(has_media, media_kind, heur_kind)
    )

    boiler = _hits(BOILER_PHRASE_RE.search, texts)
    idx = np.flatnonzero(np.asarray(pc.match_substring(text, "<")))
    tag = BOILER_TAG_RE.search
    boiler[idx] |= np.array(
        [
            tag(t) is not None or link_density(t) > LINK_DENSITY_THRESHOLD
            for t in texts[idx]
        ],
        dtype=bool,
    )

    corrupt = pc.or_(
        pc.fill_null(pc.equal(kind, "corrupt"), False),
        pc.match_substring(text, CORRUPT_MARKER),
    )
    return kind_out, ~boiler, np.asarray(corrupt)


def classify_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized classify + strip over a span batch (pandas in, out).

    Input columns: kind, text, media_ref. Adds: kind_out (final kind),
    keep (survives boilerplate strip), corrupt (part-failure trigger).
    A thin wrapper over :func:`classify_arrays`.
    """
    kind_out, keep, corrupt = classify_arrays(
        *(pa.array(pdf[c], pa.string()) for c in ("kind", "text", "media_ref"))
    )
    out = pdf.copy()
    out["kind_out"] = kind_out.to_numpy(zero_copy_only=False)
    out["keep"] = keep
    out["corrupt"] = corrupt
    return out
