"""Seeded input generators for the benchmark's workloads and for the
curate calls of ``parse_small``'s traced run.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, and a different seed changes the documents
themselves, not just their order. The program under test only ever sees
the generated files.
"""

from __future__ import annotations

import random
import zlib

import numpy as np

from agentic_doc_spark import synth
from agentic_doc_spark.functions.tiff import encode_tiff

# ---------------------------------------------------------------------------
# extract_bulk: documents_raw corpus built from synth's fixture profiles
# ---------------------------------------------------------------------------

#: profile -> share of the documents. The five ordinary profiles share
#: equally, as in ``synth.make_corpus`` (FIXTURES.md §3: equal documents
#: per profile). The two outlier shapes get small stated shares instead:
#: ``mega`` (120 pages, 480 spans) so one document cannot dominate a
#: task, ``errdoc`` (25 pages, 100 spans, one corrupt part) so the
#: failed-part path runs every call without setting the kernel's cost.
#: The run prints the resulting share of the spans.
EXTRACT_MIX = {
    "single": 0.1976,
    "multi": 0.1976,
    "html": 0.1976,
    "marginalia": 0.1976,
    "complex": 0.1976,
    "errdoc": 0.010,
    "mega": 0.002,
}


def extract_corpus(seed: int, n_docs: int) -> list[dict]:
    """``n_docs`` documents_raw rows in ``EXTRACT_MIX`` proportions.

    ``synth._make_doc`` seeds each document's RNG from its doc_id, so
    offsetting the per-profile index by the run seed changes every
    document's content (``synth.make_corpus`` would always start at 0).
    Each profile is spread evenly along the returned order, so any
    contiguous slice (one staged file, one scan task) holds the same mix
    whatever the seed."""
    rng = random.Random(seed)
    base = seed * 10**6
    keyed = []
    for profile, share in EXTRACT_MIX.items():
        n = max(1, round(n_docs * share))
        keyed.extend(
            ((k + rng.random()) / n, synth._make_doc(profile, base + k, 4))
            for k in range(n)
        )
    keyed.sort(key=lambda t: t[0])
    return [d for _, d in keyed]


# ---------------------------------------------------------------------------
# parse_small: directories of raw files with known content
# ---------------------------------------------------------------------------

_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "spark group query row data slow filter customer line batch value page "
    "span chunk figure layout grounding extract markdown document parse"
).split()

#: file kind -> files per directory (36 files per ``api.parse`` call).
PARSE_MIX = {"txt": 6, "md": 6, "html": 6, "pdf_literal": 6, "pdf_cid": 6, "tiff": 6}

# identity ToUnicode CMap over printable ASCII (the Type0/CID PDF shape)
_CMAP = (
    b"begincmap\n1 beginbfrange\n<0020> <007e> <0020>\nendbfrange\n"
    b"endcmap\n"
)


def _pdf(streams: list[bytes]) -> bytes:
    out = [b"%PDF-1.4\n"]
    for i, cs in enumerate(streams):
        body = zlib.compress(cs)
        out.append(
            b"%d 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n"
            % (i + 1, len(body))
            + body
            + b"\nendstream\nendobj\n"
        )
    out.append(b"%%EOF\n")
    return b"".join(out)


def parse_files(seed: int, call: int) -> dict[str, tuple[bytes, list[str] | int]]:
    """file name -> (bytes, expected). ``expected`` is the list of text
    blocks for txt/md/html/pdf files and the page count for TIFF scans
    (one media span per page)."""
    rng = random.Random(f"{seed}:{call}")

    def block() -> str:
        return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(4, 12)))

    files: dict[str, tuple[bytes, list[str] | int]] = {}
    for kind, n in PARSE_MIX.items():
        for j in range(n):
            stem = f"{kind}-{call:04d}-{j:02d}"
            if kind == "tiff":
                pages = [
                    np.full(
                        (rng.randint(8, 24), rng.randint(8, 24), 3),
                        (rng.randrange(256), rng.randrange(256), 170),
                        np.uint8,
                    )
                    for _ in range(rng.randint(1, 3))
                ]
                data = encode_tiff(pages, compression=5, predictor=2)
                files[f"{stem}.tiff"] = (data, len(pages))
                continue
            blocks = [block() for _ in range(rng.randint(2, 5))]
            if kind in ("txt", "md"):
                files[f"{stem}.{kind}"] = ("\n\n".join(blocks).encode(), blocks)
            elif kind == "html":
                html = "".join(f"<p>{b}</p>" for b in blocks)
                files[f"{stem}.html"] = (html.encode(), blocks)
            elif kind == "pdf_literal":
                cs = "\n".join(f"BT ({b}) Tj ET" for b in blocks).encode("latin-1")
                files[f"{stem}.pdf"] = (_pdf([cs]), blocks)
            else:
                hx = lambda s: "".join(f"00{ord(c):02x}" for c in s)  # noqa: E731
                cs = "\n".join(f"BT <{hx(b)}> Tj ET" for b in blocks).encode()
                files[f"{stem}.pdf"] = (_pdf([_CMAP, cs]), blocks)
    return files


# ---------------------------------------------------------------------------
# curate (parse_small's traced run): text corpus for build_training_set +
# clustered embeddings
# ---------------------------------------------------------------------------

#: language -> share of the base documents (the rest of the corpus is
#: duplicates, see below). Stopwords come from textstats.LANG_MARKERS.
CURATE_LANGS = {"en": 0.40, "de": 0.20, "es": 0.15, "fr": 0.15, "zh": 0.05, "junk": 0.05}
#: share of documents that repeat an earlier document's text (half of
#: them verbatim, half upper-cased with doubled spaces: equal after
#: normalization)
CURATE_DUP_RATE = 0.10
#: share of non-eval documents that copy a three-word run from an eval
#: document (eval split: doc_id % 17 == 0, as in q_training_set)
CURATE_EVAL_OVERLAP = 0.05
#: embedding corpus shape: 64-dim vectors around one random centre per
#: IVF cell. Vector i belongs to cluster i % EMB_CLUSTERS, and
#: semantic_dedup seeds cell c from the lowest sampled id with
#: id % n_cells == c (n_cells = 8), so cells stay balanced and the
#: quadratic within-cell work is the same for every seed.
EMB_DIM = 64
EMB_CLUSTERS = 8
EMB_NOISE = 1.5

_STOP = {
    "en": ("the", "of", "and", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "les", "et", "dans", "est"),
    "de": ("der", "die", "und", "das", "ist"),
}


def _vocab(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct pseudo-words, none a stopword, so three-word runs
    rarely repeat by chance and decontamination hits are the planted
    ones."""
    stop = {w for ws in _STOP.values() for w in ws}
    letters = "bcdfghjklmnprstvwz"
    vowels = "aeiou"
    out: set[str] = set()
    while len(out) < n:
        w = "".join(
            rng.choice(letters) + rng.choice(vowels)
            for _ in range(rng.randint(2, 4))
        )
        if w not in stop:
            out.add(w)
    return sorted(out)


def curate_corpus(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """(doc_id, text) rows; doc ids are 0..n_docs-1."""
    rng = random.Random(f"curate:{seed}")
    vocab = _vocab(rng, 6000)
    langs = list(CURATE_LANGS)
    weights = [CURATE_LANGS[k] for k in langs]

    def base_doc() -> str:
        lang = rng.choices(langs, weights)[0]
        n = rng.randint(25, 70)
        if lang == "zh":
            return " ".join(
                "".join(chr(0x4E00 + rng.randrange(0x5000)) for _ in range(rng.randint(2, 4)))
                for _ in range(n)
            )
        if lang == "junk":
            return " ".join(rng.choice("#$%&*+=@~") * rng.randint(1, 3) for _ in range(rng.randint(3, 8)))
        stop = _STOP[lang]
        return " ".join(
            rng.choice(stop) if i % 4 == 3 else rng.choice(vocab) for i in range(n)
        )

    texts: list[str] = []
    for doc_id in range(n_docs):
        r = rng.random()
        if doc_id > 0 and r < CURATE_DUP_RATE:
            src = texts[rng.randrange(doc_id)]
            texts.append(src if r < CURATE_DUP_RATE / 2 else src.upper().replace(" ", "  "))
            continue
        text = base_doc()
        eval_ids = range(0, doc_id, 17)
        if doc_id % 17 and len(eval_ids) and rng.random() < CURATE_EVAL_OVERLAP:
            src = texts[rng.choice(eval_ids)].split()
            k = rng.randrange(max(1, len(src) - 2))
            text = f"{text} {' '.join(src[k:k + 3])}"
        texts.append(text)
    return list(enumerate(texts))


def curate_embeddings(seed: int, n_vecs: int) -> tuple[np.ndarray, np.ndarray]:
    """(vec_id int64[n], float32[n, EMB_DIM]) clustered around
    ``EMB_CLUSTERS`` random centres."""
    g = np.random.default_rng(seed % 2**63)  # numpy takes no negative seed
    centres = g.standard_normal((EMB_CLUSTERS, EMB_DIM))
    ids = np.arange(n_vecs, dtype=np.int64)
    vecs = centres[ids % EMB_CLUSTERS] + EMB_NOISE * g.standard_normal((n_vecs, EMB_DIM))
    return ids, vecs.astype(np.float32)
