"""Deduplication operators for training-data pipelines.

Algorithms are the standard public constructions: MinHash resemblance
sketches (Broder, "On the resemblance and containment of documents",
SEQUENCES 1997), banded LSH for candidate generation (Leskovec/Rajaraman/
Ullman, *Mining of Massive Datasets* ch. 3), and SimHash bit-vote
fingerprints (Charikar, "Similarity estimation techniques from rounding
algorithms", STOC 2002).

Five strategies, all expressed as DataFrame plans with portable primitives
(md5-based hashing → identical results in the DuckDB oracle):

- exact             hash-groupBy on normalized text
- minhash_lsh       shingle → k minhashes → banded LSH → bucket self-join
- simhash           signed bit-vote fingerprint, near-dup by Hamming band
- ngram_jaccard     shingle-inverted-index join + exact Jaccard
- embedding_cosine  sign-LSH bucketed cosine near-dup over vectors

Scale notes: every strategy avoids the O(n²) cross join — candidate
generation is always an equi-join on a derived key (hash, band, bucket),
which Spark shuffles on and AQE skew-splits. Exact Jaccard/cosine runs
only within candidate buckets.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agentic_doc_spark.functions.textstats import normalize_text, words
from agentic_doc_spark.kernel import map_arrow


# --- exact -----------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per normalized-text hash.
    One shuffle (map-side partial min) + a join back whose probe side
    STREAMS — an r6 experiment that collected each fingerprint group's
    id list in one aggregation was reverted: a boilerplate text
    duplicated 10^7× would buffer that many ids in a single reduce
    task, while this shape holds only min(id) per group and streams
    the probe rows. Returns (id, fingerprint, is_canonical,
    canonical_id)."""
    h = F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    withf = df.select(F.col(id_col), h)
    canon = withf.groupBy("fingerprint").agg(F.min(id_col).alias("canonical_id"))
    return withf.join(canon, "fingerprint").select(
        id_col,
        "fingerprint",
        (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
        "canonical_id",
    )


# --- analyzed-plan inspection (shared) ---------------------------------------


def _plan_node_names(df: DataFrame) -> list[str] | None:
    """Class simple-names of every node in the frame's ANALYZED logical
    plan, or None if the walk fails. The single traversal shared by
    ``similarity._fast_count`` (footer-metadata counting) and
    ``packing._is_cheap_plan`` (store-vs-recompute) — each applies its
    own whitelist policy on the returned names."""
    try:
        names: list[str] = []
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            names.append(node.getClass().getSimpleName())
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return names
    except Exception:
        return None


# --- kernel-side tokenizing (shared) -----------------------------------------

#: Java's \s: ``re.ASCII`` — Python's default \s is Unicode and would also
#: match NBSP/U+3000 etc., which the Catalyst regex and the DuckDB RE2
#: twin do NOT
_WS_RE = re.compile(r"\s+", re.ASCII)


def _norm_py(text: str) -> str:
    """Scalar twin of ``normalize_text``, bit for bit: lower (Python's
    ``str.lower``, not ``pc.utf8_lower``, which differs on some code
    points), collapse Java-\\s runs to one space, then strip the 0x20
    SPACE only (``F.trim`` strips spaces, not all whitespace). Every
    kernel that tokenizes like the expressions routes through here so
    the normalization cannot drift per kernel."""
    return _WS_RE.sub(" ", text.lower()).strip(" ")


def _tokens_py(text: str | None) -> list[str]:
    """``words(normalize_text(text))``: the normalized text's tokens,
    [] for empty, whitespace-only or NULL text."""
    norm = _norm_py(text) if text is not None else ""
    return norm.split(" ") if norm else []


def _md5_key64_py(s: str) -> int:
    """Python twin of ``_md5_key64``: the first 15 hex chars of the
    utf-8 md5 as an int."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingle_keys(text: str | None, k: int) -> list[int | None]:
    """``transform(shingles(text, k), _md5_key64)`` in Python: the 60-bit
    fold of each DISTINCT k-shingle string of the document, in no
    particular order. A text shorter than k tokens is one shingle (''
    when it has none). NULL text is one NULL shingle, as in the
    expression, so it has one NULL key."""
    if text is None:
        return [None]
    toks = _tokens_py(text)
    n = max(len(toks) - k + 1, 1)
    return [_md5_key64_py(g) for g in {" ".join(toks[i : i + k]) for i in range(n)}]


# --- shingles (shared) -------------------------------------------------------


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles of the normalized text (n-gram base for
    minhash/jaccard)."""
    toks = words(normalize_text(text))
    n = F.greatest(F.size(toks) - k + 1, F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        )
    )


# --- MinHash + LSH -----------------------------------------------------------

#: universal-hash modulus (Mersenne prime 2^31-1) — products stay < 2^62,
#: safe in BIGINT on every engine.
MINHASH_P = 2147483647


def shingle_hashes(sh: Column) -> Column:
    """One md5 per shingle, folded to a positive 31-bit int. All further
    hash functions are derived arithmetically (universal hashing) — md5
    runs exactly ONCE per shingle instead of once per (shingle, seed),
    which measured 6× faster on the interpreted HOF path."""
    return F.transform(
        sh,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint")
        % MINHASH_P,
    )


def minhash_signature_from_hashes(hv: Column, num_hashes: int = 16) -> Column:
    """num_hashes min-hashes via seeded linear maps over the per-shingle
    base hashes ``hv``: h_s(x) = ((2s+1)·x + 12289·s + 1) mod P.
    Portable: the DuckDB oracle reproduces it with the same arithmetic."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda s: F.array_min(
            F.transform(
                hv,
                lambda h: (
                    ((2 * s + 1).cast("bigint") * h + 12289 * s + 1) % MINHASH_P
                ),
            )
        ),
    )


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """(id, band_idx, band_key): LSH band keys — docs sharing any band key
    are near-dup candidates. rows_per_band = num_hashes // bands.

    Each stage (shingles → base hashes → signature → bands) materializes
    as its own projection column so Catalyst cannot inline the expensive
    subtree into every consumer — inlining recomputes the full
    shingle+hash work ×seeds×bands (measured 6× slower)."""
    rows = num_hashes // bands
    sh_df = df.select(
        F.col(id_col), shingle_hashes(shingles(F.col(text_col), k)).alias("hv")
    )
    sig_df = sh_df.select(
        F.col(id_col),
        minhash_signature_from_hashes(F.col("hv"), num_hashes).alias("sig"),
    )
    banded = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band_idx"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(F.col("sig"), b * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                    "_",
                )
            ).alias("band_key"),
        ),
    )
    return sig_df.select(F.col(id_col), F.explode(banded).alias("b")).select(
        id_col,
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_key").alias("band_key"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Distinct candidate pairs (a < b) from the banded self-join.
    The join key (band_idx, band_key) bounds comparisons to true
    collisions; no cross join ever materializes."""
    b = minhash_bands_fast(df, text_col, id_col, num_hashes, bands, k)
    left = b.select(
        F.col(id_col).alias("a"), "band_idx", "band_key"
    )
    right = b.select(
        F.col(id_col).alias("b"), "band_idx", "band_key"
    )
    return (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_bands_fast(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Arrow fast path of :func:`minhash_bands` — BIT-IDENTICAL band keys
    (same md5 base hash, same linear maps, same band digest), computed in
    a row kernel: the per-seed minima are one numpy reduction per
    document, and hashlib.md5 (C) replaces the interpreted-HOF md5
    chain. Measured ~5× faster than the expression version on the sf
    ladder. The per-doc math is the shared ``_batch_bands_shingles``
    core (one implementation for this kernel and the lsh base table)."""

    def body(ids, texts):
        keys, _ = _batch_bands_shingles(texts, num_hashes, bands, k, want_sh=False)
        return {
            id_col: [i for i in ids for _ in range(bands)],
            "band_idx": list(range(bands)) * len(ids),
            "band_key": [key for ks in keys for key in ks],
        }

    out = [
        id_col,
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("band_key", T.StringType()),
    ]
    return map_arrow(df, [id_col, text_col], out, body)


def _batch_bands_shingles(
    texts: list[str | None],
    num_hashes: int,
    bands: int,
    k: int,
    want_sh: bool,
):
    """Per-batch minhash core shared by ``minhash_bands_fast`` and
    ``minhash_bands_with_shingles``: each document's distinct k-shingle
    keys (``_shingle_keys``), folded to the 31-bit base hash, the
    seeded-linear-map signature minima, the band-key digests. Returns
    (band keys per doc, sorted distinct 60-bit shingle keys per doc or
    None). One implementation so the shingle→signature→band-key
    contract cannot drift between the kernels (the bit-identity tests
    pin it against the expressions).

    NULL text follows the expression: its one NULL shingle makes every
    signature minimum NULL, ``array_join`` skips NULLs, so every band
    key is md5(''), and its key set is [NULL]."""
    rows_per_band = num_hashes // bands
    a = np.array([2 * s + 1 for s in range(num_hashes)], dtype=np.int64)
    b = np.array([12289 * s + 1 for s in range(num_hashes)], dtype=np.int64)
    null_keys = [hashlib.md5(b"").hexdigest()] * bands
    out_keys, out_sh = [], ([] if want_sh else None)
    for text in texts:
        if text is None:
            out_keys.append(null_keys)
            if want_sh:
                out_sh.append([None])
            continue
        h60 = np.array(_shingle_keys(text, k), dtype=np.int64)
        hv = h60 % MINHASH_P
        # (num_hashes, n_shingles) minima in one vectorized shot
        sig = ((a[:, None] * hv[None, :] + b[:, None]) % MINHASH_P).min(axis=1)
        out_keys.append(
            [
                hashlib.md5(
                    "_".join(
                        str(x)
                        for x in sig[bi * rows_per_band : (bi + 1) * rows_per_band]
                    ).encode()
                ).hexdigest()
                for bi in range(bands)
            ]
        )
        if want_sh:
            out_sh.append(np.unique(h60).tolist())
    return out_keys, out_sh


def minhash_bands_with_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """One row per document: (id, band_keys array<string> indexed by
    band_idx, sh array<bigint>) — the single-pass base table for
    candidates→verify near-dup (``lsh_jaccard_pairs``).

    Band keys are BIT-IDENTICAL to ``minhash_bands``/``minhash_bands_fast``
    (same md5 base hash, same linear maps, same band digest — pinned by
    test_minhash_with_shingles_bands_bit_identical). ``sh`` is the
    document's DISTINCT shingle set folded to 60-bit ints (first 15 hex
    chars of the SAME per-shingle md5 the signature uses — one C md5 per
    shingle covers both outputs), sorted ascending; NULL text has the
    one NULL element ``shingles`` gives it, so a pair of NULL documents
    verifies at Jaccard 1 instead of dividing by zero. Verification
    intersects these int sets instead of the shingle strings: identical
    counts unless two distinct shingles of one candidate pair collide in
    60 bits (~n²/2^61 per pair — negligible; the ``jaccard_pairs``
    xxhash64 fold makes the same argument), and the verify join ships
    8-byte ints instead of ~20-byte strings."""

    def body(texts):
        keys, shs = _batch_bands_shingles(texts, num_hashes, bands, k, want_sh=True)
        return {"band_keys": keys, "sh": shs}

    out = [
        id_col,
        T.StructField("band_keys", T.ArrayType(T.StringType())),
        T.StructField("sh", T.ArrayType(T.LongType())),
    ]
    return map_arrow(df, [text_col], out, body)


# --- SimHash -----------------------------------------------------------------


def simhash(text: Column, bits: int = 16) -> Column:
    """Signed bit-vote fingerprint over whitespace tokens.

    Bit j of a token's hash = parity of hex digit j of md5(token) —
    portable (identical in any engine with md5 + substring) and free of
    column-shift operations pyspark lacks. simhash bit j = 1 iff the sum
    of ±1 votes over tokens is positive. Higher-order functions only —
    no explode, no shuffle. ``bits`` ≤ 32 (md5 has 32 hex digits)."""
    assert bits <= 32
    toks = words(normalize_text(text))
    md5s = F.transform(toks, F.md5)

    def bit_vote(j: Column) -> Column:
        votes = F.aggregate(
            md5s,
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                F.conv(h.substr(j + 1, F.lit(1)), 16, 10).cast("int") % 2 == 1, 1
            ).otherwise(-1),
        )
        return F.when(
            votes > 0, F.pow(F.lit(2.0), j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, j: acc + bit_vote(j),
    )


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Arrow fast path of the ``simhash`` expression — BIT-IDENTICAL
    fingerprints (same tokens via ``_tokens_py``, same md5-hex-digit
    parity votes, same 2^j bit assembly; pure integer arithmetic, so no
    float-order concerns), computed in a row kernel: hashlib.md5 (C)
    runs once per token instead of the interpreted-HOF chain
    re-evaluating the full tokenize+md5 subtree once PER BIT (the
    expression plan embeds ``md5s`` inside the per-bit lambda — 16×
    the hash work; measured ~5× faster at sf1). NULL text votes nothing
    and fingerprints 0, as in the expression. Pinned bit-identical to
    ``simhash`` by test_simhash_fast_path_bit_identical."""
    assert bits <= 32
    weights = np.power(2, np.arange(bits), dtype=np.int64)
    n_bytes = (bits + 1) // 2  # hex digits j in [0, bits) live in these

    def fingerprint(text):
        toks = _tokens_py(text)
        if not toks:
            return 0
        # bit j of a token's vote = parity of hex digit j of md5(token):
        # digit j lives in digest byte j//2, high nibble for even j —
        # identical to the expression's conv(substr(hex, j+1, 1), 16, 10) % 2
        dig = np.frombuffer(
            b"".join(hashlib.md5(t.encode()).digest()[:n_bytes] for t in toks),
            dtype=np.uint8,
        ).reshape(len(toks), n_bytes)
        parity = np.empty((len(toks), 2 * n_bytes), dtype=np.int64)
        parity[:, 0::2] = (dig >> 4) & 1  # even j: high nibble
        parity[:, 1::2] = dig & 1  # odd j: low nibble
        votes = (2 * parity[:, :bits] - 1).sum(axis=0)
        return int(weights[votes > 0].sum())

    def body(texts):
        return {"simhash": [fingerprint(t) for t in texts]}

    out = [id_col, T.StructField("simhash", T.LongType())]
    return map_arrow(df, [text_col], out, body)


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    band_bits: int = 4,
) -> DataFrame:
    """Near-dup pairs by banded simhash: docs sharing any of the
    bits/band_bits bands are candidates; exact Hamming distance then
    filters. Equi-join on (band_idx, band_value) — scale-safe."""
    sh = simhash_table(df, text_col, id_col, bits)
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    # band i = floor(simhash / 2^(i·band_bits)) % 2^band_bits — exact in
    # double for bits ≤ 32
    bandarr = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda i: F.struct(
            i.cast("int").alias("band_idx"),
            (
                F.floor(
                    F.col("simhash") / F.pow(F.lit(2.0), i * band_bits)
                ).cast("bigint")
                % (mask + 1)
            ).alias("band_value"),
        ),
    )
    banded = sh.select(id_col, "simhash", F.explode(bandarr).alias("b")).select(
        id_col, "simhash", "b.band_idx", "b.band_value"
    )
    l = banded.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("sim_a"), "band_idx", "band_value"
    )
    r = banded.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("sim_b"), "band_idx", "band_value"
    )
    pairs = (
        l.join(r, ["band_idx", "band_value"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.select("a", "b", hamming.alias("hamming"))


# --- n-gram Jaccard ----------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard over an inverted-index join: explode distinct
    shingles, self-join on shingle, count shared, Jaccard =
    |∩| / (|A|+|B|-|∩|). Comparisons only for pairs sharing ≥1 shingle.

    Shingles are folded to 64-bit xxhash64 ints before the explode — the
    join shuffles 8-byte keys instead of ~20-byte strings (measured ~40%
    faster end-to-end); a 64-bit collision would need ~10^9 distinct
    shingles in one corpus to become likely and at worst nudges one count."""
    sh = df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), k), lambda g: F.xxhash64(g))
        ).alias("sh"),
    ).select(id_col, F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    l = sh.select(F.col(id_col).alias("a"), F.col("n_sh").alias("na"), "shingle")
    r = sh.select(F.col(id_col).alias("b"), F.col("n_sh").alias("nb"), "shingle")
    shared = (
        l.join(r, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return shared.select("a", "b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def lsh_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The scale path for near-dup detection: MinHash-LSH candidate
    generation + exact Jaccard verification ON CANDIDATES ONLY.

    jaccard_pairs() is exact but its inverted-index join explodes on hot
    shingles (any shingle shared by m docs contributes m² join rows); here
    hot shingles cost nothing — candidates come from banded signatures
    (collision prob 1-(1-s^r)^b, ≈0.88 at s=0.8 with 4×4), and the exact
    verify is one array_intersect per candidate pair. This is the
    standard candidates→verify dedup architecture for 10^9+ corpora.

    Plan shape (r6 rework): ONE kernel pass computes band keys AND the
    60-bit shingle-hash sets (``minhash_bands_with_shingles``) and is
    lineage-truncated, so the corpus is scanned/hashed exactly once —
    the previous form ran the band kernel twice (self-join sides) and
    re-derived the shingle sets twice more through the interpreted-HOF
    expression path (~4 full hash passes; measured 6.6 s → ~1.7 s at
    sf1.0 local[32]). Candidate pairs are DISTINCT'd before the verify
    joins fetch the hash sets from the materialized base, so each
    pair's intersect runs exactly once — exact duplicates collide on
    every band, so verifying per collision would repeat the hottest
    pairs ``bands``×."""
    base = _truncate_lineage(
        minhash_bands_with_shingles(df, text_col, id_col, num_hashes, bands, k)
    )
    banded = base.select(
        F.col(id_col),
        F.posexplode("band_keys").alias("band_idx", "band_key"),
    )
    l = banded.select(F.col(id_col).alias("a"), "band_idx", "band_key")
    r = banded.select(F.col(id_col).alias("b"), "band_idx", "band_key")
    cand = (
        l.join(r, ["band_idx", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    a = base.select(F.col(id_col).alias("a"), F.col("sh").alias("sa"))
    b = base.select(F.col(id_col).alias("b"), F.col("sh").alias("sb"))
    joined = cand.join(a, "a").join(b, "b")
    shared = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = shared / (F.size("sa") + F.size("sb") - shared)
    return joined.select("a", "b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# --- embedding cosine near-dup -----------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with an explicit zero-norm convention: a
    zero-norm side scores 0.0 (orthogonal) instead of raising — under
    Spark's default ANSI mode a plain division throws divideByZeroError,
    so one all-zero embedding would crash every cosine-based query."""
    return F.coalesce(
        F.try_divide(_dot(a, b), _norm(a) * _norm(b)), F.lit(0.0)
    )


def sign_bucket(vec: Column, dims: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7)) -> Column:
    """Axis-aligned sign-LSH bucket: concatenated signs of fixed dims.
    Deterministic, portable; random-hyperplane LSH slots in the same way."""
    return F.concat_ws(
        "",
        *[
            F.when(F.element_at(vec, d + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for d in dims
        ],
    )


def embedding_near_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bucket_dims: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7),
) -> DataFrame:
    """Embedding-cosine near-dup: sign-LSH bucket prefilter, exact cosine
    inside buckets only. 2^|dims| buckets shard the self-join; at 10^9+
    vectors, widen dims or switch to IVF (similarity.py)."""
    b = df.select(
        F.col(id_col), F.col(vec_col).alias("v"), sign_bucket(F.col(vec_col), bucket_dims).alias("bucket")
    )
    l = b.select(F.col(id_col).alias("a"), F.col("v").alias("va"), "bucket")
    r = b.select(F.col(id_col).alias("b"), F.col("v").alias("vb"), "bucket")
    pairs = l.join(r, "bucket").filter(F.col("a") < F.col("b"))
    return pairs.select(
        "a", "b", cosine(F.col("va"), F.col("vb")).alias("cos")
    ).filter(F.col("cos") >= threshold)


def _truncate_lineage(df: DataFrame) -> DataFrame:
    """Cut an iterative DataFrame's logical lineage: reliable checkpoint
    when the session has a checkpoint dir (survives executor loss —
    what a production job sets), localCheckpoint otherwise (local mode /
    tests). Either way the returned frame's plan is a leaf scan, so
    plan analysis stays O(1) per round instead of O(rounds), and a lost
    executor replays one round, not the whole chain."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
    checkpoint_interval: int = 5,
    raise_on_non_convergence: bool = False,
) -> DataFrame:
    """Near-dup cluster canonicalization: connected components over a
    candidate-pair edge list → (doc_id, component) where component is the
    MINIMUM id in the cluster (the canonical survivor).

    The step after pair generation in a real dedup pipeline: LSH/simhash
    emit pairs, components decide which document of each duplicate
    CLUSTER survives. Algorithm is iterative min-label propagation
    (the standard large-graph CC on Spark — "hash-to-min", Rastogi et
    al., ICDE 2013): each round joins labels to the symmetric edge list
    and takes the min over (own label, neighbor labels); rounds needed
    ≈ graph diameter (near-dup clusters are shallow — duplicates of one
    source form a star). Each round is ONE shuffle join + one groupBy;
    the convergence check is an aggregate (no driver-side row data).

    The RETURNED DataFrame is checkpointed (a leaf plan — recomputing it
    would otherwise replay the whole iterative join chain); intermediate
    rounds and the edge list are released here. Long-lived drivers using
    a reliable checkpoint dir should keep
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (build_spark
    sets it) so checkpoint files are reclaimed with their DataFrames.

    Lineage is TRUNCATED every ``checkpoint_interval`` rounds and once on
    the final labels (reliable checkpoint when a checkpoint dir is set,
    else localCheckpoint): without it the unrolled plan grows by two
    joins per round — quadratic driver re-analysis at 25 rounds and a
    full-chain replay on executor loss. Non-convergence (graph diameter
    > max_iter) is SURFACED: a warning naming the residual changed count
    by default, ValueError when ``raise_on_non_convergence`` — silently
    non-canonical labels would make near_dedup keep extra survivors.
    """
    # symmetric edges once; self-loops make isolated-after-filter rows safe
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("lbl", F.col("v"))
        .persist()
    )
    changed = 0
    for i in range(max_iter):
        neigh_min = (
            edges.join(labels, edges["dst"] == labels["v"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neigh_min, labels["v"] == neigh_min["src"], "left")
            .select(
                "v",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
        if (i + 1) % checkpoint_interval == 0:
            checkpointed = _truncate_lineage(labels)
            labels.unpersist()
            labels = checkpointed
    edges.unpersist()
    if changed != 0:
        msg = (
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — returned labels are not "
            "canonical; raise max_iter (rounds needed ≈ graph diameter)"
        )
        if raise_on_non_convergence:
            labels.unpersist()
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    final = _truncate_lineage(
        labels.select(F.col("v").alias("doc_id"), F.col("lbl").alias("component"))
    )
    labels.unpersist()
    return final


def _gram_hashes_fast(
    df: DataFrame,
    k: int,
    text_col: str,
    id_col: str | None,
) -> DataFrame:
    """(id, h) — one row per DISTINCT k-token shingle per document,
    ``h`` = its 60-bit md5 fold: the rows of
    ``explode(transform(shingles(text, k), _md5_key64))`` (pinned by
    test_gram_hashes_fast_matches_shingles_expression), computed by
    ``_shingle_keys`` with hashlib.md5 (C) replacing the interpreted-HOF
    slice/join/hash chain. NULL text is one row with a NULL ``h``, which
    no join matches. ``id_col=None`` emits just the hash column
    (benchmark side)."""
    h = T.StructField("h", T.LongType())
    if id_col is None:

        def hashes(texts):
            return {"h": [x for t in texts for x in _shingle_keys(t, k)]}

        return map_arrow(df, [text_col], [h], hashes)

    def body(ids, texts):
        return [(i, x) for i, t in zip(ids, texts) for x in _shingle_keys(t, k)]

    return map_arrow(df, [id_col, text_col], [id_col, h], body)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document sharing ANY
    k-token shingle with the benchmark/eval set — the GPT-3/PaLM-style
    pretraining hygiene step (Brown et al. 2020 §C use 13-grams; k is a
    knob, tiny test corpora use smaller k).

    Plan shape at 100 TB: the benchmark side is an eval set (thousands
    of rows) — its distinct shingle keys broadcast; the corpus explodes
    to (doc, shingle-hash) rows but the map-side LEFT SEMI against the
    broadcast emits only contaminated ids (tiny), and the final LEFT
    ANTI is narrow-vs-corpus. Shingle construction + hashing run in the
    ``_gram_hashes_fast`` row kernel (C md5, one pass — the
    interpreted-HOF slice/join/hash chain it replaces measured 3.7 s →
    ~1.3 s at sf1.0 local[32]); both sides fold to the 60-bit
    ``_md5_key64`` key (NOT the 31-bit minhash base fold, whose
    collision rate would falsely contaminate clean docs at ~10^6
    benchmark shingles — at 60 bits a false hit needs ~10^9 benchmark
    shingles) so no long strings shuffle and the match set is the
    string-equality set the oracle computes."""
    c = _gram_hashes_fast(corpus, k, text_col, id_col)
    b = _gram_hashes_fast(benchmark, k, text_col, None).distinct()
    dirty = (
        c.join(F.broadcast(b), "h", "left_semi").select(id_col).distinct()
    )
    return corpus.join(dirty, id_col, "left_anti")


def near_dedup(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """End-to-end near-dup removal: given candidate-verified pairs, keep
    exactly ONE survivor per duplicate cluster (the minimum id — the
    connected component's canonical member) plus every unpaired document.

    Plan shape: CC label propagation (bounded rounds) → the loser set is
    (doc_id != component) rows only → one LEFT ANTI join back to the
    corpus. The anti join's right side is tiny relative to the corpus
    (duplicate clusters only), so AQE broadcasts it at most scales."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# --- cross-document exact substring dedup (k-gram interval form) -----------


def _md5_key64(col: Column) -> Column:
    """Portable 60-bit fold of a string (first 15 hex chars of md5 →
    BIGINT) — the cross-engine join-key fold used where xxhash64 has no
    DuckDB twin. Collision odds at 2^60 are negligible for gram keys.

    This expression IS the DuckDB-parity contract
    (``('0x'||substr(md5(x),1,15))::BIGINT``); every md5-derived
    bucket/uniform in the repo must route through here or
    ``md5_uniform`` so the two engines cannot silently diverge."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_uniform(col: Column) -> Column:
    """Deterministic engine-portable uniform in [0, 1): the 60-bit md5
    fold scaled by 2^60 (DuckDB: ``... / 1152921504606846976.0``).
    The shared keep-decision primitive for stratified sampling, domain
    mixing, and any other reproducible subsampling."""
    return _md5_key64(col.cast("string")).cast("double") / F.lit(
        float(2 ** 60)
    )


def duplicate_gram_spans(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token ranges duplicated ACROSS documents — the distributed
    k-gram approximation of exact-substring training-data dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better": repeated ≥k-token substrings; the suffix-array
    formulation is single-machine, the k-gram inverted-index form is
    the standard distributed equivalent).

    Returns (id_col, start, end): merged maximal token intervals
    [start, end) covered by at least one whitespace k-gram that also
    occurs in ANOTHER document. Any shared substring of ≥ k tokens is
    covered exactly (its k-windows chain into one merged interval);
    shorter overlaps are not flagged.

    Plan: gram keys + positions from ONE lineage-truncated row
    kernel pass (r6 rework: the previous posexplode + interpreted
    slice/join/md5 chain was re-evaluated by BOTH consumers below —
    the aggregation side and the semi-join side — so the corpus was
    tokenized and hashed twice; the kernel computes the identical
    60-bit ``_md5_key64`` values with C md5, Java-trim/split semantics
    mirrored) → ONE min/max-id aggregation on the gram fold (min≠max ⟺
    cross-document; map-side partial agg — cheaper than the
    count-distinct form's distinct-expansion phase; hot stop-phrase
    grams cost a combine, not a skewed reduce) → LEFT SEMI join back
    (AQE broadcasts the hot-gram set when small) → per-doc interval
    merge via running-max windows PARTITIONED by doc (no global
    sort)."""

    def body(ids, texts):
        out_ids, out_p, out_g = [], [], []
        for doc_id, text in zip(ids, texts):
            if text is None:
                continue  # split(trim(null)) → size -1, filtered
            # F.trim strips 0x20 only; split keeps leading/trailing
            # empty tokens exactly as Java split(limit=-1)
            toks = _WS_RE.split(text.strip(" "))
            n = len(toks) - k
            for p in range(n + 1):
                out_ids.append(doc_id)
                out_p.append(p)
                out_g.append(_md5_key64_py("\x1f".join(toks[p : p + k])))
        return {id_col: out_ids, "p": out_p, "g": out_g}

    out = [
        id_col,
        T.StructField("p", T.IntegerType()),
        T.StructField("g", T.LongType()),
    ]
    grams = _truncate_lineage(map_arrow(docs, [id_col, text_col], out, body))
    # "occurs in more than one document" ⟺ min(id) ≠ max(id) — the
    # count_distinct form planned an extra distinct-expansion phase
    # over the ~all-unique gram stream; min/max partial-aggregate
    # map-side for the same hot set (ids are non-null)
    hot = (
        grams.groupBy("g")
        .agg(F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("g")
    )
    dup = grams.join(hot, "g", "left_semi").select(F.col(id_col), "p")
    w = Window.partitionBy(id_col).orderBy("p")
    prev_max_end = F.max(F.col("p") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    island = F.sum(
        F.when(
            prev_max_end.isNull() | (F.col("p") > prev_max_end), 1
        ).otherwise(0)
    ).over(w)
    return (
        dup.withColumn("island", island)
        .groupBy(id_col, "island")
        .agg(
            F.min("p").alias("start"),
            (F.max("p") + k).alias("end"),
        )
        .select(F.col(id_col), "start", "end")
    )


def remove_duplicate_substrings(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite each document with its cross-document duplicated token
    ranges REMOVED (whitespace-normalized: surviving tokens re-join with
    single spaces). Documents with no duplicated ranges pass through
    (same normalization, so output text is uniformly canonical).

    One extra exchange over ``duplicate_gram_spans``: ranges
    collect_list per doc (bounded by intervals, not tokens), broadcast-
    joined back, then the token filter runs IN the row (HOF over the
    zipped token index — no second pass over the corpus)."""
    spans = (
        duplicate_gram_spans(docs, k, text_col, id_col)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct("start", "end")).alias("cut")
        )
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    idx = F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    kept = F.filter(
        idx,
        lambda s: ~F.exists(
            F.col("cut"),
            lambda r: (s["i"] >= r["start"]) & (s["i"] < r["end"]),
        ),
    )
    clean = F.array_join(F.transform(kept, lambda s: s["t"]), " ")
    out = docs.join(spans, id_col, "left")
    return out.select(
        *[c for c in docs.columns if c != text_col],
        F.when(F.col("cut").isNull(), F.array_join(toks, " "))
        .otherwise(clean)
        .alias(text_col),
    )
