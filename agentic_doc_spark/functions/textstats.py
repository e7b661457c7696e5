"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, fingerprinting.

Column functions are pure Catalyst expressions (JVM, whole-stage
codegen, no UDF); the ``*_fast`` functions are Arrow row kernels
(``kernel.map_arrow``).
Every query built on them has an exact ANSI-SQL twin in
__spark_entry__.oracle_sql() — portability across engines is part of
the contract, so only portable primitives are used (md5, regexp, array
ops).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agentic_doc_spark.kernel import map_arrow

#: tiny language marker sets for the n-gram/stopword heuristic language ID.
LANG_MARKERS = {
    "en": ("the", "of", "and", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "les", "et", "dans", "est"),
    "de": ("der", "die", "und", "das", "ist"),
}

#: CJK unified-ideograph class (portable: same escape syntax in Spark's
#: Java regex and DuckDB's RE2) and the zh decision threshold.
CJK_RE = r"[一-鿿]"
CJK_THRESHOLD = 0.15

#: BPE-ish token regex: word pieces or single non-space symbols.
TOKEN_RE = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"


def words(text: Column) -> Column:
    """Whitespace tokens (empty strings filtered)."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish regex token count (word pieces + punctuation symbols)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0))


def token_counts_fast(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, n_ws, n_bpe) in one row kernel — BIT-IDENTICAL to
    ``token_count_ws`` / ``token_count_bpe`` (pinned by
    test_token_counts_fast_matches_expressions): n_ws counts \\S+ runs
    (≡ size of the empty-filtered \\s+ split) and n_bpe counts TOKEN_RE
    matches, both compiled with re.ASCII so Python's \\s/\\S are exactly
    Java's. The expression form ran the alternation regex through the
    interpreted regexp machinery per row (~1.3 s at sf1.0 local[32]
    → ~0.45 s)."""
    import re as _re

    ws_re = _re.compile(r"\S+", _re.ASCII)
    bpe_re = _re.compile(TOKEN_RE, _re.ASCII)

    def body(texts):
        # size(split(NULL)) is NULL
        return {
            "n_ws": [None if t is None else len(ws_re.findall(t)) for t in texts],
            "n_bpe": [None if t is None else len(bpe_re.findall(t)) for t in texts],
        }

    out = [
        id_col,
        T.StructField("n_ws", T.IntegerType()),
        T.StructField("n_bpe", T.IntegerType()),
    ]
    return map_arrow(df, [text_col], out, body)


def stopword_ratio(text: Column, markers: tuple[str, ...]) -> Column:
    w = words(F.lower(text))
    hits = F.size(F.filter(w, lambda x: x.isin(*markers)))
    return F.when(F.size(w) > 0, hits / F.size(w)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


def mean_word_len(text: Column) -> Column:
    w = words(text)
    total = F.aggregate(
        F.transform(w, F.length), F.lit(0), lambda a, x: a + x
    )
    return F.when(F.size(w) > 0, total / F.size(w)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality: length band + low punctuation +
    natural-language signal + sane word length. Heuristic mirrors common
    pretraining quality filters (C4-style); weights fixed for
    determinism. The language signal is LANGUAGE-NEUTRAL: any marker
    set's stopword ratio above 2% — or a CJK-character ratio above the
    zh gate — counts (an English-only stopword term would tank every
    fr/de/es/zh document)."""
    n = F.length(text)
    len_ok = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) < 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    best_ratio = F.greatest(
        *[stopword_ratio(text, m) for m in LANG_MARKERS.values()]
    )
    stop_ok = F.when(
        (best_ratio > 0.02) | (cjk_ratio(text) > CJK_THRESHOLD), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    wl = mean_word_len(text)
    wl_ok = F.when((wl >= 2.0) & (wl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return (0.3 * len_ok + 0.2 * punct_ok + 0.3 * stop_ok + 0.2 * wl_ok).alias(
        "quality"
    )


def cjk_ratio(text: Column) -> Column:
    """Fraction of characters in the CJK unified-ideograph block
    (length delta under regexp_replace — no match-array
    materialization)."""
    n = F.length(text)
    c = n - F.length(F.regexp_replace(text, CJK_RE, ""))
    return F.when(n > 0, c / n).otherwise(F.lit(0.0))


def text_profile_fast(df, text_col: str = "text", id_col: str = "doc_id"):
    """Language ID + quality per document: (id, text, pred_lang,
    quality) rows from one row kernel; ``text`` is the input's own
    Arrow array, passed through.

    Language ID: the CJK-character ratio decides 'zh' first (ideographic
    text carries no space-separated stopwords), then the argmax of the
    stopword marker hit ratios, 'und' when every signal is zero; ties
    break by language order en > es > fr > de. Quality is
    ``quality_score``'s formula, rounded to 6 dp.

    One tokenize pass per document feeds every marker ratio (Python
    doubles ARE IEEE-754 doubles running the same hits/size divisions,
    comparisons and 0.3/0.2-weighted sum in the same order as
    ``quality_score``; rounding via the engine's HALF_UP rule), and the
    regexes compile with re.ASCII so \\s matches Java's. Values equal
    the DuckDB ``quality_langid`` twin in oracle_sql() (pinned by
    test_text_profile_fast_matches_duckdb_twin)."""
    import re as _re

    from agentic_doc_spark.operators.similarity import _spark_round6

    ws_re = _re.compile(r"\s+", _re.ASCII)
    cjk_re = _re.compile(CJK_RE)
    punct_re = _re.compile(r"[a-zA-Z0-9\s]", _re.ASCII)
    markers = {k: frozenset(v) for k, v in LANG_MARKERS.items()}

    def profile(t):
        if t is None:
            # null text: every when() condition is NULL → otherwise
            # branch: len_ok 0, punct_ratio 0.0 (< 0.2 → punct_ok 1),
            # stop_ok 0, wl_ok 0 → quality 0.2, pred_lang 'und'
            return "und", _spark_round6(0.3 * 0.0 + 0.2 * 1.0 + 0.3 * 0.0 + 0.2 * 0.0)
        toks = [w for w in ws_re.split(t.lower()) if w != ""]
        nw = len(toks)
        r = {}
        for lang, mset in markers.items():
            hits = sum(1 for w in toks if w in mset)
            r[lang] = (hits / nw) if nw > 0 else 0.0
        n = len(t)
        cjk = (
            (n - len(cjk_re.sub("", t))) / n if n > 0 else 0.0
        )
        # decision chain — identical comparisons on identical doubles
        if cjk > CJK_THRESHOLD:
            pred = "zh"
        elif (
            r["en"] >= r["es"] and r["en"] >= r["fr"] and r["en"] >= r["de"]
            and r["en"] > 0
        ):
            pred = "en"
        elif r["es"] >= r["fr"] and r["es"] >= r["de"] and r["es"] > 0:
            pred = "es"
        elif r["fr"] >= r["de"] and r["fr"] > 0:
            pred = "fr"
        elif r["de"] > 0:
            pred = "de"
        else:
            pred = "und"
        len_ok = 1.0 if (n >= 50 and n <= 20000) else 0.0
        p = len(punct_re.sub("", t))
        punct_ratio = (p / n) if n > 0 else 0.0
        punct_ok = 1.0 if punct_ratio < 0.2 else 0.0
        stop_ok = (
            1.0
            if (max(r.values()) > 0.02 or cjk > CJK_THRESHOLD)
            else 0.0
        )
        total = sum(len(w) for w in toks)
        wl = (total / nw) if nw > 0 else 0.0
        wl_ok = 1.0 if (wl >= 2.0 and wl <= 12.0) else 0.0
        quality = 0.3 * len_ok + 0.2 * punct_ok + 0.3 * stop_ok + 0.2 * wl_ok
        return pred, _spark_round6(quality)

    def body(texts):
        profiles = [profile(t) for t in texts]
        return {
            "pred_lang": [pred for pred, _ in profiles],
            "quality": [q for _, q in profiles],
        }

    # id and text pass through as the input's own Arrow arrays
    out = [
        id_col,
        text_col,
        T.StructField("pred_lang", T.StringType()),
        T.StructField("quality", T.DoubleType()),
    ]
    return map_arrow(df, [text_col], out, body)


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (portable across
    engines; the rolling-hash variant is fingerprint_rolling)."""
    return F.md5(normalize_text(text))


def fingerprint_rolling(text: Column, window: int = 8) -> Column:
    """Rolling-hash style fingerprint: min of md5 over ``window``-token
    shingles of the normalized text — stable under small edits far from
    the minimum (winnowing-lite)."""
    toks = words(normalize_text(text))
    n = F.size(toks)
    k = F.greatest(n - window + 1, F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.md5(F.array_join(F.slice(toks, i + 1, window), " ")),
    )
    return F.array_min(shingles)


def repetition_ratio(text: Column, ngram: int = 2) -> Column:
    """Gopher-style repetition signal: fraction of word n-grams that are
    duplicates (1 - distinct/total), 0.0 for texts shorter than one
    n-gram. High values flag boilerplate-ish repeated content (Rae et
    al., "Scaling Language Models: ... Gopher", 2021 — repetition
    filters). Pure Catalyst expression; portable twin in oracle_sql()."""
    toks = words(normalize_text(text))
    n = F.size(toks)
    k = F.greatest(n - ngram + 1, F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, ngram), " "),
    )
    distinct = F.size(F.array_distinct(grams))
    return F.when(k > 0, 1.0 - distinct / k).otherwise(F.lit(0.0))


def top_ngram_fraction(text: Column, ngram: int = 2) -> Column:
    """The OTHER Gopher repetition signal: the share of word n-grams
    taken by the single most frequent one (Rae et al. 2021 use the
    top-2/3/4-gram character fractions; boilerplate headers repeat one
    phrase). 0.0 below one n-gram.

    Pure in-row fold — sort the n-grams, then the longest EQUAL RUN of
    the sorted array is the top count (identical grams are adjacent
    after sorting); no explode/groupBy, no shuffle, so the signal
    composes into scans at any scale. The fold carries (prev, run,
    best) in a struct accumulator."""
    toks = words(normalize_text(text))
    n = F.size(toks)
    k = F.greatest(n - ngram + 1, F.lit(0))
    grams = F.sort_array(
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, ngram), " "),
        )
    )
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    folded = F.aggregate(
        grams,
        acc0,
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return F.when(k > 0, folded["best"] / k).otherwise(F.lit(0.0))


#: PII patterns (portable Java/RE2 subset): emails, long digit runs that
#: look like phone numbers, IPv4 addresses.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


def scrub_pii(text: Column) -> Column:
    """PII scrubbing for training corpora: emails → <EMAIL>, phone-shaped
    digit runs → <PHONE>, IPv4 addresses → <IP>. Order matters (emails
    first so their digits don't half-match the phone pattern). All
    regexp_replace — JVM-side, no UDF."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4_RE, "<IP>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return out


def unigram_logprob_scores(
    df, text_col: str = "text", id_col: str = "doc_id"
):
    """Corpus-trained unigram LM score per document — the distributed
    proxy for CCNet-style LM-perplexity quality filtering (Wenzek et al.
    2020 use a pretrained KenLM; with no external model, the corpus's
    OWN unigram distribution ranks documents by how typical their token
    mix is: jargon/garbage scores high, common prose low).

    Returns (id_col, n_tokens, avg_neg_logprob) where avg_neg_logprob =
    mean over tokens of -ln(count(token)/total_tokens), rounded to 6 dp
    (absorbs summation-order drift; the cross-engine contract used by
    the centroid means). Every token has count ≥ 1 by construction —
    no OOV smoothing term is needed.

    Plan: ONE word-count aggregation (map-side combine over the zipfian
    vocabulary), total via a single-row cross join, one equi-join of
    tokens⋈vocab (AQE broadcasts the vocab side when it fits), one
    per-doc aggregation. At 100 TB the vocab table is millions of rows —
    the join stays an equi-join either way; no collect anywhere."""
    from pyspark.sql import functions as F

    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("w")
    )
    vocab = toks.groupBy("w").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("tot"))
    scored = toks.join(vocab, "w").crossJoin(total)
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c") / F.col("tot"))), 6
            ).alias("avg_neg_logprob"),
        )
    )


def c4_line_clean(text):
    """C4-style line-level cleanup (Raffel et al. 2020 §2.2): keep only
    lines that END in terminal punctuation (., !, ?, or a closing
    quote) and carry at least 4 whitespace words; survivors re-join
    with newlines. Pure in-row Catalyst (split → filter → join), no
    shuffle term at any scale."""
    from pyspark.sql import functions as F

    lines = F.split(text, "\n")
    kept = F.filter(
        lines,
        lambda ln: ln.rlike(r'[.!?"”]\s*$')
        & (F.size(words(ln)) >= 4),
    )
    return F.array_join(kept, "\n")


def c4_page_flags(text):
    """C4's page-level drop signals as a struct of booleans: curly
    braces (code), 'lorem ipsum' placeholder text, and the word
    'javascript' (enable-JS boilerplate). The caller decides the drop
    policy; the flags are the reproducible primitive."""
    from pyspark.sql import functions as F

    low = F.lower(text)
    return F.struct(
        text.contains("{").alias("has_brace"),
        low.contains("lorem ipsum").alias("has_lorem"),
        low.contains("javascript").alias("has_javascript"),
    )


def gopher_flags(text: Column) -> Column:
    """The full Gopher document-quality rule battery (Rae et al. 2021,
    Table A1 — public method): returns a struct of per-rule booleans
    plus the combined ``keep``. Rules (document KEPT when all hold):

    - ``wc_ok``: 50 ≤ word count ≤ 100,000
    - ``mwl_ok``: 3 ≤ mean word length ≤ 10
    - ``sym_ok``: (# of '#' or '…'/'...') / words ≤ 0.1
    - ``bullet_ok``: < 90% of lines start with a bullet marker
    - ``ellipsis_ok``: < 30% of lines end with an ellipsis
    - ``alpha_ok``: ≥ 80% of words contain at least one alphabetic char
    - ``stop_ok``: ≥ 2 distinct English stop words present

    Pure Catalyst (staged word/line arrays — consumers should project
    the struct ONCE per the CollapseProject multi-reference rule); the
    repetition-side Gopher rules live in ``repetition_ratio`` /
    ``top_ngram_fraction``."""
    ws = words(text)
    wc = F.size(ws)
    mwl = F.aggregate(
        F.transform(ws, lambda w: F.length(w).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    ) / F.greatest(wc.cast("double"), F.lit(1.0))
    n_sym = F.size(
        F.regexp_extract_all(text, F.lit(r"(#|\.\.\.|…)"), 0)
    )
    lines = F.filter(
        F.split(text, "\n"), lambda ln: F.trim(ln) != ""
    )
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.trim(ln).rlike(r"^([\*\-•‣▪]|\d+[\.\)])\s"),
            )
        ).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$")
            )
        ).cast("double")
        / n_lines
    )
    alpha_frac = F.size(
        F.filter(ws, lambda w: w.rlike("[A-Za-z]"))
    ).cast("double") / F.greatest(wc.cast("double"), F.lit(1.0))
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")
    n_stops = F.size(
        F.array_distinct(
            F.filter(
                F.transform(ws, lambda w: F.lower(w)),
                lambda w: w.isin(*stops),
            )
        )
    )
    flags = {
        "wc_ok": (wc >= 50) & (wc <= 100_000),
        "mwl_ok": (mwl >= 3.0) & (mwl <= 10.0),
        "sym_ok": n_sym.cast("double")
        / F.greatest(wc.cast("double"), F.lit(1.0))
        <= 0.1,
        "bullet_ok": bullet_frac < 0.9,
        "ellipsis_ok": ellipsis_frac < 0.3,
        "alpha_ok": alpha_frac >= 0.8,
        "stop_ok": n_stops >= 2,
    }
    keep = F.lit(True)
    for c in flags.values():
        keep = keep & c
    return F.struct(
        wc.cast("long").alias("n_words"),
        *[v.alias(k) for k, v in flags.items()],
        keep.alias("keep"),
    )
