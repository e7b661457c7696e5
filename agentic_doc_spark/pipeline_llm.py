"""End-to-end training-set builder: the whole LLM-data pipeline as one
composition (the 100 TB use case every individual operator exists for).

    corpus (doc_id, text)
      → quality/language profile, filter        (functions/textstats)
      → exact dedup (first id per fingerprint)  (operators/dedup)
      → near-dup removal (LSH → verify → CC)    (operators/dedup)
      → benchmark decontamination               (operators/dedup)
      → per-language stratified sampling        (operators/packing)
      → cross-doc substring removal (optional)  (operators/dedup)
      → token counts + sequence packing         (operators/packing)

Every stage is the already-tested operator; this module only wires them,
so the plan inherits each stage's scale properties (equi-join candidate
generation, bounded CC lineage, distributed prefix sum — see
ARCHITECTURE.md). Stages toggle off via their parameter being None.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agentic_doc_spark.functions.textstats import (
    repetition_ratio,
    scrub_pii,
    text_profile_fast,
    token_count_ws,
    top_ngram_fraction,
)
from agentic_doc_spark.operators.dedup import (
    dedup_exact,
    decontaminate,
    lsh_jaccard_pairs,
    near_dedup,
    remove_duplicate_substrings,
)
from agentic_doc_spark.operators.packing import (
    pack_sequences,
    sample_stratified,
)


def build_training_set(
    df: DataFrame,
    *,
    benchmark: DataFrame | None = None,
    min_quality: float | None = 0.3,
    lang_rates: dict[str, float] | None = None,
    default_lang_rate: float = 1.0,
    near_dup_threshold: float | None = 0.8,
    decon_k: int = 3,
    max_rep_ratio: float | None = None,
    max_top_ngram: float | None = None,
    dedup_substrings_k: int | None = None,
    scrub: bool = False,
    pack_budget: int | None = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """corpus (id, text) → cleaned, deduped, sampled, packed training
    rows: (doc_id, text, pred_lang, quality, n_tokens[, running, bin_id]).

    - ``min_quality``: drop docs below the C4-style quality score.
    - ``near_dup_threshold``: LSH-candidate → exact-verify Jaccard
      threshold; one survivor (min id) per duplicate cluster.
    - ``benchmark``: eval texts — a DataFrame that MUST carry a
      ``text_col`` column (same name as the corpus side); any corpus doc
      sharing a ``decon_k``-token shingle with it is dropped. ``decon_k``
      defaults to the operator's 3 for small corpora; production
      decontamination typically uses 13-grams (Brown et al. 2020 §C) —
      at k=3 any common trigram overlap kills a document.
    - ``lang_rates``: per-language keep rates (deterministic md5
      sampling); None keeps everything. Languages NOT listed keep
      ``default_lang_rate`` — default 1.0 (kept); pass 0.0 for
      whitelist semantics.
    - ``max_rep_ratio`` / ``max_top_ngram``: Gopher-style repetition
      gates — drop docs whose duplicate-bigram fraction / top-bigram
      share exceeds the bound (None = off).
    - ``dedup_substrings_k``: cross-document exact substring removal
      (Lee et al. 2021 k-gram form) — token ranges covered by a
      k-gram occurring in another document are CUT from the text
      (whitespace-normalized); runs after the matching stages, before
      scrubbing. None = off.
    - ``scrub``: mask emails / phone-shaped digit runs / IPv4 in the
      output text (after dedup+decontamination, which match on the
      ORIGINAL text).
    - ``pack_budget``: tokens per training bin; None skips packing.
      NOTE: packing runs the whole upstream pipeline EAGERLY at call
      time (the distributed prefix sum checkpoints and collects bounded
      offsets), and any filter applied to the result AFTERWARD breaks
      running/bin_id contiguity — filter via the parameters instead, or
      pass ``pack_budget=None`` and pack last.
    """
    deduped = _dedup_stage(
        df,
        min_quality=min_quality,
        max_rep_ratio=max_rep_ratio,
        max_top_ngram=max_top_ngram,
        near_dup_threshold=near_dup_threshold,
        text_col=text_col,
        id_col=id_col,
    )
    return _finalize_stage(
        deduped,
        benchmark=benchmark,
        lang_rates=lang_rates,
        default_lang_rate=default_lang_rate,
        decon_k=decon_k,
        dedup_substrings_k=dedup_substrings_k,
        scrub=scrub,
        pack_budget=pack_budget,
        text_col=text_col,
        id_col=id_col,
    )


def _dedup_stage(
    df: DataFrame,
    *,
    min_quality: float | None,
    max_rep_ratio: float | None,
    max_top_ngram: float | None,
    near_dup_threshold: float | None,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Stage 1 — the expensive prefix: quality/repetition gates, exact
    dedup, LSH near-dedup. This is the natural durable-checkpoint
    boundary for the resumable builder: everything before it is the bulk
    of the compute (iterative CC included), everything after is cheap
    filters + one packing exchange.

    Lineage is TRUNCATED (reliable checkpoint on clusters,
    localCheckpoint locally — dedup._truncate_lineage) right after the
    profile projection — BEFORE the quality gate — and again after the
    exact-dedup semi-join, values untouched: every downstream stage
    references its input from BOTH sides of a join/anti-join (dedup's
    canon agg + semi-join left, decontaminate's shingle explode +
    anti-join left), so without the cuts the composed plan paid the
    profile ~4× more (training_set 18.7 s → ~4 s total). The profile is
    a Python row kernel, so a filter on its ``quality`` output cannot
    be pushed below it; the cut is not needed for that."""
    from agentic_doc_spark.operators.dedup import _truncate_lineage

    out = _truncate_lineage(
        text_profile_fast(
            df.select(F.col(id_col), F.col(text_col)), text_col, id_col
        )
    )
    if min_quality is not None:
        out = out.filter(F.col("quality") >= min_quality)
    if max_rep_ratio is not None:
        out = out.filter(repetition_ratio(F.col(text_col)) <= max_rep_ratio)
    if max_top_ngram is not None:
        out = out.filter(top_ngram_fraction(F.col(text_col)) <= max_top_ngram)

    # exact dedup: keep each fingerprint's canonical (min-id) row
    canon = dedup_exact(out, text_col, id_col).filter(
        F.col("is_canonical")
    ).select(id_col)
    out = _truncate_lineage(out.join(canon, id_col, "left_semi"))

    if near_dup_threshold is not None:
        pairs = lsh_jaccard_pairs(
            out.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
            threshold=near_dup_threshold,
        ).select(F.col("a"), F.col("b"))
        out = near_dedup(out, pairs, id_col)
    return out


def _finalize_stage(
    out: DataFrame,
    *,
    benchmark: DataFrame | None,
    lang_rates: dict[str, float] | None,
    default_lang_rate: float,
    decon_k: int,
    scrub: bool,
    pack_budget: int | None,
    text_col: str,
    id_col: str,
    dedup_substrings_k: int | None = None,
) -> DataFrame:
    """Stage 2 — decontamination, sampling, scrubbing, token counting,
    packing, from a (possibly re-read) stage-1 frame."""
    if benchmark is not None:
        out = decontaminate(
            out, benchmark, k=decon_k, text_col=text_col, id_col=id_col
        )

    if lang_rates is not None:
        out = sample_stratified(
            out, lang_rates, "pred_lang", id_col, default_rate=default_lang_rate
        )

    if dedup_substrings_k is not None:
        # after the matching stages (they must see the original text),
        # before scrubbing: cut cross-document duplicated token ranges
        out = remove_duplicate_substrings(
            out, dedup_substrings_k, text_col, id_col
        )

    if scrub:
        # after the matching stages: dedup/decontamination must see the
        # original text; the TRAINING text is the scrubbed one
        out = out.withColumn(text_col, scrub_pii(F.col(text_col)))

    out = out.withColumn(
        "n_tokens", token_count_ws(F.col(text_col)).cast("long")
    )
    if pack_budget is not None:
        out = pack_sequences(
            out, pack_budget, order_col=id_col, tokens_col="n_tokens"
        )
    return out


def build_training_set_resumable(
    spark,
    df: DataFrame,
    *,
    work_dir: str,
    run_id: str = "run-0",
    benchmark: DataFrame | None = None,
    min_quality: float | None = 0.3,
    lang_rates: dict[str, float] | None = None,
    default_lang_rate: float = 1.0,
    near_dup_threshold: float | None = 0.8,
    decon_k: int = 3,
    max_rep_ratio: float | None = None,
    max_top_ngram: float | None = None,
    dedup_substrings_k: int | None = None,
    scrub: bool = False,
    pack_budget: int | None = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crash-resumable ``build_training_set``: each stage materializes to
    a durable ``{work_dir}/{run_id}/{stage}`` parquet directory with an
    output-first commit (Spark's ``_SUCCESS`` marker), and a re-run with
    the SAME run_id reuses every completed stage instead of recomputing
    it — a crash at the packing stage no longer re-runs the whole dedup
    chain (round-3 VERDICT task 6; same commit-order discipline as
    ``operators/lineage.run_with_resume``: the durable write IS the
    completion record, and readers only ever see whole stages).

    All stages are deterministic (hash sampling, min-id survivors, range
    prefix sum), so a resumed run's final output is byte-identical to an
    uninterrupted one. A partially-written stage (no ``_SUCCESS``) is
    OVERWRITTEN on retry — replay-idempotent. Use a fresh run_id to
    rebuild from scratch after changing parameters: stage reuse checks
    only completion, not the parameter set that produced it."""
    base = f"{work_dir.rstrip('/')}/{run_id}"

    def _complete(stage_dir: str) -> bool:
        from py4j.java_gateway import java_import

        jvm = spark.sparkContext._jvm
        java_import(jvm, "org.apache.hadoop.fs.Path")
        path = jvm.Path(f"{stage_dir}/_SUCCESS")
        fs = path.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        return fs.exists(path)

    dedup_dir = f"{base}/deduped"
    if not _complete(dedup_dir):
        deduped = _dedup_stage(
            df,
            min_quality=min_quality,
            max_rep_ratio=max_rep_ratio,
            max_top_ngram=max_top_ngram,
            near_dup_threshold=near_dup_threshold,
            text_col=text_col,
            id_col=id_col,
        )
        deduped.write.mode("overwrite").parquet(dedup_dir)
    deduped = spark.read.parquet(dedup_dir)

    final_dir = f"{base}/final"
    if not _complete(final_dir):
        final = _finalize_stage(
            deduped,
            benchmark=benchmark,
            lang_rates=lang_rates,
            default_lang_rate=default_lang_rate,
            decon_k=decon_k,
            dedup_substrings_k=dedup_substrings_k,
            scrub=scrub,
            pack_budget=pack_budget,
            text_col=text_col,
            id_col=id_col,
        )
        final.write.mode("overwrite").parquet(final_dir)
    return spark.read.parquet(final_dir)


def build_interleaved_training_set(
    raw: DataFrame,
    *,
    min_quality: float | None = 0.3,
    pack_budget: int = 1024,
    media_tokens: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """INTERLEAVED text+media corpus (documents_raw shape) → packed
    multimodal training sequences: the text content of each document
    (text spans concatenated in offset order) is quality-gated
    (C4-style score) and exact-deduplicated (normalized-md5 min-id
    survivor), then the SURVIVING documents — text AND media spans —
    are packed into fixed-budget bins with per-image placeholder-token
    costs (operators/packing.py:pack_interleaved).

    The multimodal sibling of ``build_training_set``: gates evaluate
    only the text modality (the signal quality filters understand);
    packing preserves the interleaving. Output: (bin_id, n_docs,
    n_tokens, n_media, sig).

    Scale shape: every stage is a tested operator — one groupBy for
    the fingerprint dedup, a LEFT SEMI join back (AQE broadcasts the
    survivor ids when small), then pack_interleaved's
    groupBy + range-exchange prefix sum + groupBy(bin)."""
    from pyspark.sql import functions as F

    from agentic_doc_spark.functions.textstats import (
        fingerprint,
        quality_score,
    )
    from agentic_doc_spark.operators.packing import pack_interleaved

    text_spans = F.filter(F.col("spans"), lambda s: s["media_ref"].isNull())
    ordered = F.array_sort(
        F.transform(
            text_spans,
            lambda s: F.struct(
                s["offset"].alias("offset"), s["text"].alias("text")
            ),
        )
    )
    texts = raw.select(
        F.col(id_col),
        F.array_join(
            F.transform(ordered, lambda s: s["text"]), " "
        ).alias("text"),
    )
    gated = texts
    if min_quality is not None:
        gated = gated.filter(quality_score(F.col("text")) >= min_quality)
    # the CANONICAL fingerprint (textstats.fingerprint — shared with
    # dedup_exact), not an inline md5: the exact-dedup definition must
    # not drift between the two paths
    canon = gated.groupBy(fingerprint(F.col("text"))).agg(
        F.min(id_col).alias(id_col)
    ).select(id_col)
    survivors = raw.join(canon, id_col, "left_semi")
    return pack_interleaved(
        survivors, budget=pack_budget, media_tokens=media_tokens,
        id_col=id_col,
    )
