"""Data selection for LLM pre-training corpora.

``dsir_weights`` implements DSIR-style importance resampling (Xie et
al. 2023, "Data Selection for Language Models via Importance
Resampling" — public method): documents are scored by how much more
likely their hashed-unigram bag is under a small TARGET corpus than
under the raw pool, and the top-weighted documents are selected.

Engine-portable by construction (value-matching DuckDB twin):

- the feature hash is the repo's canonical md5 fold
  (``conv(substr(md5(word),1,15),16,10) % n_buckets`` — matches
  DuckDB ``('0x'||substr(md5(w),1,15))::BIGINT % n_buckets``);
- per-bucket log-likelihood ratios are rounded to 6 dp BEFORE the
  per-document weighted sum, so a 1-ulp ln() difference between the
  JVM and another engine's libm dies at the rounding;
- the per-document sum folds terms in ascending bucket order
  (collect → sort → sequential ``F.aggregate``), making float
  summation order canonical across engines and partition layouts.

Scale shape: one shuffle for (doc, bucket) counts, one bounded
aggregation to the ``n_buckets``-row ratio table (broadcast back), one
groupBy(doc) for the fold — no window over a global order; selection
is a bounded top-k (TakeOrderedAndProject), not a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agentic_doc_spark.kernel import map_arrow


def _bucket_counts(
    docs: DataFrame,
    target_col: str,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """Per-document bucketed word counts via an Arrow-batched kernel:
    hashlib-C md5 (bit-identical to the ``_bucket`` expression — same
    hex fold, same utf-8 bytes, memoised per distinct word) and
    integer counting inside the row. One OUTPUT ROW PER DOCUMENT with
    the distinct buckets and their counts as parallel arrays sorted by
    bucket ascending — the canonical term order the weighted-sum fold
    needs, so the consumer never shuffles to re-group or re-sort.
    Replaces the explode → expression md5 per token → partial-agg
    shuffle shape. Integer-only, so there is no float-parity surface."""
    from collections import Counter

    from agentic_doc_spark.operators.dedup import _md5_key64_py

    memo: dict[str, int] = {}

    def bucket(w: str) -> int:
        r = memo.get(w)
        if r is None:
            r = memo[w] = _md5_key64_py(w) % n_buckets
        return r

    def body(ids, texts, targets):
        rows = []
        for i, t, tgt in zip(ids, texts, targets):
            cnt = sorted(Counter(bucket(w) for w in (t or "").split(" ")).items())
            rows.append(
                (i, bool(tgt), [bk for bk, _ in cnt], [c for _, c in cnt])
            )
        return rows

    out = [
        id_col,
        T.StructField("_is_t", T.BooleanType()),
        T.StructField("buckets", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
    return map_arrow(docs, [id_col, text_col, target_col], out, body)


def dsir_weights(
    docs: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 128,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document DSIR importance weight.

    ``target_col`` is a boolean column marking the target (quality)
    subset; the raw distribution is the whole input. Weight =
    Σ_words round(ln(p_target(bucket)) − ln(p_raw(bucket)), 6) with
    add-``alpha`` smoothing, summed in canonical bucket order and
    rounded to 6 dp. Positive weight ⇒ more target-like than the pool.
    """
    from agentic_doc_spark.operators.dedup import _truncate_lineage

    # materialize the kernel output ONCE: the ratio-table training
    # collect below and the final weighted-sum plan both consume it —
    # without the cut the corpus is re-tokenized and re-hashed for
    # each (store-vs-recompute, same as the packing/LSH boundaries)
    per = _truncate_lineage(
        _bucket_counts(docs, target_col, text_col, id_col, n_buckets)
    )
    exploded = per.select(
        "_is_t",
        F.explode(F.arrays_zip("buckets", "counts")).alias("e"),
    ).select(
        "_is_t",
        F.col("e.buckets").alias("bucket"),
        F.col("e.counts").alias("c"),
    )
    stats = exploded.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_t"), F.col("c")).otherwise(0)).alias("t_b"),
        F.sum("c").alias("r_b"),
    )
    tot = stats.agg(
        F.sum("t_b").alias("t_tot"), F.sum("r_b").alias("r_tot")
    )
    a, b = float(alpha), float(alpha * n_buckets)
    lam = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log((F.col("t_b") + a) / (F.col("t_tot") + b))
            - F.log((F.col("r_b") + a) / (F.col("r_tot") + b)),
            6,
        ).alias("lam"),
    )
    # Collect the BOUNDED ratio table (≤ n_buckets rows — a dimension
    # load, not a data collect) and re-inject it as a map literal:
    # without this the lam subtree re-derives the word counts inside
    # the final plan, so the corpus is scanned and exploded THREE times
    # per run (plan audit showed 6 exchanges / 3 scans). With the
    # literal: one bounded training job + ONE corpus scan at execution
    # (2 exchanges) — the same driver-orchestrated-bounded-stats shape
    # as the IVF centroid literals. Rounding already happened in Spark,
    # so the collected doubles are the exact values the inline form
    # would have used.
    lam_map = F.create_map(
        *[
            F.lit(x)
            for r in sorted(lam.collect(), key=lambda r: r["bucket"])
            for x in (r["bucket"], r["lam"])
        ]
    )
    # the kernel emits buckets ascending, so the in-row fold already
    # sums terms in the canonical bucket order — no groupBy, no
    # per-doc re-sort (the previous shape shuffled one row per
    # (doc, bucket) and re-grouped them here)
    terms = F.zip_with(
        F.col("buckets"),
        F.col("counts"),
        lambda bk, c: c * F.coalesce(lam_map[bk], F.lit(0.0)),
    )
    return per.select(
        F.col(id_col),
        F.round(
            F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("weight"),
    )


def domain_mix(
    docs: DataFrame,
    domain_col: str,
    tokens_col: str,
    temperature: float = 0.7,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based domain mixture resampling (the standard
    multi-source pre-training rebalancer, e.g. multilingual
    temperature sampling): target share of domain s is
    ``n_s^T / Σ n^T`` (T < 1 flattens the mixture toward small
    domains), realized at the SAME total token budget by per-domain
    rates ``r_s = budget·p_s / n_s`` — small domains get r > 1
    (epoch repetition), large domains r < 1 (downsampling).

    Each document is emitted ``floor(r)`` times plus one more iff
    md5-uniform(id) < frac(r) — deterministic, engine-portable, no
    RNG state. Rates are rounded to 6 dp before use so a 1-ulp pow()
    difference between engines cannot flip a keep decision.

    Output: one row per (document, copy): (id, domain, copy).

    Scale shape: one bounded groupBy(domain) for the stats (domains ≪
    corpus), broadcast back, then a pure map + in-row sequence explode
    — no window, no global sort, no skew beyond the domain sizes
    themselves."""
    stats = docs.groupBy(domain_col).agg(
        F.sum(tokens_col).alias("_n")
    )
    tot = stats.agg(
        F.sum("_n").alias("_budget"),
        F.sum(F.pow(F.col("_n").cast("double"), temperature)).alias(
            "_z"
        ),
    )
    rates = stats.crossJoin(F.broadcast(tot)).select(
        domain_col,
        F.round(
            F.col("_budget")
            * F.pow(F.col("_n").cast("double"), temperature)
            / F.col("_z")
            / F.col("_n"),
            6,
        ).alias("_rate"),
    )
    from agentic_doc_spark.operators.dedup import md5_uniform

    u = md5_uniform(F.col(id_col))
    k = F.floor(F.col("_rate")).cast("long") + F.when(
        u < F.col("_rate") - F.floor(F.col("_rate")), 1
    ).otherwise(0)
    copies = F.when(
        k >= 1, F.sequence(F.lit(1).cast("long"), k)
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        docs.join(F.broadcast(rates), domain_col)
        .select(
            id_col,
            domain_col,
            F.explode(copies).alias("copy"),
        )
    )


def dsir_select(
    docs: DataFrame,
    target_col: str,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 128,
    alpha: float = 1.0,
) -> DataFrame:
    """Top-``k`` documents by DSIR weight (ties broken by id — fully
    deterministic). ``k`` is bounded, so the plan is
    TakeOrderedAndProject, not a global sort."""
    w = dsir_weights(docs, target_col, text_col, id_col, n_buckets, alpha)
    return w.orderBy(F.desc("weight"), F.asc(id_col)).limit(k)
