"""Approximate-nearest-neighbor search over embedding columns.

- brute_force_topk: exact cosine top-k — the correctness baseline. The
  query side is broadcast (queries ≪ corpus), the corpus side streams:
  one wide scan, no shuffle until the per-query top-k window.
- ivf_topk / pq_topk / ivfpq_topk: the IVFADC index (Jégou et al. 2011)
  — optional coarse cells (deterministic k-means over one bounded
  sample), plus exact cosine or a PQ codebook. A query scores only
  its n_probe nearest cells, ~n_probe/n_cells of the corpus.

Every index runs one corpus kernel (``_corpus_table``) and one query
kernel (``_query_table``), which branch only on whether there are cells
and whether there is a codebook; ``_search`` joins, scores and ranks
with one top-k window (``_topk_per_group``).
Vector-to-centroid scoring has one numpy home per metric,
``_cos_cells_np`` and ``_sub_l2_np``; pair scores are JVM expressions.
Every kernel keeps the IEEE op sequence of the JVM folds, so every score
is the same double either way.
"""

from __future__ import annotations

import math
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from agentic_doc_spark.operators.dedup import _md5_key64, cosine


def _require_k(k: int) -> None:
    """Top-k guard, raised before an index trains (that runs jobs)."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")


def _topk_per_group(
    scored: DataFrame, k: int, value_col: str, ascending: bool
) -> DataFrame:
    """Per-query top-k as (query_id, neighbor_id, value, rank):
    ``row_number()`` over (value ASC|DESC, neighbor_id ASC) per query,
    kept where ≤ k. Spark plans it as a two-phase ``WindowGroupLimit``,
    a Partial one below the hash exchange on query_id and a Final one
    above it, so no reducer reads more than k × partitions rows of a
    query. Trap: for k above
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000)
    Spark plans a plain ``Window`` with no limit, funnelling every
    candidate of a query through one reducer; the rows stay the same.

    The (value, neighbor_id) ordering is total (neighbor_id unique per
    query in every caller), so the result is partition-count invariant.
    NaN sorts greatest and −0.0 equals 0.0; values must be non-null
    (every caller computes coalesced/closed-form scores)."""
    _require_k(k)
    value = F.col(value_col)
    w = Window.partitionBy("query_id").orderBy(
        value.asc() if ascending else value.desc(), F.col("neighbor_id").asc()
    )
    rank = F.row_number().over(w).alias("rank")
    return scored.select("query_id", "neighbor_id", value_col, rank).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query (query_id, neighbor_id, cos, rank).

    Self-matches excluded. Queries are broadcast — scoring is a map-side
    nested loop over corpus partitions, then the per-query top-k window
    (``_topk_per_group``), whose only exchange carries ≤ k × partitions
    candidates per query. Norms are STAGED once per side before the
    cross join (the exact ``_norm`` fold doubles), so each pair pays one
    dot fold instead of dot + 2 norm folds — bit-identical cos via the
    same try_divide(dot, qn·cn) op order."""
    q = F.broadcast(
        queries.selectExpr(
            f"`{id_col}` AS query_id",
            f"`{vec_col}` AS qv",
            f"{_norm_sql(f'`{vec_col}`')} AS __qn",
        ).selectExpr("query_id", "qv", "__qn AS qn")
    )
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"`{vec_col}` AS cv",
        f"{_norm_sql(f'`{vec_col}`')} AS __cn",
    ).selectExpr("neighbor_id", "cv", "__cn AS cn")
    scored = c.crossJoin(q).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.select("query_id", "neighbor_id", _staged_cos())
    return _topk_per_group(scored, k, "cos", ascending=False)


def _staged_cos():
    """``cos`` over the vectors and norms staged on each side (qv/qn,
    cv/cn): the exact ``cosine()`` doubles with one dot fold per pair;
    a zero or NULL denominator gives 0.0."""
    from agentic_doc_spark.operators.dedup import _dot

    dot = _dot(F.col("qv"), F.col("cv"))
    cos = F.try_divide(dot, F.col("qn") * F.col("cn"))
    return F.coalesce(cos, F.lit(0.0)).alias("cos")


def _spark_round6(x: float) -> float:
    """Spark's ``round(double, 6)``: BigDecimal.valueOf(d) (shortest
    decimal repr — exactly Python's ``repr``) set to scale 6 with
    HALF_UP. Bit-identical to the engine's rounding, so driver-side
    training can round member means the way the relational form did.
    NaN/Inf pass through (as in Spark)."""
    import decimal

    x = float(x)
    if math.isnan(x) or math.isinf(x):
        return x
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _fast_count(df: DataFrame) -> int:
    """Exact row count from parquet file footers when the frame is a
    pure physical re-arrangement of one parquet scan (project /
    repartition / alias nodes only — all row-preserving); any other
    plan shape falls back to ``df.count()``. Sizing the deterministic
    training-sample modulus is the only use — the modulus is a pure
    function of n, so values are identical either way. At 100 TB this
    replaces a dedicated full counting scan per ANN index build with a
    driver-side metadata read (parquet footers carry exact row
    counts)."""
    from agentic_doc_spark.operators.dedup import _plan_node_names

    row_preserving = {
        "Project",
        "Repartition",
        "RepartitionByExpression",
        "SubqueryAlias",
        "LogicalRelation",
    }
    names = _plan_node_names(df)
    if (
        names is None
        or any(n not in row_preserving for n in names)
        or names.count("LogicalRelation") != 1
    ):
        return df.count()
    try:
        import pyarrow.parquet as _pq

        files = df.inputFiles()
        if not files:  # not file-based (e.g. a JDBC relation): no footers
            return df.count()
        total = 0
        for f in files:
            # entries are URIs: a local path's space or % is escaped
            u = urlparse(f)
            path = unquote(u.path) if u.scheme == "file" else f
            total += _pq.ParquetFile(path).metadata.num_rows
        return total
    except Exception:
        return df.count()


def _dense(vec, width: int):
    """An Arrow vector column as (V, have, whole). V is (n, w) in the
    element type, w = max(width, longest row): each row's elements, 0
    past its end and at a NULL element, so a sequential sum of squares
    over V is the row's own fold. ``have`` marks the elements present,
    ``whole`` the non-NULL rows without a NULL element; NaN components
    stay NaN. Keeping float32 elements float32 keeps the engine's
    arithmetic: x·x of a float is a float, x·c with a double centroid a
    double."""
    import numpy as np

    off = np.asarray(vec.offsets, dtype=np.int64)
    null = vec.is_null().to_numpy(zero_copy_only=False)
    lens = np.where(null, 0, np.diff(off))
    # a trailing sentinel slot stands in for every absent element
    x = vec.values.to_numpy(zero_copy_only=False)
    x = np.append(x, np.zeros(1, x.dtype))
    ok = np.append(vec.values.is_valid().to_numpy(zero_copy_only=False), 0)
    j = np.arange(max(width, int(lens.max(initial=0))))
    pos = np.where(j < lens[:, None], off[:-1, None] + j, len(x) - 1)
    have = ok[pos].astype(bool)
    V = x[pos]
    V[~have] = 0
    return V, have, ~null & (have.sum(1) == lens)


def _cos_cells_np(V, cells: list[tuple[int, list[float]]], ok=None):
    """The one cos-to-centroids scorer (corpus assignment, query probes,
    centroid training): (cos (n, cells) in list order, ‖v‖ (n,)).

    The IEEE op sequence of the ``_norm`` / ``_dot`` folds: sums run
    dimension-by-dimension in ascending order (((0 + x0·y0) + x1·y1)…),
    centroid norms are ``_seq_norm`` constants, and cos =
    dot/(vnorm·cnorm) with the try_divide+coalesce convention (a zero
    denominator gives 0.0). Rows outside ``ok`` — those whose dot fold
    is NULL in the engine — score 0.0 everywhere."""
    import numpy as np

    C = np.asarray([v for _, v in cells], dtype=np.float64)
    cnorm = np.asarray([_seq_norm(v) for _, v in cells], dtype=np.float64)
    acc = np.zeros(V.shape[0])
    for d in range(V.shape[1]):
        acc = acc + V[:, d] * V[:, d]
    vnorm = np.sqrt(acc)
    dot = np.zeros((V.shape[0], len(cells)))
    for d in range(C.shape[1]):
        dot = dot + V[:, d : d + 1] * C[None, :, d]
    denom = vnorm[:, None] * cnorm[None, :]
    with np.errstate(invalid="ignore", over="ignore"):
        cos = np.divide(dot, denom, out=np.zeros_like(dot), where=denom != 0)
    if ok is not None:
        cos[~ok] = 0.0
    return cos, vnorm


def _nearest_cell(cos, cells: list[tuple[int, list[float]]]):
    """Cell ids of the FIRST maximum per row (np.argmax: ties → earlier
    cell, a NaN wins from its first occurrence — NaN greatest, as in
    the DuckDB oracle)."""
    import numpy as np

    return np.asarray([c for c, _ in cells], dtype=np.int64)[cos.argmax(1)]


def _cos_batch(vec, cells: list[tuple[int, list[float]]], width: int = 0):
    """``_cos_cells_np`` over an Arrow vector column: (V, have, cos,
    ‖v‖ as Arrow doubles). The engine's norm fold is NULL for a NULL
    row or element, and its dot fold also for a row of another length
    than the centroids (zip_with pads with NULL): such rows score 0.0."""
    import pyarrow as pa

    dim = len(cells[0][1])
    V, have, whole = _dense(vec, max(dim, width))
    cos, vnorm = _cos_cells_np(V, cells, whole & (have.sum(1) == dim))
    return V, have, cos, pa.array(vnorm, pa.float64(), mask=~whole)


def _sub_l2_np(V, cb: dict, m: int, d_sub: int, have=None):
    """The one squared-L2-to-codebook scorer (PQ encoding, ADC query
    tables): yields (sub, cell ids ascending, dist (n, cells)) per
    subspace with present cells. Each distance is the sequential
    (x−y)·(x−y) fold in element order, so NaN components give NaN; a
    subvector missing an element (``have``; NULL in the engine) gives
    +inf."""
    import numpy as np

    for s in range(m):
        cells = sorted(c for (ss, c) in cb if ss == s)
        if not cells:
            continue
        C = np.asarray([cb[(s, c)] for c in cells], dtype=np.float64)
        lo = s * d_sub
        dist = np.zeros((V.shape[0], len(cells)))
        for i in range(d_sub):
            diff = V[:, lo + i, None] - C[None, :, i]
            dist = dist + diff * diff
        if have is not None:
            dist[~have[:, lo : lo + d_sub].all(1)] = np.inf
        yield s, np.asarray(cells, dtype=np.int64), dist


def _pq_codes_np(V, cb: dict, m: int, d_sub: int, have=None):
    """PQ codes (n, m) int64 over ``_sub_l2_np``: per subspace the first
    strict minimum in cell order (ties → lowest cell); a NaN distance
    never wins, and a subspace with no finite distance gets −1."""
    import numpy as np

    codes = np.full((V.shape[0], m), -1, dtype=np.int64)
    for s, cells, dist in _sub_l2_np(V, cb, m, d_sub, have):
        masked = np.where(np.isnan(dist), np.inf, dist)
        best = masked.argmin(1)
        codes[:, s] = np.where(np.isfinite(masked.min(1)), cells[best], -1)
    return codes


def _nested(a):
    """An (n, d1, …) numpy array as n nested Arrow lists."""
    import numpy as np
    import pyarrow as pa

    out = pa.array(a.reshape(-1))
    for k in reversed(a.shape[1:]):
        step = np.arange(len(out) // k + 1, dtype=np.int32) * k
        out = pa.ListArray.from_arrays(pa.array(step), out)
    return out


def _seq_norm(vec: list[float]) -> float:
    """Euclidean norm via a sequential left-to-right sum of squares —
    the exact IEEE op sequence of the Catalyst ``_norm`` fold (aggregate
    init 0.0, acc + x*x in element order, then sqrt), so a norm
    precomputed here is bit-identical to one computed per-row in the
    engine."""
    s = 0.0
    for x in vec:
        s += float(x) * float(x)
    return math.sqrt(s)


def _norm_sql(col: str) -> str:
    """SQL text of the ``_norm`` fold — identical Catalyst expression,
    parsed JVM-side in one call instead of built over py4j."""
    return (
        f"sqrt(aggregate(transform({col}, x -> x * x), 0.0D,"
        " (s, v) -> s + v))"
    )


def _vector_rows(train: DataFrame) -> list:
    """The trainers' one collect of their (id, vector) sample, rows with
    a NULL vector left out: such a row never seeds a cell and adds
    nothing to a member mean, as in the DuckDB twins (``arg_min(v, id)``
    skips a NULL ``v`` and ``unnest(NULL)`` yields no rows)."""
    return [r for r in train.collect() if r[1] is not None]


def _modulo_seeds(rows, k: int) -> dict[int, tuple[int, list]]:
    """Trainer seeds: cell → (id, vector) of the min-id row per
    ``id % k`` bucket, with SQL's TRUNCATED remainder (sign of the
    dividend, unlike Python's floor mod) so negative ids bucket as in
    the engines."""
    seeds: dict[int, tuple[int, list]] = {}
    for r in rows:
        i = int(r[0])
        cell = i % k if i >= 0 else -((-i) % k)
        if cell not in seeds or i < seeds[cell][0]:
            seeds[cell] = (i, r[1])
    return seeds


def _round6_mean(members, seed: list[float]) -> list[float]:
    """A trainer cell's Lloyd update: its members' per-column mean
    rounded through ``_spark_round6`` (which absorbs summation-order
    drift), or the seed for a cell without members."""
    if not len(members):
        return seed
    return [_spark_round6(float(c.mean())) for c in members.T]


def _train_centroids(
    train: DataFrame,
    n_cells: int,
    refine: int,
    vec_col: str,
    id_col: str,
) -> list[tuple[int, list[float]]]:
    """Driver-orchestrated Lloyd training over a (bounded) train frame.

    Seeds are the min-id vector per id-modulo bucket
    (``_modulo_seeds``); each of the ``refine`` Lloyd rounds assigns
    the sample by cosine (``_cos_cells_np``) and moves every centroid
    to its 6-dp-rounded member mean (``_round6_mean``) — the
    cross-engine determinism contract; empty cells keep their seed.
    It runs as exactly ONE bounded collect of the training sample with
    the Lloyd iterations in numpy on the driver. The 6-dp rounding
    absorbs summation-order drift, so the centroids do not depend on
    the partition count and equal the DuckDB oracle's ``cents`` in
    ``_SQL_IVF_ASSIGNED`` (pinned by
    test_train_centroids_partition_invariant)."""
    import numpy as np

    rows = _vector_rows(train.select(F.col(id_col), F.col(vec_col)))
    cents = sorted(
        (c, [float(x) for x in v])
        for c, (_, v) in _modulo_seeds(rows, n_cells).items()
    )
    if not cents:
        return cents
    V = np.asarray([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    for _ in range(refine):
        member_cell = _nearest_cell(_cos_cells_np(V, cents)[0], cents)
        cents = [
            (cell, _round6_mean(V[member_cell == cell], seed_vec))
            for cell, seed_vec in cents
        ]
    return cents


def _train_sample(
    corpus: DataFrame,
    n_cells: int,
    train_per_cell: int,
    id_col: str,
    n: int | None = None,
) -> DataFrame:
    """Deterministic hash-sample of the corpus for centroid training,
    sized to ≈ train_per_cell × n_cells vectors (standard sampled-k-means
    IVF practice — training on the full corpus costs a full extra scan +
    explode per round for no recall gain). The sample key is an md5 fold
    of the id — portable bit-for-bit to the DuckDB oracle twin
    (``('0x'||substr(md5(id),1,15))::BIGINT``); when the corpus already
    fits the budget the frame passes through untouched. ``n`` lets a
    caller that already counted the corpus skip the count job (the
    modulus is a pure function of n, so values are unchanged); when no
    n is supplied the count comes from parquet footer metadata where
    the plan allows it (``_fast_count``) instead of a counting scan."""
    if n is None:
        n = _fast_count(corpus)
    m = max(1, n // max(1, train_per_cell * n_cells))
    if m <= 1:
        return corpus
    key = F.pmod(_md5_key64(F.col(id_col).cast("string")), F.lit(m))
    return corpus.filter(key == F.lit(0))


def _require_cells(cells: list | None, pq: tuple | None) -> None:
    """Guard for the index kernels, raised before any job runs: an
    index without a codebook needs cells, and given cells must be
    non-empty — with none there is no nearest one, and the kernel would
    fail in the executor."""
    if not cells and (cells is not None or pq is None):
        raise ValueError(
            "no centroid cells to assign to (was the training sample empty?)"
        )


def _type(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.simpleString()


def _ddl(cols: dict) -> str:
    """A kernel's output schema from {name: SQL type, or False to leave
    the column out}."""
    return ", ".join(f"{n} {t}" for n, t in cols.items() if t)


def _corpus_table(
    corpus: DataFrame,
    cells: list[tuple[int, list[float]]] | None,
    pq: tuple | None,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The one corpus-side index kernel: a zero-exchange mapInArrow map
    over the scan with the index in its closure, so each vector crosses
    the Arrow boundary once. ``cells`` (or None) adds ``cell``, the
    nearest centroid (``_cos_cells_np`` + ``_nearest_cell``: ties and
    zero-norm rows → lowest cell, a NaN score wins from its first
    cell); ``pq`` (``_codebook_dict``'s tuple, or None) adds ``codes``
    (``_pq_codes_np``). Without a codebook the cells are scored exactly,
    so the row also carries its vector cast to double (NaN stays NaN)
    and ``_vnorm``, ‖v‖ as the exact ``_norm``-fold double. Output
    (id, [vec], [cell], _vnorm | codes)."""
    import pyarrow as pa

    _require_cells(cells, pq)
    exact = pq is None
    cols = {
        id_col: _type(corpus, id_col),
        vec_col: exact and "array<double>",
        "cell": cells is not None and "bigint",
        "_vnorm": exact and "double",
        "codes": not exact and "array<int>",
    }
    names = [n for n, t in cols.items() if t]
    cb, m, d_sub, _ = pq or (None, 0, 0, 0)

    def run(batches):
        for batch in batches:
            vec = batch.column(vec_col).cast(pa.list_(pa.float64()))
            out = {id_col: batch.column(id_col), vec_col: vec}
            if cells is not None:
                V, have, cos, out["_vnorm"] = _cos_batch(vec, cells, m * d_sub)
                out["cell"] = pa.array(_nearest_cell(cos, cells), pa.int64())
            else:
                V, have, _ = _dense(vec, m * d_sub)
            if not exact:
                codes = _pq_codes_np(V, cb, m, d_sub, have).astype("int32")
                out["codes"] = _nested(codes)
            yield pa.RecordBatch.from_arrays(
                [out[n] for n in names], names=names
            )

    return corpus.select(id_col, vec_col).mapInArrow(run, _ddl(cols))


def assign_cells_fast(
    corpus: DataFrame,
    cells: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid: the corpus kernel
    with cells and no codebook, ZERO exchanges (pinned against a scalar
    loop by test_assign_cells_fast_bit_identical). Output (id, vec,
    cell, _vnorm)."""
    return _corpus_table(corpus, cells, None, vec_col, id_col)


def _query_table(
    queries: DataFrame,
    cells: list[tuple[int, list[float]]] | None,
    n_probe: int,
    pq: tuple | None,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The one query-side index kernel: a row-local mapInArrow map over
    the queries, which are never collected. With ``cells`` it emits one
    row per probed cell: the top-n_probe cells by ``_cos_cells_np``,
    ranked cos DESC (NaN greatest), cell ASC; a zero-norm or NULL query
    scores 0.0 everywhere and probes the lowest cells. Without cells it
    emits one row per query. With ``pq`` each row carries
    ``dtab[sub][cell]``, ``_sub_l2_np``'s ‖q_sub − c‖²: +inf at the
    cells the seeds skipped (no code names them) and for a subvector
    with a NULL or missing element. Without a codebook it carries
    ``qv`` as given and ``qn``, ‖q‖ (NULL where the ``_norm`` fold is).
    Output (query_id, [cell], qv, qn | dtab)."""
    import numpy as np
    import pyarrow as pa

    _require_cells(cells, pq)
    exact = pq is None
    cols = {
        "query_id": _type(queries, id_col),
        "cell": cells is not None and "bigint",
        "qv": exact and _type(queries, vec_col),
        "qn": exact and "double",
        "dtab": not exact and "array<array<double>>",
    }
    names = [n for n, t in cols.items() if t]
    cb, m, d_sub, max_cell = pq or (None, 0, 0, 0)
    if cells is not None:
        cell_ids = np.asarray([c for c, _ in cells], dtype=np.int64)
        k = max(0, min(int(n_probe), len(cells)))

    def run(batches):
        for batch in batches:
            vec = batch.column(vec_col)
            out = {"query_id": batch.column(id_col), "qv": vec}
            if cells is not None:
                V, have, cos, out["qn"] = _cos_batch(vec, cells, m * d_sub)
            else:
                V, have, _ = _dense(vec, m * d_sub)
            if not exact:
                tab = np.full((batch.num_rows, m, max_cell + 1), np.inf)
                for s, cs, dist in _sub_l2_np(V, cb, m, d_sub, have):
                    tab[:, s, cs] = dist
                out["dtab"] = _nested(tab)
            if cells is not None:
                # lexsort's LAST key is primary
                order = np.lexsort(
                    (np.broadcast_to(cell_ids, cos.shape), -cos,
                     ~np.isnan(cos))
                )[:, :k]
                rows = pa.array(np.repeat(np.arange(batch.num_rows), k))
                out = {n: a.take(rows) for n, a in out.items() if n in names}
                out["cell"] = pa.array(cell_ids[order].reshape(-1), pa.int64())
            yield pa.RecordBatch.from_arrays(
                [out[n] for n in names], names=names
            )

    return queries.select(id_col, vec_col).mapInArrow(run, _ddl(cols))


def _search(
    side: DataFrame,
    probes: DataFrame,
    k: int,
    pq: tuple | None,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Score a corpus table (``_corpus_table``) against a query table
    (``_query_table``) and rank. The bounded query table BROADCASTS
    into the corpus stream, joined on ``cell`` when the index has cells
    and crossed otherwise, so scoring shuffles nothing; self-matches are
    dropped. Without a codebook the score is exact cosine over the norms
    both kernels staged (the ``cosine()`` doubles, one dot fold per
    pair), ranked DESC; with one it is the in-row ADC sum
    (``_adc_dist_sql``), ranked ASC. The only exchange is the bounded
    one of the ``_topk_per_group`` window."""
    cell = ["cell"] if "cell" in probes.columns else []
    staged = [F.col(vec_col).alias("cv"), F.col("_vnorm").alias("cn")]
    cols = staged if pq is None else ["codes"]
    cand = side.select(F.col(id_col).alias("neighbor_id"), *cols, *cell)
    q = F.broadcast(probes)
    cand = (cand.join(q, "cell") if cell else cand.crossJoin(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    if pq is not None:
        scored = cand.selectExpr("query_id", "neighbor_id", _adc_dist_sql(pq[1]))
        return _topk_per_group(scored, k, "adist", ascending=True)
    scored = cand.select("query_id", "neighbor_id", _staged_cos())
    return _topk_per_group(scored, k, "cos", ascending=False)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine: int = 1,
    train_per_cell: int = 256,
) -> DataFrame:
    """IVF ANN: probe the n_probe nearest cells per query, exact cosine
    within them. Approximate (recall < 1 when true neighbors live in
    unprobed cells) but plan-identical at any scale. ``refine`` Lloyd
    rounds (default 1) move the id-modulo seed centroids to member
    means — better-shaped cells, higher recall, same query-time plan.

    Training is bounded: seeds AND Lloyd rounds run driver-side in
    numpy over ONE collected deterministic md5-mod hash-sample of
    ≈ train_per_cell × n_cells vectors (``_train_sample`` →
    ``_train_centroids``), so training costs one footer-metadata count
    + one bounded collect regardless of refine rounds.

    Query time is one ``_search``: the probes (queries × n_probe rows,
    with ‖q‖) broadcast into the assigned corpus stream (with ‖v‖), so
    the corpus is scanned once and the only exchange is the bounded
    one of the top-k window."""
    _require_k(k)
    proj = corpus.select(F.col(id_col), F.col(vec_col))
    train = _train_sample(proj, n_cells, train_per_cell, id_col)
    cents = _train_centroids(train, n_cells, refine, vec_col, id_col)
    return _search(
        assign_cells_fast(proj, cents, vec_col, id_col),
        _query_table(queries, cents, n_probe, None, vec_col, id_col),
        k, None, vec_col, id_col,
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 8,
    refine: int = 1,
    train_per_cell: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public method): cluster embeddings with the IVF centroid trainer
    (bounded sampled k-means, deterministic), then WITHIN each cluster
    drop every vector that has a lower-id near-duplicate at
    cos ≥ ``threshold``. Keeping the minimum id per near-dup
    neighborhood is the repo's deterministic survivor convention (same
    rule as exact/MinHash dedup) — no RNG, no transitive closure, so
    the result is reproducible in any engine.

    Returns the SURVIVORS as (id, cell).

    Scale shape: centroid training is the bounded sampled-Lloyd path of
    ``ivf_topk`` (one filtered scan); assignment is the zero-exchange
    ``assign_cells_fast`` kernel; the only quadratic term is the
    within-cell pair scoring — the same candidate-bounding tradeoff as
    the published method, tunable by ``n_cells`` (cells shrink as cells
    multiply; at 10^10 vectors use n_cells ~ 10^5 so cells hold ~10^5
    vectors).

    Skew guard: a degenerate corpus (all vectors in one tight cluster)
    collapses every row into ONE cell and the pair scoring silently goes
    O(n²). Before scoring, the cell histogram (one bounded agg over the
    already-materialized assignment) is checked against
    ``max_cell_rows`` — default 8 × the expected n/n_cells population,
    floored at 2048 rows (≤ ~4M pairs is trivial, so small corpora with
    one dominant cluster never false-positive); a large single-cluster
    corpus hits it immediately — and the call raises with
    the measured histogram instead of attempting the quadratic join
    (remedies: raise ``n_cells``, or pass an explicit ``max_cell_rows``
    budget). Raising — not silently re-splitting by a secondary hash —
    keeps the published SemDeDup semantics (a re-split would stop
    comparing true near-dups that land in different sub-cells) and the
    cross-engine oracle exact."""
    proj = corpus.select(F.col(id_col), F.col(vec_col))
    train = _train_sample(proj, n_cells, train_per_cell, id_col)
    cents = _train_centroids(train, n_cells, refine, vec_col, id_col)
    # Materialize the full-corpus assignment ONCE: it feeds the skew
    # histogram and the survivor kernel — without the cut, Catalyst
    # re-derives the scan + assignment in both branches. Reliable
    # checkpoint on clusters, localCheckpoint in local mode
    # (dedup._truncate_lineage).
    from agentic_doc_spark.operators.dedup import _truncate_lineage

    assigned = _truncate_lineage(
        assign_cells_fast(proj, cents, vec_col, id_col)
    )
    # skew guard (docstring): bounded histogram over the materialized
    # assignment — ≤ n_cells rows collected, one cheap scan of the
    # checkpointed frame
    hist = sorted(
        ((int(r["cell"]), int(r["n"])) for r in
         assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()),
        key=lambda t: -t[1],
    )
    n_total = sum(n for _, n in hist)
    # auto cap: 8× the expected per-cell population, FLOORED at 2048
    # rows — a ≤2048-row cell is ≤ ~4M pairs, trivial on any executor,
    # so small corpora with one dominant cluster never false-positive
    cap = (
        int(max_cell_rows)
        if max_cell_rows is not None
        else max(8 * max(1, n_total // max(1, n_cells)), 2048)
    )
    if hist and hist[0][1] > cap:
        raise ValueError(
            "semantic_dedup skew guard: cell "
            f"{hist[0][0]} holds {hist[0][1]} of {n_total} vectors "
            f"(cap {cap}) — the within-cell pair join would be "
            "quadratic. Increase n_cells (cells shrink as cells "
            "multiply) or pass an explicit max_cell_rows budget. "
            f"Top cells (cell, rows): {hist[:5]}"
        )
    # Within-cell survivor selection is ONE applyInPandas kernel per
    # cell: each cell's vectors shuffle once and the pair math is
    # vectorized numpy. Dots accumulate dimension-by-dimension in
    # ascending order and the norms are the assignment kernel's
    # ``_vnorm`` — the IEEE op sequence of the Catalyst zip_with /
    # aggregate folds, so cos and every ≥ decision match the expression
    # pair join (test_semantic_dedup_kernel_matches_expression_join),
    # with Spark's NaN semantics (NaN ≥ threshold is TRUE) and the
    # try_divide+coalesce zero-denominator convention (cos = 0.0).
    # Memory is bounded: the skew guard caps cells and the pair matrix
    # is computed in tiles.
    import numpy as np
    import pandas as pd

    out_schema = f"{id_col} {_type(assigned, id_col)}, cell bigint"
    th = float(threshold)

    def _cell_survivors(pdf: pd.DataFrame) -> pd.DataFrame:
        # a NULL vector is no one's near-duplicate (its cos is NULL in
        # the DuckDB twin): it survives and drops nothing
        null = pdf[vec_col].isna().to_numpy()
        survivors = pdf.loc[null, [id_col, "cell"]]
        pdf = pdf[~null]
        if pdf.empty:
            return survivors
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        vecs = np.stack(pdf[vec_col].to_numpy()[order]).astype(
            np.float64, copy=False
        )
        n, dim = vecs.shape
        # the assignment kernel's ‖v‖ (the _norm fold's op order)
        nrm = pdf["_vnorm"].to_numpy(dtype=np.float64)[order]
        dropped = np.zeros(n, dtype=bool)
        # 512×512 tiles keep the dim-loop's accumulator in cache (the
        # untiled form streamed a block×n matrix from DRAM once per
        # dim); tiles entirely below the diagonal hold no a<b pair and
        # are skipped
        T = 512
        for i0 in range(0, n, T):
            i1 = min(i0 + T, n)
            rows = np.arange(i0, i1)[:, None]
            for j0 in range(0, n, T):
                j1 = min(j0 + T, n)
                if j1 - 1 <= i0:
                    continue  # no column index exceeds any row index
                dot = np.zeros((i1 - i0, j1 - j0))
                for d in range(dim):
                    dot = dot + vecs[i0:i1, d : d + 1] * vecs[None, j0:j1, d]
                denom = nrm[i0:i1, None] * nrm[None, j0:j1]
                cos = np.divide(
                    dot, denom, out=np.zeros_like(dot), where=denom != 0
                )
                # Spark comparison semantics: NaN ≥ threshold is TRUE
                near = (cos >= th) | np.isnan(cos)
                # pair (a, b) with id_a < id_b → row-global < col-global
                tri = np.arange(j0, j1)[None, :] > rows
                dropped[j0:j1] |= (near & tri).any(axis=0)
        keep = ~dropped
        return pd.concat([
            pd.DataFrame(
                {id_col: ids[keep], "cell": pdf["cell"].to_numpy()[order][keep]}
            ),
            survivors,
        ])

    return assigned.groupBy("cell").applyInPandas(_cell_survivors, out_schema)


# ---------------------------------------------------------------------------
# Product quantization (the billion-vector ANN memory path)
# ---------------------------------------------------------------------------


def pq_train_codebook(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    train_per_cell: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n: int | None = None,
) -> DataFrame:
    """Train per-subspace codebooks (Jégou et al. 2011 product
    quantization, public method): split the vector into ``m``
    subspaces, run the repo's deterministic sampled k-means in each —
    id-modulo seeds, one Lloyd round with 6-dp-rounded means (the
    cross-engine determinism contract shared with ``_train_centroids``)
    — over the SAME bounded md5-mod training sample for every subspace.

    Returns (sub, cell, centroid: array<double>) — m × k rows, a
    dimension table.

    Driver-orchestrated for job count: ONE bounded collect of the
    deterministic training sample (the modulus comes from parquet
    footer metadata when possible — ``_fast_count``), then the seeds
    and the Lloyd round run in numpy on the driver with the IVF
    trainer's ``_modulo_seeds`` and ``_round6_mean`` and pq_encode's
    ``_pq_codes_np`` — the 6-dp rounding absorbs summation-order drift
    exactly as it does between Spark's partial aggregation and the
    DuckDB oracle.

    The returned DataFrame carries the codebook rows, sorted by (sub,
    cell), as an attached ``_pq_cb_rows`` attribute so
    ``_codebook_dict`` reads them without a collect job. The corpus is
    read again, for its first non-NULL vector, only when the sample
    holds none, to validate dim."""
    import numpy as np

    train = _train_sample(
        corpus.select(F.col(id_col), F.col(vec_col)), k, train_per_cell,
        id_col, n=n,
    )
    srows = _vector_rows(train)
    if srows:
        dim = len(srows[0][1])
    else:
        head = corpus.where(F.col(vec_col).isNotNull()).select(vec_col).first()
        if head is None:
            raise ValueError("empty corpus: cannot train a PQ codebook")
        dim = len(head[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    # one Lloyd round: every subspace seeds from the same min-id rows,
    # the sample is encoded against the seeds, and each cell moves to
    # its 6-dp-rounded member mean (empty cells keep their seed)
    seed_cb = {
        (s, cell): [float(x) for x in vec[s * d_sub : (s + 1) * d_sub]]
        for cell, (_, vec) in _modulo_seeds(srows, k).items()
        for s in range(m)
    }
    V = np.asarray([[float(x) for x in r[1]] for r in srows], dtype=np.float64)
    codes = _pq_codes_np(V, seed_cb, m, d_sub)
    rows = []
    for (s, cell), seed_vec in sorted(seed_cb.items()):
        members = V[codes[:, s] == cell][:, s * d_sub : (s + 1) * d_sub]
        rows.append((s, cell, _round6_mean(members, seed_vec)))
    df = corpus.sparkSession.createDataFrame(
        rows, "sub int, cell int, centroid array<double>"
    )
    df._pq_cb_rows = rows
    return df


def _codebook_dict(
    codebook: DataFrame,
) -> tuple[dict[tuple[int, int], list[float]], int, int, int]:
    """The bounded PQ codebook as a driver dict: ((sub, cell) →
    centroid, m, d_sub, max_cell) — the single place the codebook row
    shape is interpreted. A codebook built by ``pq_train_codebook``
    carries its rows as the ``_pq_cb_rows`` attribute — read directly,
    no collect job."""
    rows = getattr(codebook, "_pq_cb_rows", None)
    if rows is None:
        rows = [
            (int(r["sub"]), int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in codebook.collect()
        ]
    if not rows:
        raise ValueError("empty PQ codebook")
    m = max(r[0] for r in rows) + 1
    d_sub = len(rows[0][2])
    max_cell = max(r[1] for r in rows)
    cb = {(r[0], r[1]): [float(x) for x in r[2]] for r in rows}
    return cb, m, d_sub, max_cell


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector as m one-byte-ish codes: per subspace, the
    nearest codebook centroid (squared L2, ties → lowest cell; −1 where
    a subspace has no finite distance).

    Output (id, codes: array<int>, sub order) — the 10^10-vector memory
    story: m codes replace the full vector (dim=64, m=32, k=16 → 32
    nibbles vs 512 bytes of doubles). Plan: the corpus kernel with a
    codebook and no cells (pinned against a scalar loop by
    test_pq_encode_kernel_matches_scalar_loop) — one pure map over the
    scan, zero exchanges at any corpus size."""
    return _corpus_table(corpus, None, _codebook_dict(codebook), vec_col, id_col)


def _adc_dist_sql(m: int) -> str:
    """In-row ADC sum over the m codes in ascending sub order — the
    exact double sequence the DuckDB twin's list(dpart ORDER BY sub)
    sum sees. The m terms are UNROLLED into one left-associative
    addition chain instead of an aggregate-over-sequence lambda fold:
    higher-order-function lambdas are interpreted per element while
    element_at/+ compile under whole-stage codegen (~3× on the scoring
    stage). Identical doubles: ((a0 + a1) + …) in ascending s, and the
    fold's 0.0 seed is a no-op for the non-negative squared distances.
    A −1 code (no finite distance when encoded) contributes NaN, so
    that vector's distance is NaN and ranks after every finite one."""
    terms = " + ".join(
        f"IF(element_at(codes, {s + 1}) < 0, CAST('NaN' AS DOUBLE),"
        f" element_at(element_at(dtab, {s + 1}),"
        f" element_at(codes, {s + 1}) + 1))"
        for s in range(m)
    )
    return f"round({terms}, 6) AS adist"


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    topk: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query keeps its exact
    subvectors, corpus vectors are represented only by their codes;
    approximate distance = Σ_sub ‖q_sub − centroid(code_sub)‖².

    Plan: one ``_search``. The query kernel builds one distance table
    per query (|queries| × m × k doubles, bounded — the queries ≪ corpus
    contract brute_force_topk's broadcast relies on) and it broadcasts;
    the distance is an IN-ROW sum over the m codes (``_adc_dist_sql``).
    The corpus side is a pure map over the codes scan: no corpus × m
    explode and no per-(query, vector) hash aggregation."""
    _require_k(topk)
    pq = _codebook_dict(codebook)
    probes = _query_table(queries, None, 0, pq, vec_col, id_col)
    return _search(codes, probes, topk, pq, vec_col, id_col)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    refine: int = 1,
    train_per_cell: int = 256,
    pq_train_per_cell: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011): the canonical billion-vector
    ANN — an IVF coarse quantizer prunes the corpus to the ``n_probe``
    nearest cells per query, and within the probed cells distances are
    asymmetric-distance approximations over PQ codes: the corpus is
    touched only through m small codes per row AND only the probed
    fraction of it is scored. (Simplification vs the paper: codes encode
    the raw vectors, not the cell residuals — the cross-engine
    determinism contract favours one shared codebook, and the recall
    cost at these cell counts is pinned by test, not hidden.)

    Plan (the 10^10-vector shape): IVF and PQ training run in numpy over
    bounded samples (one footer-metadata count shared by both sample
    moduli + one bounded collect each), then one ``_search``: the corpus
    kernel assigns and encodes in one pass over the scan, and the query
    kernel's (query_id, cell, dtab) rows, one per probed cell, broadcast
    into the codes stream, and the top-k window ranks the scored rows."""
    _require_k(k)
    proj = corpus.select(F.col(id_col), F.col(vec_col))
    n = _fast_count(proj)  # shared by both training samples
    train = _train_sample(proj, n_cells, train_per_cell, id_col, n=n)
    cents = _train_centroids(train, n_cells, refine, vec_col, id_col)
    pq = _codebook_dict(
        pq_train_codebook(proj, m, pq_k, pq_train_per_cell, vec_col, id_col, n)
    )
    return _search(
        _corpus_table(proj, cents, pq, vec_col, id_col),
        _query_table(queries, cents, n_probe, pq, vec_col, id_col),
        k, pq, vec_col, id_col,
    )
