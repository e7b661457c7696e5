"""Dedup + similarity operators: behavioral tests on small controlled data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from agentic_doc_spark.operators.dedup import (
    dedup_exact,
    embedding_near_pairs,
    jaccard_pairs,
    minhash_candidate_pairs,
    simhash_near_pairs,
    simhash_table,
)
from agentic_doc_spark.operators.similarity import brute_force_topk, ivf_topk

BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while the sun sets slowly behind the tall mountain ridge"
)
NEAR = BASE.replace("slowly", "quickly")  # one token differs
FAR = "completely different content about spark dataframe shuffles and joins"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", BASE),
        ("d2", BASE),  # exact dup (modulo nothing)
        ("d3", "  " + BASE.upper() + "  "),  # dup after normalization
        ("d4", NEAR),  # near dup
        ("d5", FAR),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact(docs):
    got = {r["doc_id"]: r for r in dedup_exact(docs).collect()}
    assert got["d1"]["is_canonical"]
    assert not got["d2"]["is_canonical"] and got["d2"]["canonical_id"] == "d1"
    assert not got["d3"]["is_canonical"] and got["d3"]["canonical_id"] == "d1"
    assert got["d4"]["is_canonical"] and got["d5"]["is_canonical"]


def test_minhash_candidates(docs):
    pairs = {(r["a"], r["b"]) for r in minhash_candidate_pairs(docs).collect()}
    # exact dups always collide on every band
    assert ("d1", "d2") in pairs and ("d1", "d3") in pairs
    # near-dup shares most shingles → should collide on ≥1 of 4 bands
    assert ("d1", "d4") in pairs
    # far doc shares no shingles → no collision possible
    assert not any("d5" in p for p in pairs)


def _unicode_ws_edge(spark):
    """Rows with NBSP/U+3000/U+0085 — characters Python's Unicode \\s
    matches but Java's/RE2's ASCII \\s does not. Kernels must keep them
    INSIDE tokens exactly as the Catalyst/DuckDB normalization does."""
    return spark.createDataFrame(
        [
            (9100001, "alpha beta gamma delta epsilon"),
            (9100002, "x　y z w v u t s"),
            (9100003, "lead mid dle trail "),
        ],
        ["doc_id", "text"],
    )


def _null_text_edge(spark):
    """NULL text next to the empty text it must not be confused with:
    ``shingles(NULL)`` is one NULL shingle, ``shingles('')`` is ['']."""
    return spark.createDataFrame(
        [(9200001, None), (9200002, ""), (9200003, None)],
        "doc_id long, text string",
    )


def test_minhash_fast_path_bit_identical(spark):
    from agentic_doc_spark.operators.dedup import minhash_bands, minhash_bands_fast

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .unionByName(_unicode_ws_edge(spark))
        .unionByName(_null_text_edge(spark))
    )
    a = sorted(map(tuple, minhash_bands(docs).collect()))
    b = sorted(map(tuple, minhash_bands_fast(docs).collect()))
    assert a == b


def test_minhash_with_shingles_bands_bit_identical(spark):
    """minhash_bands_with_shingles (the lsh_jaccard_pairs base kernel)
    emits the SAME band keys as minhash_bands, and its 60-bit shingle
    sets reproduce the exact Jaccard the string-shingle path computes."""
    from agentic_doc_spark.operators.dedup import (
        minhash_bands,
        minhash_bands_with_shingles,
        shingles,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .unionByName(_unicode_ws_edge(spark))
        .unionByName(_null_text_edge(spark))
    )
    ws = minhash_bands_with_shingles(docs)
    got = sorted(
        (r["doc_id"], bi, key)
        for r in ws.collect()
        for bi, key in enumerate(r["band_keys"])
    )
    ref = sorted(map(tuple, minhash_bands(docs).collect()))
    assert got == ref
    # distinct shingle-set sizes match the string path (no collisions)
    sizes = {
        r["doc_id"]: len(r["sh"]) for r in ws.collect()
    }
    ref_sizes = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(shingles(F.col("text"))).alias("n")
        ).collect()
    }
    assert sizes == ref_sizes


def test_simhash_fast_path_bit_identical(spark):
    """simhash_table's mapInPandas kernel vs the pure-expression
    ``simhash`` fold: same fingerprints on real data + edge cases
    (empty text, whitespace-only, single token, 1-char tokens)."""
    from agentic_doc_spark.operators.dedup import simhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge = spark.createDataFrame(
        [
            (9000001, ""),
            (9000002, "   "),
            (9000003, "solo"),
            (9000004, "a b c A  B\tC\n"),
        ],
        ["doc_id", "text"],
    )
    corpus = (
        docs.select("doc_id", "text")
        .unionByName(edge)
        .unionByName(_unicode_ws_edge(spark))
    )
    expr = corpus.select(
        "doc_id", simhash(F.col("text"), 16).alias("simhash")
    )
    a = sorted(map(tuple, expr.collect()))
    b = sorted(map(tuple, simhash_table(corpus).collect()))
    assert a == b


def test_simhash_values_and_pairs(docs, spark):
    t = {r["doc_id"]: r["simhash"] for r in simhash_table(docs).collect()}
    assert t["d1"] == t["d2"] == t["d3"]
    assert t["d1"] != t["d5"]
    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_near_pairs(docs).collect()
    }
    assert pairs[("d1", "d2")] == 0
    # near-dup has tiny hamming distance
    if ("d1", "d4") in pairs:
        assert pairs[("d1", "d4")] <= 4


def test_lsh_jaccard_pairs(docs):
    from agentic_doc_spark.operators.dedup import lsh_jaccard_pairs

    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in lsh_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # clones always collide on every band → always verified
    assert got[("d1", "d2")] == 1.0 and got[("d1", "d3")] == 1.0
    assert ("d1", "d5") not in got


def test_jaccard_pairs(docs):
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got[("d1", "d2")] == 1.0
    assert 0.5 <= got[("d1", "d4")] < 1.0
    assert ("d1", "d5") not in got


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.15, 0.0]),  # near 2
        (4, [-1.0, 0.0, 0.0, 0.0]),   # opposite of 0
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_embedding_near_pairs(vectors):
    got = {
        (r["a"], r["b"]): r["cos"]
        for r in embedding_near_pairs(
            vectors, threshold=0.95, bucket_dims=(0, 1)
        ).collect()
    }
    assert (0, 1) in got and got[(0, 1)] > 0.95
    assert (2, 3) in got
    assert (0, 4) not in got  # opposite sign → different bucket anyway


def test_sign_bucket_short_vectors_sign_missing_dims_zero(spark):
    # 3-dim vectors against the default 8 bucket dims: ANSI element_at
    # would raise INVALID_ARRAY_INDEX_IN_ELEMENT_AT; a missing dim signs
    # as '0' (the DuckDB twin's NULL → ELSE '0')
    import math

    from agentic_doc_spark.operators.dedup import sign_bucket

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, -0.0]),
        (2, [-0.5, 1.0, 0.2]),
        (3, [-0.4, 0.9, 0.3]),
        (4, [0.2, -1.0, 0.0]),
        (5, [1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def bucket(v):
        return "".join("1" if d < len(v) and v[d] >= 0 else "0" for d in range(8))

    def cos(x, y):
        dot = sum(a * b for a, b in zip(x, y))
        n = math.sqrt(sum(a * a for a in x)) * math.sqrt(sum(b * b for b in y))
        return dot / n if n else 0.0

    buckets = df.select("vec_id", sign_bucket(F.col("embedding")).alias("bucket"))
    got_b = {r["vec_id"]: r["bucket"] for r in buckets.collect()}
    assert got_b == {i: bucket(v) for i, v in rows}
    got = {
        (r["a"], r["b"]): round(r["cos"], 9)
        for r in embedding_near_pairs(df, threshold=0.9).collect()
    }
    want = {
        (i, j): round(cos(v, w), 9)
        for i, v in rows
        for j, w in rows
        if i < j and bucket(v) == bucket(w) and cos(v, w) >= 0.9
    }
    assert got == want and want


def test_brute_force_topk(vectors):
    res = brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(res.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [1, 2]
    assert rows[0]["cos"] > 0.99


def test_topk_per_group_matches_sorted_reference(spark):
    """The per-group top-k contract every ANN query ranks with: order by
    value (NaN greatest, −0.0 = 0.0) then id ASC, keep the first k per
    group, rank from 1. k=1001 is above Spark's window-group-limit
    threshold (1000), where the plan keeps no limit."""
    import math
    import random
    import struct

    from agentic_doc_spark.operators.similarity import _topk_per_group

    rnd = random.Random(16)
    pool = [math.nan, math.inf, -math.inf, 0.0, -0.0, 0.5, -0.5, 1.0]
    rows = [
        (g, i, rnd.choice(pool) if rnd.random() < 0.5 else rnd.uniform(-2, 2))
        for g in range(20)
        for i in rnd.sample(range(10_000), 60)
    ]
    df = spark.createDataFrame(
        rows, "query_id int, neighbor_id int, v double"
    ).repartition(5)

    def bits(x):  # NaN-safe, sign-of-zero-exact row identity
        return struct.pack(">d", x)

    for ascending in (True, False):
        def key(r):
            nan = math.isnan(r[2])
            val = 0.0 if nan else (r[2] if ascending else -r[2])
            return (r[0], nan == ascending, val, r[1])

        # ASC: non-NaN first (key False); DESC: NaN first (key False)
        ordered = sorted(rows, key=key)
        for k in (1, 3, 10, 100, 1001):
            want, seen = [], {}
            for g, i, v in ordered:
                seen[g] = seen.get(g, 0) + 1
                if seen[g] <= k:
                    want.append((g, i, bits(v), seen[g]))
            top = _topk_per_group(df, k, "v", ascending=ascending)
            assert top.dtypes == [
                ("query_id", "int"), ("neighbor_id", "int"),
                ("v", "double"), ("rank", "int"),
            ]
            got = sorted(
                (r.query_id, r.neighbor_id, bits(r.v), r.rank)
                for r in top.collect()
            )
            assert got == sorted(want), (ascending, k)


@pytest.mark.parametrize("entry", ["brute", "ivf", "pq", "ivfpq"])
def test_topk_negative_k_fails_before_any_job(spark, vectors, entry):
    # an index trains (collects) before it ranks: the guard must come first
    from agentic_doc_spark.operators.similarity import ivfpq_topk, pq_topk

    q = vectors.filter(F.col("vec_id") == 0)
    call = {
        "brute": lambda: brute_force_topk(vectors, q, k=-1),
        "ivf": lambda: ivf_topk(vectors, q, k=-1, n_cells=2),
        "pq": lambda: pq_topk(q, vectors, vectors, topk=-1),
        "ivfpq": lambda: ivfpq_topk(vectors, q, k=-1, n_cells=2, m=2),
    }[entry]
    sc = spark.sparkContext
    sc.setJobGroup("topk-negative-k", "guard only")
    try:
        with pytest.raises(ValueError, match="k must be >= 0"):
            call()
        jobs = sc.statusTracker().getJobIdsForGroup("topk-negative-k")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [], jobs


def test_topk_zero_k_returns_no_rows(vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    assert brute_force_topk(vectors, q, k=0).collect() == []


def test_ivf_topk_finds_near_neighbor(vectors):
    # with enough probes IVF matches brute force on this tiny set
    res = ivf_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=1, n_cells=2, n_probe=2)
    rows = res.collect()
    assert len(rows) == 1 and rows[0]["neighbor_id"] == 1


def test_embeddings_real_table(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    res = brute_force_topk(emb, q, k=5)
    rows = res.collect()
    assert len(rows) == 15  # 3 queries × 5 neighbors
    assert all(-1.0 <= r["cos"] <= 1.0 for r in rows)


def test_connected_components_chain(spark):
    # chain 1-2-3-4 needs multi-round propagation; 10-11 is a separate
    # cluster; min id is the canonical survivor
    from agentic_doc_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["a", "b"]
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_ivf_recall_vs_bruteforce(spark):
    # approximation quality: with half the cells probed, IVF must recover
    # a solid majority of the true top-3 neighbors on the test embeddings
    from pyspark.sql import functions as F

    from agentic_doc_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    queries = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }

    def recall(refine: int) -> float:
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                emb, queries, k=3, n_cells=8, n_probe=4, refine=refine
            ).collect()
        }
        return len(truth & approx) / len(truth)

    r0, r1 = recall(0), recall(1)
    assert r1 >= 0.6, f"IVF recall {r1:.2f} too low"
    # the Lloyd round must not cost recall on this corpus (measured
    # 0.817 → 0.85 at sf0.001)
    assert r1 >= r0, f"refined {r1:.3f} < seed {r0:.3f}"


def test_train_centroids_partition_invariant(spark):
    # the 6-dp rounding contract: refined centroids must come out
    # bit-identical regardless of partition count (summation order) and
    # equal to the DuckDB oracle's seeds + one Lloyd round
    import duckdb

    import __spark_entry__ as e
    from agentic_doc_spark.operators.similarity import _train_centroids

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding DOUBLE[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)", [tuple(r) for r in emb.collect()]
    )
    ref = dict(
        con.execute(
            e._SQL_IVF_ASSIGNED + " SELECT cell, centroid FROM cents"
        ).fetchall()
    )
    assert len(ref) == 8
    for parts in (1, 5, 13):
        got = _train_centroids(
            emb.repartition(parts), 8, 1, "embedding", "vec_id"
        )
        assert {c: list(v) for c, v in got} == ref, parts


def test_near_dedup_survivors(spark):
    # one survivor (min id) per cluster, unpaired docs untouched
    from agentic_doc_spark.operators.dedup import near_dedup

    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (10, "z")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
    got = sorted(r["doc_id"] for r in near_dedup(docs, pairs).collect())
    assert got == [1, 10]


def test_ivf_zero_norm_vector_assignment(spark):
    # a zero-norm vector (NaN cosine to every centroid) must land in the
    # LOWEST cell — matching both the row_number form and DuckDB's
    # NaN-greatest ordering — never in a phantom cell
    from pyspark.sql import functions as F

    from agentic_doc_spark.operators.similarity import (
        assign_cells_fast,
        ivf_topk,
    )

    rows = [(i, [float(i + 1), float(2 * i + 1)]) for i in range(8)]
    rows.append((99, [0.0, 0.0]))  # zero-norm
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # seeds: the min-id vector of each vec_id % 4 bucket
    cents = [
        (c, min(r for r in rows if r[0] % 4 == c)[1]) for c in range(4)
    ]
    got = {
        r["vec_id"]: r["cell"] for r in assign_cells_fast(emb, cents).collect()
    }
    assert got[99] == 0  # NaN-greatest → first (lowest) cell
    assert all(c >= 0 for c in got.values())  # nobody in a phantom cell
    # and the zero vector is reachable as an IVF candidate
    res = ivf_topk(emb, emb.filter(F.col("vec_id") == 1), k=8, n_cells=4, n_probe=4)
    assert 99 in {r["neighbor_id"] for r in res.collect()}


def test_ivf_topk_nan_vector_scores_like_brute_force(spark):
    # NaN components must reach IVF scoring as NaN — ranked first, as
    # brute force ranks them — not as NULL components that score 0.0
    import math

    rows = [(i, [float(i + 1), float(2 * i + 1)]) for i in range(8)]
    rows.append((99, [float("nan"), 1.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 1)

    def scores(res):
        return {r["neighbor_id"]: r["cos"] for r in res.collect()}

    brute = scores(brute_force_topk(emb, q, k=8))
    ivf = scores(ivf_topk(emb, q, k=8, n_cells=4, n_probe=4))
    assert math.isnan(brute[99]) and math.isnan(ivf[99])
    assert set(ivf) == set(brute)
    assert all(ivf[n] == brute[n] for n in brute if n != 99)


def test_decontaminate_drops_overlapping_docs(spark):
    # any doc sharing a 3-shingle with the benchmark set is dropped;
    # disjoint docs survive
    from agentic_doc_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # overlaps
            (2, "completely different words about spark plans here"),
            (3, "quick brown fox appears again in this other document"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("eval question about the quick brown fox story",)], ["text"]
    )
    got = sorted(r["doc_id"] for r in decontaminate(corpus, bench).collect())
    assert got == [2]  # 1 and 3 share the 'quick brown fox' shingle


def test_null_text_is_no_duplicate_of_empty_text(spark):
    """NULL text is one NULL shingle, empty text is the shingle '': an
    empty document is neither a near-duplicate of a NULL one nor does an
    empty benchmark text contaminate a NULL document. Two NULL documents
    still pair (identical band keys md5(''), sh [NULL] each) without the
    verify dividing by zero."""
    from agentic_doc_spark.operators.dedup import decontaminate, lsh_jaccard_pairs

    docs = _null_text_edge(spark)
    pairs = sorted(
        (r["a"], r["b"], r["jaccard"]) for r in lsh_jaccard_pairs(docs).collect()
    )
    assert pairs == [(9200001, 9200003, 1.0)]
    corpus = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([("",)], "text string")
    got = sorted(r["doc_id"] for r in decontaminate(corpus, bench).collect())
    assert got == [1, 2]


def test_connected_components_checkpoint_bounds_plan(spark):
    # a deep chain forces many propagation rounds; the FINAL plan must be
    # a leaf scan (lineage truncated), not an unrolled join chain — and
    # labels stay correct
    from agentic_doc_spark.operators.dedup import connected_components

    n = 12  # path graph 0-1-...-12 → diameter 12
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a", "b"])
    comp = connected_components(pairs)
    assert {r["component"] for r in comp.collect()} == {0}
    plan = comp._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan  # lineage truncated, not unrolled


def test_connected_components_non_convergence_surfaced(spark):
    import warnings

    import pytest

    from agentic_doc_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], ["a", "b"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        comp = connected_components(pairs, max_iter=2)
        assert any(
            "did not converge" in str(x.message)
            and "(11 labels still changing)" in str(x.message)
            for x in w
        )
    # two rounds of closed-neighbourhood min: each label moves 2 steps
    got = sorted((r["doc_id"], r["component"]) for r in comp.collect())
    assert got == [(0, 0), (1, 0), (2, 0)] + [(v, v - 2) for v in range(3, 13)]
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(pairs, max_iter=2, raise_on_non_convergence=True)


def test_connected_components_matches_union_find(spark):
    # seeded random forest-plus-extra-edges graph: several components of
    # diameter <= 25, duplicate and reversed pairs, one (a, a) self-pair;
    # labels must be each component's min id, as a union-find computes
    import random

    from agentic_doc_spark.operators.dedup import connected_components

    rng = random.Random(14)
    ids = rng.sample(range(1, 10_000), 121)  # ids[-1] only in (a, a)
    pairs, start = [], 0
    for size in (2, 5, 9, 17, 25, 40, 22):
        comp = ids[start:start + size]
        start += size
        depth = [0]
        for i in range(1, size):  # deep random tree, depth <= 12
            p = rng.randrange(max(0, i - 3), i)
            while depth[p] >= 12:
                p = rng.randrange(i)
            depth.append(depth[p] + 1)
            pairs.append((comp[i], comp[p]))
        for _ in range(size // 4):
            pairs.append(tuple(rng.sample(comp, 2)))
    pairs += [pairs[3], pairs[10][::-1], pairs[30][::-1], (ids[-1], ids[-1])]
    rng.shuffle(pairs)

    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    assert len(set(want.values())) == 8

    df = spark.createDataFrame(pairs, "a long, b long")
    got = {r["doc_id"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


def test_connected_components_empty_pairs(spark):
    from agentic_doc_spark.operators.dedup import connected_components, near_dedup

    pairs = spark.createDataFrame([], "a long, b long")
    assert connected_components(pairs).count() == 0
    docs = spark.createDataFrame([(1, "x"), (2, "y")], ["doc_id", "text"])
    assert near_dedup(docs, pairs).count() == 2  # nothing removed


def test_duplicate_gram_spans_and_removal(spark):
    # cross-document exact substring dedup: a 10-token passage shared by
    # docs 1 and 2 must flag as ONE merged interval in each; doc 3 (no
    # cross-doc k-gram) stays clean; removal cuts exactly the flagged
    # tokens
    from agentic_doc_spark.operators.dedup import (
        duplicate_gram_spans,
        remove_duplicate_substrings,
    )

    shared = "the quick brown fox jumps over the lazy sleeping dog"  # 10 toks
    docs = spark.createDataFrame(
        [
            (1, f"alpha begins here {shared} and one ends"),
            (2, f"totally different opening words now {shared} closing words two"),
            (3, "unique content in this document with no overlap at all kept"),
        ],
        ["doc_id", "text"],
    )
    spans = {
        r["doc_id"]: (r["start"], r["end"])
        for r in duplicate_gram_spans(docs, k=8).collect()
    }
    # doc 1: shared starts at token 3 (0-based), 10 tokens -> [3, 13)
    assert spans[1] == (3, 13)
    # doc 2: shared starts at token 5 -> [5, 15)
    assert spans[2] == (5, 15)
    assert 3 not in spans
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_substrings(docs, k=8).collect()
    }
    assert out[1] == "alpha begins here and one ends"
    assert out[2] == "totally different opening words now closing words two"
    assert out[3].startswith("unique content")


def test_duplicate_gram_spans_merges_chained_windows(spark):
    # two duplicated passages separated by unique tokens must yield TWO
    # intervals, not one merged blob
    from agentic_doc_spark.operators.dedup import duplicate_gram_spans

    a = "one two three four five six seven eight"  # 8 toks = one k-gram
    b = "red orange yellow green blue indigo violet ultraviolet"
    docs = spark.createDataFrame(
        [
            (1, f"{a} UNIQUE1 MID2 FILLER3 {b}"),
            (2, f"{b} X Y Z {a}"),
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        (r["doc_id"], r["start"], r["end"])
        for r in duplicate_gram_spans(docs, k=8).collect()
    )
    assert got == [(1, 0, 8), (1, 11, 19), (2, 0, 8), (2, 11, 19)]


def test_gram_hashes_fast_matches_shingles_expression(spark):
    """decontaminate's _gram_hashes_fast kernel vs the shingles() +
    _md5_key64 expression path: identical (id, h) rows, incl. Unicode
    whitespace that Java \\s does not split on."""
    from agentic_doc_spark.operators.dedup import (
        _gram_hashes_fast,
        _md5_key64,
        shingles,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(100)
        .unionByName(_unicode_ws_edge(spark))
        .unionByName(_null_text_edge(spark))
    )
    ref = sorted(
        map(
            tuple,
            docs.select(
                "doc_id",
                F.explode(
                    F.transform(
                        shingles(F.col("text"), 3), lambda g: _md5_key64(g)
                    )
                ).alias("h"),
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, _gram_hashes_fast(docs, 3, "text", "doc_id").collect())
    )
    assert got == ref


def test_gram_kernel_matches_expression(spark):
    """duplicate_gram_spans' gram kernel vs the expression form it
    replaced (trim/split/slice/join/_md5_key64): identical (id, p, g)
    rows, including tab/newline whitespace and leading/trailing spaces
    (Java-trim strips 0x20 only; split keeps boundary empties)."""
    from agentic_doc_spark.operators.dedup import (
        _md5_key64,
        duplicate_gram_spans,
    )

    k = 3
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(100)
    edge = spark.createDataFrame(
        [
            (9000001, "  a b\tc\nd  e f g h  "),
            (9000002, "\ta b c d\v e"),
            (9000003, "one two"),
            (9000004, None),
        ],
        "doc_id long, text string",
    )
    corpus = docs.unionByName(edge)
    # expression reference (the pre-r6 construction)
    toks = corpus.select(
        F.col("doc_id"), F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    ).filter(F.size("toks") >= k)
    ref_df = toks.select(
        F.col("doc_id"),
        F.explode(F.sequence(F.lit(0), F.size("toks") - k)).alias("p"),
        "toks",
    ).select(
        F.col("doc_id"),
        "p",
        _md5_key64(
            F.array_join(F.slice("toks", F.col("p") + 1, k), "\x1f")
        ).alias("g"),
    )
    ref = sorted(map(tuple, ref_df.collect()))
    # kernel output observed through the public operator is interval-
    # merged; compare the raw kernel by reaching into the plan instead:
    # rebuild via the same mapInPandas the operator uses
    import agentic_doc_spark.operators.dedup as D

    spans_ref = sorted(
        map(tuple, duplicate_gram_spans(corpus, k=k).collect())
    )
    # independent expression-only reference of the FULL operator
    from pyspark.sql import Window

    hot = (
        ref_df.groupBy("g")
        .agg(F.count_distinct(F.col("doc_id")).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("g")
    )
    dup = ref_df.join(hot, "g", "left_semi").select(F.col("doc_id"), "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    prev_max_end = F.max(F.col("p") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    island = F.sum(
        F.when(prev_max_end.isNull() | (F.col("p") > prev_max_end), 1)
        .otherwise(0)
    ).over(w)
    spans_expr = sorted(
        map(
            tuple,
            dup.withColumn("island", island)
            .groupBy("doc_id", "island")
            .agg(F.min("p").alias("start"), (F.max("p") + k).alias("end"))
            .select("doc_id", "start", "end")
            .collect(),
        )
    )
    assert spans_ref == spans_expr and len(ref) > 0


def test_semantic_dedup_drops_higher_id_near_dups(spark):
    from agentic_doc_spark.operators.similarity import semantic_dedup

    # vectors 0/5 nearly identical (cos≈1), 1/9 identical, rest spread
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.999, 0.001, 0.0, 0.0]),
        (9, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(emb, threshold=0.95, n_cells=2).collect()
    )
    # 5 (near-dup of 0) and 9 (dup of 1) must drop iff co-clustered with
    # their lower-id twin; nothing else may drop
    assert 0 in kept and 1 in kept and {2, 3, 4} <= set(kept)
    assert len(kept) <= 7

    # identical vectors always co-cluster: 9 must be gone
    assert 9 not in kept


def test_fast_count_matches_count(spark, monkeypatch, tmp_path):
    """_fast_count: footer-metadata count on pure project/repartition
    plans equals df.count(); any other shape (filter, local relation,
    a single relation with no input files) falls back to df.count() —
    never a wrong number. A directory whose name needs URI escaping
    still reads the footers: no Spark job runs."""
    from agentic_doc_spark.operators.similarity import _fast_count

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .repartition(5)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    assert _fast_count(emb) == emb.count()
    escaped = str(tmp_path / "a dir%b" / "emb")
    emb.write.parquet(escaped)
    df = spark.read.parquet(escaped)
    sc = spark.sparkContext
    sc.setJobGroup("fast-count-escaped", "footers only")
    try:
        n = _fast_count(df)
        jobs = sc.statusTracker().getJobIdsForGroup("fast-count-escaped")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [], jobs
    assert n == emb.count()
    filtered = emb.filter(F.col("vec_id") % 2 == 0)
    assert _fast_count(filtered) == filtered.count()
    local = spark.createDataFrame([(1, [0.5])], "vec_id long, embedding array<double>")
    assert _fast_count(local) == 1
    # a non-file relation (e.g. JDBC) lists no input files
    monkeypatch.setattr(emb, "inputFiles", lambda: [])
    assert _fast_count(emb) == emb.count()


def test_assign_kernels_reject_empty_cells(spark):
    """An empty centroid list fails on the driver with a clear error
    before any job launches, not inside the executor's numpy kernel."""
    from agentic_doc_spark.operators.similarity import (
        _corpus_table,
        assign_cells_fast,
    )

    emb = spark.createDataFrame(
        [(1, [0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no centroid cells"):
        assign_cells_fast(emb, [])
    with pytest.raises(ValueError, match="no centroid cells"):
        _corpus_table(emb, [], ({}, 1, 2, 0), "embedding", "vec_id")


def test_assign_cells_fast_bit_identical(spark):
    """assign_cells_fast (numpy kernel) vs a scalar nearest-centroid
    loop: same cells on real embeddings + zero-norm and NaN vectors
    (first-NaN-wins / tie-to-lowest-cell rules). DuckDB cannot be the
    reference here: list_cosine_similarity rejects the NaN rows."""
    import math

    from agentic_doc_spark.operators.similarity import (
        _train_centroids,
        _train_sample,
        assign_cells_fast,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(base.select("embedding").first()[0])
    edge = spark.createDataFrame(
        [
            (900001, [0.0] * dim),
            (900002, [float("nan")] * dim),
            (900003, [1.0] + [float("nan")] * (dim - 1)),
        ],
        "vec_id long, embedding array<double>",
    )
    emb = base.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(edge)
    cents = _train_centroids(
        _train_sample(emb, 8, 256, "vec_id"), 8, 1, "embedding", "vec_id"
    )

    def seq_dot(x, y):
        acc = 0.0
        for a, b in zip(x, y):
            acc += a * b
        return acc

    def nearest(v):
        # cos = sequential dot / (sequential norms), 0.0 on a zero
        # denominator; the first maximum wins, and a NaN wins from its
        # first occurrence
        vn = math.sqrt(seq_dot(v, v))
        best_cell = best = None
        for cell, c in cents:
            den = vn * math.sqrt(seq_dot(c, c))
            cos = seq_dot(v, c) / den if den != 0 else 0.0
            if best_cell is None or (
                not math.isnan(best) and (math.isnan(cos) or cos > best)
            ):
                best_cell, best = cell, cos
        return best_cell

    a = sorted((r["vec_id"], nearest(r["embedding"])) for r in emb.collect())
    b = sorted(
        (r["vec_id"], r["cell"])
        for r in assign_cells_fast(emb, cents).collect()
    )
    assert a == b


def test_pq_encode_kernel_matches_scalar_loop(spark):
    """pq_encode's numpy kernel vs a scalar per-subspace loop: identical
    code arrays, including sparse codebook cells and vectors with NaN
    components (a NaN distance never wins; no finite one → code -1)."""
    from agentic_doc_spark.operators.similarity import (
        _codebook_dict,
        pq_encode,
        pq_train_codebook,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cb = pq_train_codebook(emb, m=8, k=16)
    dim = len(emb.select("embedding").first()[0])
    edge = spark.createDataFrame(
        [
            (900001, [0.0] * dim),
            (900002, [float("nan")] * dim),
            (900003, [float("nan")] + [0.5] * (dim - 1)),
        ],
        "vec_id long, embedding array<double>",
    )
    emb = emb.unionByName(edge)
    got = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(emb, cb).collect()
    )
    cbd, m, d_sub, _ = _codebook_dict(cb)

    def encode(v):
        # per subspace: strict-less keep-first over the present cells in
        # cell order; a NaN distance never wins, and no finite distance
        # leaves code -1
        codes = []
        for s in range(m):
            best, code = float("inf"), -1
            for c in sorted(cc for (ss, cc) in cbd if ss == s):
                d = 0.0
                for i in range(d_sub):
                    diff = v[s * d_sub + i] - cbd[(s, c)][i]
                    d += diff * diff
                if d < best:
                    best, code = d, c
            codes.append(code)
        return tuple(codes)

    ref = sorted((r["vec_id"], encode(r["embedding"])) for r in emb.collect())
    assert got == ref


def test_adc_query_table_is_distributed(spark):
    """The ADC query table must be computed in the Spark plan by a
    Python map kernel over the queries, not collected to the driver:
    building it launches no job, and the query-side plan holds the
    MapInArrow node that emits dtab."""
    from agentic_doc_spark.operators.similarity import (
        _codebook_dict,
        _query_table,
        pq_train_codebook,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cb = pq_train_codebook(emb, m=8, k=16)
    cbd, m, d_sub, max_cell = _codebook_dict(cb)
    sc = spark.sparkContext
    sc.setJobGroup("adc-query-table-build", "build only")
    try:
        qdf = _query_table(
            emb.filter(F.col("vec_id") < 5), None, 0,
            (cbd, m, d_sub, max_cell), "embedding", "vec_id",
        )
        plan = qdf._jdf.queryExecution().optimizedPlan().toString()
        jobs = sc.statusTracker().getJobIdsForGroup("adc-query-table-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [], jobs
    assert "MapInArrow" in plan and "dtab" in plan, plan
    # and it evaluates to the same doubles the driver-side loops built
    import math

    rows = {r["query_id"]: r["dtab"] for r in qdf.collect()}
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 5).collect()
    }
    for qid, dtab in rows.items():
        qv = vecs[qid]
        for s in range(m):
            for c in range(max_cell + 1):
                cent = cbd.get((s, c))
                if cent is None:
                    assert math.isinf(dtab[s][c])
                    continue
                acc = 0.0
                for i in range(d_sub):
                    d = qv[s * d_sub + i] - cent[i]
                    acc += d * d
                assert dtab[s][c] == acc  # bit-identical fold


def _real_emb(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def test_probe_cells_matches_scalar_loop(spark):
    """_query_table's probes (the shared numpy cosine scorer +
    top-n_probe) vs a scalar loop: same probed cells and bit-equal qn
    on real embeddings plus zero-norm, NaN and NULL queries. A
    duplicated centroid under a higher cell id ties with its twin for
    every query (ties → lower cell); NaN scores sort greatest; zero-norm
    and NULL queries score 0.0 everywhere and probe the lowest cells,
    with qn NULL for NULL."""
    import math

    from agentic_doc_spark.operators.similarity import (
        _query_table,
        _train_centroids,
        _train_sample,
        ivf_topk,
    )

    emb = _real_emb(spark)
    dim = len(emb.select("embedding").first()[0])
    cents = _train_centroids(
        _train_sample(emb, 8, 256, "vec_id"), 8, 1, "embedding", "vec_id"
    )
    cells = cents + [(8, cents[3][1])]  # exact twin of cell 3
    nan = float("nan")
    edge = spark.createDataFrame(
        [
            (900001, [0.0] * dim),
            (900002, [nan] * dim),
            (900003, [nan] + [0.25] * (dim - 1)),
            (900004, None),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = emb.unionByName(edge)

    def seq_dot(x, y):
        acc = 0.0
        for a, b in zip(x, y):
            acc += a * b
        return acc

    def probe(v):
        if v is None:
            scores, qn = [0.0] * len(cells), None
        else:
            qn = math.sqrt(seq_dot(v, v))
            scores = []
            for _, c in cells:
                den = qn * math.sqrt(seq_dot(c, c))
                scores.append(seq_dot(v, c) / den if den != 0 else 0.0)
        ranked = sorted(
            zip(scores, (c for c, _ in cells)),
            key=lambda t: (not math.isnan(t[0]),
                           0.0 if math.isnan(t[0]) else -t[0], t[1]),
        )
        return {c for _, c in ranked[:3]}, qn

    got: dict = {}
    for r in _query_table(
        queries, cells, 3, None, "embedding", "vec_id"
    ).collect():
        got.setdefault(r["query_id"], (set(), r["qn"]))[0].add(r["cell"])

    def same(a, b):
        return a == b or (a is not None and b is not None
                          and math.isnan(a) and math.isnan(b))

    ref = {r["vec_id"]: probe(r["embedding"]) for r in queries.collect()}
    assert got.keys() == ref.keys()
    for qid, (cs, qn) in ref.items():
        assert got[qid][0] == cs, (qid, got[qid], cs)
        assert same(got[qid][1], qn), (qid, got[qid][1], qn)
    # the NULL query keeps its answer: the three lowest cells, qn NULL,
    # and its IVF neighbours are the lowest candidate ids at cos 0.0
    assert got[900004] == ({0, 1, 2}, None)
    res = ivf_topk(emb, edge.filter("vec_id = 900004"), k=3, n_cells=8,
                   n_probe=3)
    assert sorted((r["neighbor_id"], r["cos"], r["rank"])
                  for r in res.collect()) == [(0, 0.0, 1), (1, 0.0, 2),
                                              (2, 0.0, 3)]


def test_pq_topk_null_query_ranks_by_id(spark):
    """A NULL query's ADC table is +inf everywhere, so every neighbour
    is at adist +inf and the ranking falls back to the lowest ids."""
    from agentic_doc_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train_codebook,
    )

    emb = _real_emb(spark)
    cb = pq_train_codebook(emb, m=8, k=16)
    q = spark.createDataFrame(
        [(900004, None)], "vec_id long, embedding array<double>"
    )
    got = sorted(
        (r["neighbor_id"], r["adist"], r["rank"])
        for r in pq_topk(q, pq_encode(emb, cb), cb, topk=3).collect()
    )
    inf = float("inf")
    assert got == [(0, inf, 1), (1, inf, 2), (2, inf, 3)]


def test_pq_topk_answers_a_vector_with_no_finite_code(spark):
    """An all-NaN corpus vector encodes to code -1 in every subspace.
    Its ADC terms are NaN, so pq_topk and ivfpq_topk rank it after every
    finite distance instead of failing the query on element_at(_, 0);
    every other row is unchanged."""
    import math

    from agentic_doc_spark.operators.similarity import (
        ivfpq_topk,
        pq_encode,
        pq_topk,
        pq_train_codebook,
    )

    base = _real_emb(spark)
    dim = len(base.select("embedding").first()[0])
    emb = base.unionByName(
        spark.createDataFrame(
            [(900002, [float("nan")] * dim)],
            "vec_id long, embedding array<double>",
        )
    )
    n = emb.count()
    q = base.filter(F.col("vec_id") < 3)
    cb = pq_train_codebook(emb, m=8, k=16)
    codes = pq_encode(emb, cb)
    assert [r["codes"] for r in codes.filter("vec_id = 900002").collect()] \
        == [[-1] * 8]

    def split(rows):
        last = {}
        for r in rows:
            if r["neighbor_id"] == 900002:
                assert math.isnan(r["adist"])
                last[r["query_id"]] = r["rank"]
        return last, sorted(
            tuple(r) for r in rows if r["neighbor_id"] != 900002
        )

    nan_rank, rest = split(pq_topk(q, codes, cb, topk=n).collect())
    assert nan_rank == {0: n - 1, 1: n - 1, 2: n - 1}
    plain = pq_topk(q, pq_encode(base, cb), cb, topk=n).collect()
    assert rest == sorted(map(tuple, plain))

    nan_rank, rest = split(
        ivfpq_topk(emb, q, k=n, n_cells=8, n_probe=8, m=8, pq_k=16).collect()
    )
    assert nan_rank == {0: n - 1, 1: n - 1, 2: n - 1}
    assert all(not math.isnan(r[2]) for r in rest)


def test_semantic_dedup_kernel_matches_expression_join(spark):
    """The r6 within-cell numpy kernel vs the expression pair-join form
    it replaced: same survivors on real embeddings + edge vectors (zero
    norm → cos 0.0; NaN components → cos NaN ≥ threshold TRUE under
    Spark semantics; exact duplicate under a higher id)."""
    from agentic_doc_spark.operators.dedup import _dot, _norm
    from agentic_doc_spark.operators.similarity import (
        _train_centroids,
        _train_sample,
        assign_cells_fast,
        semantic_dedup,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(base.select("embedding").first()[0])
    first_vec = [
        float(x)
        for x in base.orderBy("vec_id").select("embedding").first()[0]
    ]
    edge = spark.createDataFrame(
        [
            (900001, [0.0] * dim),
            (900002, [float("nan")] * dim),
            (900003, first_vec),
        ],
        "vec_id long, embedding array<double>",
    )
    emb = (
        base.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).unionByName(edge)
    )
    got = sorted(
        map(tuple, semantic_dedup(emb, threshold=0.3, n_cells=8).collect())
    )

    # reference: the pre-r6 expression pair join over the SAME assignment
    proj = emb.select("vec_id", "embedding")
    train = _train_sample(proj, 8, 256, "vec_id")
    cents = _train_centroids(train, 8, 1, "embedding", "vec_id")
    # only the cells come from the kernel; the pair join reads the
    # original vectors
    assigned = proj.join(
        assign_cells_fast(proj, cents).select("vec_id", "cell"), "vec_id"
    )
    normed = assigned.withColumn("_n", _norm(F.col("embedding")))
    a = normed.select(
        F.col("vec_id").alias("_a"),
        F.col("embedding").alias("_av"),
        F.col("_n").alias("_an"),
        "cell",
    )
    b = normed.select(
        F.col("vec_id").alias("_b"),
        F.col("embedding").alias("_bv"),
        F.col("_n").alias("_bn"),
        "cell",
    )
    cos = F.coalesce(
        F.try_divide(
            _dot(F.col("_av"), F.col("_bv")), F.col("_an") * F.col("_bn")
        ),
        F.lit(0.0),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("_a") < F.col("_b"))
        .filter(cos >= 0.3)
        .select(F.col("_b").alias("vec_id"))
        .distinct()
    )
    ref = sorted(
        map(
            tuple,
            assigned.join(dropped, "vec_id", "left_anti")
            .select("vec_id", "cell")
            .collect(),
        )
    )
    assert got == ref


def test_semantic_dedup_partition_invariant(spark):
    from agentic_doc_spark.operators.similarity import semantic_dedup

    rows = [
        (i, [float((i * 7 + d) % 5 - 2) for d in range(4)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, semantic_dedup(emb, 0.9, 4).collect()))
    b = sorted(
        map(tuple, semantic_dedup(emb.repartition(7), 0.9, 4).collect())
    )
    assert a == b and 0 < len(a) < 40


def test_null_embedding_never_seeds_or_moves_a_cell(spark):
    # one NULL vector among 40 used to crash both trainers (TypeError on
    # the float() list comprehension). As in the DuckDB twin it seeds no
    # cell (arg_min skips NULL — id 0 would be cell 0's min-id seed),
    # adds nothing to a member mean (unnest(NULL) yields no rows) and
    # is no one's near-duplicate, so it survives in the lowest cell
    import duckdb
    import numpy as np

    import __spark_entry__ as e
    from agentic_doc_spark.operators.similarity import (
        pq_train_codebook,
        semantic_dedup,
    )

    rng = np.random.default_rng(7)
    vecs = [(i, rng.normal(size=16).round(3).tolist()) for i in range(1, 41)]
    rows = [(0, None)] + vecs
    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame(rows, schema)
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    ref = sorted(con.execute(e.oracle_sql()["semantic_dedup"]).fetchall())
    got = sorted(map(tuple, semantic_dedup(emb, threshold=0.3).collect()))
    assert got == ref and (0, min(c for _, c in ref)) in got

    def codebook(df):
        return sorted(map(tuple, pq_train_codebook(df, m=4, k=4).collect()))

    assert codebook(emb) == codebook(spark.createDataFrame(vecs, schema))


def test_semantic_dedup_skew_guard_on_single_cluster(spark):
    # pathological corpus: every vector in one tight cluster → one IVF
    # cell holds ~all rows and the within-cell pair join would be O(n²).
    # The guard must raise with the measured histogram INSTEAD of
    # attempting the join (round-4 VERDICT task 7).
    import pytest as _pytest

    from agentic_doc_spark.operators.similarity import semantic_dedup

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(4096)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="skew guard.*Top cells"):
        semantic_dedup(emb, threshold=0.9, n_cells=16)

    # small corpora sit under the 2048-row absolute floor: one dominant
    # cluster must NOT false-positive (the pair join is trivial there),
    # and every vector is a dup of min-id 0 → exactly one survivor
    small = spark.createDataFrame(
        rows[:256], "vec_id long, embedding array<double>"
    )
    assert semantic_dedup(small, threshold=0.9, n_cells=16).count() == 1

    # an explicit max_cell_rows budget overrides the auto cap in BOTH
    # directions: tighter (raises on the small corpus) ...
    with _pytest.raises(ValueError, match="skew guard"):
        semantic_dedup(small, threshold=0.9, n_cells=16, max_cell_rows=10)
    # ... and looser (lets the degenerate join run)
    big_kept = semantic_dedup(
        emb, threshold=0.9, n_cells=16, max_cell_rows=4096
    )
    assert big_kept.count() == 1


def _pq_emb(spark, n=200, dim=16):
    rows = [
        (i, [float(((i * 13 + d * 7) % 17) - 8) / 8.0 for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_roundtrip_shapes_and_compression(spark):
    from agentic_doc_spark.operators.similarity import (
        pq_encode,
        pq_train_codebook,
    )

    emb = _pq_emb(spark)
    cb = pq_train_codebook(emb, m=8, k=4)
    assert cb.count() == 8 * 4
    first = cb.orderBy("sub", "cell").first()
    assert len(first["centroid"]) == 2  # dim 16 / m 8
    codes = pq_encode(emb, cb)
    rows = codes.collect()
    assert len(rows) == 200
    for r in rows:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 4 for c in r["codes"])


def test_pq_topk_recall_vs_exact_l2(spark):
    from pyspark.sql import functions as F

    from agentic_doc_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train_codebook,
    )

    emb = _pq_emb(spark, n=150, dim=16)
    cb = pq_train_codebook(emb, m=8, k=8)
    codes = pq_encode(emb, cb)
    q = emb.filter(F.col("vec_id") < 5)
    top = pq_topk(q, codes, cb, topk=3)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    hits = total = 0
    got: dict[int, set] = {}
    for r in top.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for qid, nbrs in got.items():
        exact = {
            i
            for _, i in sorted(
                (l2(vecs[qid], v), i)
                for i, v in vecs.items()
                if i != qid
            )[:10]
        }
        hits += len(nbrs & exact)
        total += len(nbrs)
    assert total == 15
    assert hits / total >= 0.5, f"recall {hits}/{total}"


def test_ivfpq_topk_recall_and_pruning(spark):
    # IVF-PQ: probed-cell pruning must still recover most of the exact
    # L2 neighborhood, and full-probe IVF-PQ must equal plain PQ top-k
    # (same codebook, pruning disabled ⇒ identical candidate set)
    from pyspark.sql import functions as F

    from agentic_doc_spark.operators.similarity import (
        ivfpq_topk,
        pq_encode,
        pq_topk,
        pq_train_codebook,
    )

    emb = _pq_emb(spark, n=150, dim=16)
    q = emb.filter(F.col("vec_id") < 5)
    full = ivfpq_topk(
        emb, q, k=3, n_cells=4, n_probe=4, m=8, pq_k=8
    ).collect()
    cb = pq_train_codebook(emb, m=8, k=8)
    plain = pq_topk(q, pq_encode(emb, cb), cb, topk=3).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, plain))

    pruned = ivfpq_topk(emb, q, k=3, n_cells=4, n_probe=2, m=8, pq_k=8)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    got: dict[int, set] = {}
    for r in pruned.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid, nbrs in got.items():
        exact = {
            i
            for _, i in sorted(
                (l2(vecs[qid], v), i) for i, v in vecs.items() if i != qid
            )[:10]
        }
        hits += len(nbrs & exact)
        total += len(nbrs)
    assert total == 15 and hits / total >= 0.4, f"recall {hits}/{total}"


def test_pq_partition_invariant(spark):
    from agentic_doc_spark.operators.similarity import (
        pq_encode,
        pq_train_codebook,
    )

    emb = _pq_emb(spark, n=120, dim=16)
    a = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(emb, pq_train_codebook(emb, 4, 4)).collect()
    )
    emb2 = emb.repartition(7)
    b = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in pq_encode(emb2, pq_train_codebook(emb2, 4, 4)).collect()
    )
    assert a == b


def test_pq_encode_handles_sparse_cells(spark):
    # all-even ids mod k=4 seed only cells {0, 2}; encoding must use
    # the PRESENT cells, not crash on the gap (review regression)
    from agentic_doc_spark.operators.similarity import (
        pq_encode,
        pq_train_codebook,
    )

    rows = [
        (2 * i, [float((i * 5 + d) % 7 - 3) for d in range(8)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train_codebook(emb, m=4, k=4)
    cells = {r["cell"] for r in cb.collect()}
    assert cells == {0, 2}  # sparse by construction
    codes = pq_encode(emb, cb).collect()
    assert len(codes) == 30
    assert all(set(r["codes"]) <= {0, 2} for r in codes)


def test_pq_train_empty_corpus_raises(spark):
    import pytest

    from agentic_doc_spark.operators.similarity import pq_train_codebook

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus"):
        pq_train_codebook(empty, m=4, k=4)
