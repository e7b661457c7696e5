"""Text-analysis kernels: token counts, quality, lang-id, fingerprints."""

from __future__ import annotations

from pyspark.sql import functions as F

from agentic_doc_spark.functions.textstats import (
    fingerprint,
    fingerprint_rolling,
    punct_ratio,
    quality_score,
    text_profile_fast,
    token_count_bpe,
    token_count_ws,
)


def _one(spark, text, col):
    return (
        spark.createDataFrame([(text,)], ["text"])
        .select(col(F.col("text")).alias("v"))
        .collect()[0]["v"]
    )


def _langs(spark, texts):
    """text_profile_fast's pred_lang per text, in input order."""
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r["pred_lang"] for r in text_profile_fast(df).collect()}
    return [got[i] for i in range(len(texts))]


def test_token_counts(spark):
    assert _one(spark, "a b  c", token_count_ws) == 3
    assert _one(spark, "hello, world!", token_count_bpe) == 4  # hello , world !


def test_text_profile_fast_matches_duckdb_twin(spark):
    """text_profile_fast kernel vs the DuckDB quality_langid twin in
    oracle_sql(): identical (pred_lang, quality) on real data + edge
    texts (empty, whitespace-only, CJK-heavy, punct-heavy, null,
    marker-tie cases)."""
    import duckdb

    import __spark_entry__ as e

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edge_rows = [
        (9000001, ""),
        (9000002, "   \t\n "),
        (9000003, "的話這是一段中文字符測試 covering the cjk gate ok"),
        (9000004, "!!! ??? ;;; ###"),
        (9000005, None),
        (9000006, "le la de que y et dans est der die und das ist"),
        (9000007, "x"),
        (9000008, "the of and to a " * 20),
    ]
    edge = spark.createDataFrame(edge_rows, "doc_id long, text string")
    corpus = docs.unionByName(edge)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", [tuple(r) for r in corpus.collect()]
    )
    ref = sorted(con.execute(e.oracle_sql()["quality_langid"]).fetchall())
    got = sorted(
        map(
            tuple,
            text_profile_fast(corpus).select(
                "doc_id", "pred_lang", "quality"
            ).collect(),
        )
    )
    assert got == ref


def test_token_counts_fast_matches_expressions(spark):
    """token_counts_fast kernel vs the token_count_ws/bpe expressions:
    identical counts on real data + whitespace/unicode/null edges."""
    from pyspark.sql import functions as F

    from agentic_doc_spark.functions.textstats import (
        token_count_bpe,
        token_count_ws,
        token_counts_fast,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(200)
    edge = spark.createDataFrame(
        [
            (9000001, ""),
            (9000002, " \t\n "),
            (9000003, "hello, wörld! a\vb c\fd"),
            (9000004, None),
            (9000005, "x" * 5 + "  !!  123abc.def"),
        ],
        "doc_id long, text string",
    )
    corpus = docs.unionByName(edge)
    ref = sorted(
        map(
            tuple,
            corpus.select(
                "doc_id",
                token_count_ws(F.col("text")).alias("n_ws"),
                token_count_bpe(F.col("text")).alias("n_bpe"),
            ).collect(),
        )
    )
    got = sorted(map(tuple, token_counts_fast(corpus).collect()))
    assert got == ref


def test_punct_ratio(spark):
    assert _one(spark, "abcd", punct_ratio) == 0.0
    assert _one(spark, "a.b.", punct_ratio) == 0.5


def test_lang_id(spark):
    assert _langs(
        spark,
        [
            "the cat sat on the mat of the house",
            "el perro y la casa de que y el",
            "der hund und die katze ist das",
            "zzz qqq xxx",
        ],
    ) == ["en", "es", "de", "und"]


def test_lang_id_fr_and_zh(spark):
    fr = "le chien et les chats sont dans le jardin et la maison est belle"
    zh = "这是一个用于测试语言识别的中文句子包含很多汉字"
    mixed = "short note 这段文字主要是中文所以应该判成中文 end"
    en = "the of and to a plain english line"
    # mixed: the CJK ratio dominates
    assert _langs(spark, [fr, zh, mixed, en]) == ["fr", "zh", "zh", "en"]


def test_lang_id_duckdb_twin_agrees_on_all_five(spark):
    # the oracle _LANG_EXPR must classify real fr/zh text identically —
    # the synthetic sf corpora never exercise those CASE branches
    import duckdb

    import __spark_entry__ as e

    rows = [
        (1, "le chien et les chats sont dans le jardin et la maison est belle"),
        (2, "这是一个用于测试语言识别的中文句子包含很多汉字"),
        (3, "the cat sat on the mat of the house"),
        (4, "el perro y la casa de que y el"),
        (5, "der hund und die katze ist das"),
        (6, "zzz qqq xxx"),
        # equal marker ratios: the tie-break order en > es > fr > de
        (7, "the el"),
        (8, "el le"),
        (9, "le der"),
    ]
    spark_got = {
        r["doc_id"]: r["pred_lang"]
        for r in text_profile_fast(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    duck_got = dict(
        con.execute(
            f"SELECT doc_id, {e._LANG_EXPR} AS l FROM documents"
        ).fetchall()
    )
    assert spark_got == duck_got
    assert spark_got == {
        1: "fr", 2: "zh", 3: "en", 4: "es", 5: "de", 6: "und",
        7: "en", 8: "es", 9: "fr",
    }


def test_top_ngram_fraction(spark):
    from agentic_doc_spark.functions.textstats import top_ngram_fraction

    # "a b" appears 3 times of 5 bigrams: a b, b a, a b, b a, a b
    assert _one(spark, "a b a b a b", top_ngram_fraction) == 0.6
    # all bigrams distinct → 1/3
    got = _one(spark, "w x y z", top_ngram_fraction)
    assert abs(got - 1 / 3) < 1e-9
    assert _one(spark, "single", top_ngram_fraction) == 0.0
    assert _one(spark, "", top_ngram_fraction) == 0.0


def test_quality_score_bounds(spark):
    good = "the quick brown fox jumps over the lazy dog " * 5
    assert _one(spark, good, quality_score) == 1.0
    assert _one(spark, "x", quality_score) < 0.5


def test_fingerprint_normalization(spark):
    a = _one(spark, "Hello   World", fingerprint)
    b = _one(spark, "hello world", fingerprint)
    assert a == b and len(a) == 32


def test_rolling_fingerprint_stability(spark):
    base = "w%d " * 40
    t1 = " ".join(f"w{i}" for i in range(40))
    t2 = t1.replace("w39", "DIFFERENT")  # edit far from the min shingle
    f1 = _one(spark, t1, fingerprint_rolling)
    f2 = _one(spark, t2, fingerprint_rolling)
    # min-shingle fingerprint usually survives a single distant edit;
    # at minimum it is deterministic
    assert f1 == _one(spark, t1, fingerprint_rolling)
    assert len(f1) == 32 and len(f2) == 32


def test_repetition_ratio(spark):
    from pyspark.sql import functions as F

    from agentic_doc_spark.functions.textstats import repetition_ratio

    rows = [
        ("clean", "alpha beta gamma delta epsilon"),   # all bigrams unique
        ("loop", "spam spam spam spam spam"),          # one distinct bigram
        ("short", "hello"),                            # < one bigram → 0.0
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["rr"]
        for r in df.select(
            "doc_id", F.round(repetition_ratio(F.col("text")), 4).alias("rr")
        ).collect()
    }
    assert got["clean"] == 0.0
    assert got["loop"] == 0.75  # 4 bigrams, 1 distinct → 1 - 1/4
    assert got["short"] == 0.0
    assert got["empty"] == 0.0


def test_scrub_pii(spark):
    from pyspark.sql import functions as F

    from agentic_doc_spark.functions.textstats import scrub_pii

    df = spark.createDataFrame(
        [
            (
                "d1",
                "mail me at jane.doe+spam@sub.example.co.uk or call "
                "+44 (0)20 7946 0958; server 192.168.001.1 is up",
            )
        ],
        ["doc_id", "text"],
    )
    got = df.select(scrub_pii(F.col("text")).alias("t")).collect()[0]["t"]
    assert "<EMAIL>" in got and "jane.doe" not in got
    assert "<PHONE>" in got and "7946" not in got
    assert "<IP>" in got and "192.168" not in got


def test_unigram_logprob_scores(spark):
    # the corpus's own unigram distribution: a doc of common tokens
    # scores LOWER (more typical) than one of hapax tokens; values match
    # the hand-computed -ln(c/total) means
    import math

    from agentic_doc_spark.functions.textstats import unigram_logprob_scores

    docs = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common rare1 rare2 rare3"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r for r in unigram_logprob_scores(docs).collect()
    }
    total = 8
    c_common = 5
    exp1 = round(-math.log(c_common / total), 6)
    exp2 = round(
        (-math.log(c_common / total) - 3 * math.log(1 / total)) / 4, 6
    )
    assert got[1]["n_tokens"] == 4
    assert abs(got[1]["avg_neg_logprob"] - exp1) < 1e-6
    assert abs(got[2]["avg_neg_logprob"] - exp2) < 1e-6
    assert got[2]["avg_neg_logprob"] > got[1]["avg_neg_logprob"]


def test_c4_line_clean_and_flags(spark):
    from pyspark.sql import functions as F

    from agentic_doc_spark.functions.textstats import c4_line_clean, c4_page_flags

    doc = (
        "this sentence ends with terminal punctuation properly.\n"
        "short line\n"
        "no terminal punctuation on this long enough line\n"
        'he said "it ends with a quote."\n'
        "ok.\n"  # terminal but < 4 words
        "final good line has plenty of words!"
    )
    df = spark.createDataFrame([(1, doc)], ["doc_id", "text"])
    out = df.select(
        c4_line_clean(F.col("text")).alias("clean"),
        c4_page_flags(F.col("text")).alias("flags"),
    ).collect()[0]
    assert out["clean"].split("\n") == [
        "this sentence ends with terminal punctuation properly.",
        'he said "it ends with a quote."',
        "final good line has plenty of words!",
    ]
    assert out["flags"]["has_brace"] is False
    flagged = spark.createDataFrame(
        [(1, "Enable JavaScript please { lorem ipsum dolor }")],
        ["doc_id", "text"],
    ).select(c4_page_flags(F.col("text")).alias("f")).collect()[0]["f"]
    assert flagged["has_brace"] and flagged["has_lorem"] and flagged["has_javascript"]


def test_gopher_flags_rule_battery(spark):
    from pyspark.sql import functions as F

    from agentic_doc_spark.functions.textstats import gopher_flags

    good = (
        "the quick brown fox jumps over the lazy dog and runs to "
        "the river bank with great speed that nobody could have "
        "imagined since records began " * 3
    )
    rows = [
        (0, good),                                  # passes everything
        (1, "too short to have fifty words"),       # wc fails
        (2, good + " ##### " * 20),                 # symbol ratio fails
        (3, "\n".join("- bullet line here now ok" for _ in range(20))
            + "\n" + good),  # 20 of 21 lines bulleted → bullet_ok False
        (4, good.replace("the", "123").replace("and", "456")
             .replace("to", "789").replace("with", "000")
             .replace("have", "111").replace("that", "222")
             .replace("over", "333")),               # stopwords fail
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["g"]
        for r in docs.select(
            "doc_id", gopher_flags(F.col("text")).alias("g")
        ).collect()
    }
    assert out[0]["keep"] is True and out[0]["n_words"] >= 50
    assert out[1]["wc_ok"] is False and out[1]["keep"] is False
    assert out[2]["sym_ok"] is False
    assert out[3]["bullet_ok"] is False and out[3]["keep"] is False
    assert out[4]["stop_ok"] is False and out[4]["keep"] is False


def test_gopher_bullet_and_ellipsis_lines(spark):
    from pyspark.sql import functions as F

    from agentic_doc_spark.functions.textstats import gopher_flags

    bullets = "\n".join(f"- item {i} in the list" for i in range(19))
    # 17 bullets / 20 lines = 0.85 < 0.9 → ok
    almost_all_bullets = "\n".join(
        f"- item {i} in the list" for i in range(17)
    ) + "\nplain one\nplain two\nplain three"
    all_ellipsis = "\n".join(
        f"this line number {i} trails off..." for i in range(10)
    )
    docs = spark.createDataFrame(
        [(0, almost_all_bullets), (1, bullets), (2, all_ellipsis)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["g"]
        for r in docs.select(
            "doc_id", gopher_flags(F.col("text")).alias("g")
        ).collect()
    }
    assert out[0]["bullet_ok"] is True   # 17/20 = 0.85 < 0.9
    assert out[1]["bullet_ok"] is False  # 100% bullet lines
    assert out[2]["ellipsis_ok"] is False
