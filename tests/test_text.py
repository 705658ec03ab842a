import pyspark.sql.functions as F

from stellar_etl_spark.functions import text as T


def _one(spark, s):
    return spark.createDataFrame([(s,)], "text string")


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("", 0), ("   ", 0), ("one", 1), ("one  two\tthree", 3), (None, 0)],
        "text string, want int",
    )
    got = df.select(T.token_count(F.col("text")).alias("n"), "want").collect()
    assert all(r["n"] == r["want"] for r in got)


def test_language_id(spark):
    cases = [
        ("the cat and the dog sat in it for you", "en"),
        ("le chat est dans la maison et les chiens", "fr"),
        ("el perro y la casa es una cosa que vale", "es"),
        ("der hund und die katze ist ein tier nicht", "de"),
        ("zzz qqq xxx", "und"),
        ("", "und"),
    ]
    df = spark.createDataFrame(cases, "text string, want string")
    got = df.select(T.language_id(F.col("text")).alias("lang"), "want").collect()
    assert all(r["lang"] == r["want"] for r in got), [(r["lang"], r["want"]) for r in got]


def test_quality_score_ordering(spark):
    prose = "the quick brown fox jumps over the lazy dog and runs to the house in town for fun"
    junk = "@@@ ### !!! ;;; ***"
    df = spark.createDataFrame([(prose,), (junk,)], "text string")
    rows = df.select("text", T.quality_score(F.col("text")).alias("q")).collect()
    q = {r["text"]: r["q"] for r in rows}
    assert 0.0 <= q[junk] < q[prose] <= 1.0


def test_normalize_and_fingerprint(spark):
    a = "Hello,   World!"
    b = "hello world"
    df = spark.createDataFrame([(a, b)], "a string, b string")
    r = df.select(
        T.normalized(F.col("a")).alias("na"),
        (T.fingerprint64(F.col("a")) == T.fingerprint64(F.col("b"))).alias("same"),
    ).collect()[0]
    assert r["na"] == "hello world" and r["same"]


def test_shingles(spark):
    df = _one(spark, "a b c d")
    r = df.select(T.shingles(F.col("text"), 3).alias("s")).collect()[0]["s"]
    assert r == ["a b c", "b c d"]
    short = _one(spark, "a b").select(T.shingles(F.col("text"), 3).alias("s")).collect()[0]["s"]
    assert short == ["a b"]


def test_repetition_signals(spark):
    # uniq_word_ratio: distinct words / total words on the normalized text
    df = spark.createDataFrame(
        [("a a a a", 0.25), ("a b c d", 1.0), ("Hello, hello world!", 0.666667), ("", 1.0)],
        "text string, want double",
    )
    got = df.select(T.uniq_word_ratio(F.col("text")).alias("r"), "want").collect()
    assert all(abs(r["r"] - r["want"]) < 1e-9 for r in got), [(r["r"], r["want"]) for r in got]

    # top_gram_share: most frequent bigram's share of all bigrams;
    # docs of <= k words degenerate to one whole-text gram (share 1.0)
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "x")],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: r["top_gram_share"] for r in T.ngram_repetition(docs, k=2).collect()}
    assert rep[1] == 1.0  # "a a" x3 of 3
    assert abs(rep[2] - 0.333333) < 1e-6  # "a b","b c","c d" each 1 of 3
    assert rep[3] == 1.0  # single whole-text gram
