"""Column-function unit tests: tokens, shingles, counts, quality, lang-id, paths,
fingerprints, simhash helpers."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_resolution_spark.functions import text as TX


def one(spark, text, col):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(col.alias("x")).collect()[0]["x"]


def test_tokens_and_shingles(spark):
    assert one(spark, "Hello, World_1! foo", TX.tokens(F.col("t"))) == ["hello", "world_1", "foo"]
    df = spark.createDataFrame([(["a", "b", "c", "d"],)], "tk array<string>")
    sh = df.select(TX.shingles(F.col("tk"), 2).alias("s")).collect()[0]["s"]
    assert sh == ["a b", "b c", "c d"]
    # shorter than k → whole sequence as one shingle
    sh1 = df.select(TX.shingles(F.col("tk"), 9).alias("s")).collect()[0]["s"]
    assert sh1 == ["a b c d"]


def test_token_counts(spark):
    assert one(spark, "  a b\tc\nd  ", TX.token_count(F.col("t"))) == 4
    assert one(spark, "", TX.token_count(F.col("t"))) == 0
    assert one(spark, "foo-bar, baz!", TX.word_like_token_count(F.col("t"))) == 3 + 3


def test_quality_features(spark):
    q = TX.quality_features(F.col("t"))
    df = spark.createDataFrame([("The cat and the dog!",)], "t string")
    row = df.select(*[v.alias(k) for k, v in q.items()]).collect()[0]
    assert row["n_tokens"] == 5
    assert abs(row["stopword_ratio"] - 3 / 5) < 1e-9   # the, and, the
    assert row["punct_ratio"] > 0


def test_lang_id(spark):
    assert one(spark, "the cat is on the mat and it is good", TX.lang_id(F.col("t"))) == "en"
    assert one(spark, "der hund und die katze ist nicht da", TX.lang_id(F.col("t"))) == "de"
    assert one(spark, "xyzzy qwerty", TX.lang_id(F.col("t"))) == "unknown"


def test_path_functions(spark):
    df = spark.createDataFrame([("src/pkg/Load_Buffer_12_v3.PY",)], "t string")
    stem = df.select(TX.path_stem(F.col("t")).alias("x")).collect()[0]["x"]
    assert stem == "load_buffer_12_v3"
    toks = df.select(TX.path_tokens(F.col("t")).alias("x")).collect()[0]["x"]
    assert toks == ["buffer", "load", "v"]


def test_fingerprints_deterministic_subset(spark):
    """The winnowing fingerprints of the Arrow tokenizer (the column blocking
    keys on) are deterministic and keep only hashes ≡ 0 (mod 16)."""
    from entity_resolution_spark.functions.fast_text import code_features

    text = " ".join("w%d" % i for i in range(400))
    df = spark.createDataFrame([(text,)], "t string")
    fp1 = df.select(code_features(F.col("t"))["fingerprints"].alias("f")).collect()[0]["f"]
    fp2 = df.select(code_features(F.col("t"))["fingerprints"].alias("f")).collect()[0]["f"]
    assert fp1 and fp1 == fp2
    assert all(h % 16 == 0 for h in fp1)


def test_replace_entity_name_reference_goldens(spark):
    """All five goldens from reference test/utils/test_replace.py:4-54:
    case-insensitive full-token replace, 'J.'-style trailing-dot tokens match
    without a trailing boundary but never fire on 'Mr.'/'row.', and 'john'
    never fires inside 'johnson'."""
    from entity_resolution_spark.functions.text import replace_entity_name

    cases = [
        ("david is from Martinez family. His dad kept his name david martinez "
         "and he writes his name as DAVID MARTINEZ",
         "David Martinez",
         "Fake_Name is from Fake_Name family. His dad kept his name "
         "Fake_Name Fake_Name and he writes his name as Fake_Name Fake_Name"),
        ("Argentine mom hopes pope will help get son off death row.",
         "John R. Rolater",
         "Argentine mom hopes pope will help get son off death row."),
        ("Mr. Rolater's layer Fred Johnson has been consulted.",
         "John R. Rolater",
         "Mr. Fake_Name's layer Fred Johnson has been consulted."),
        ("Mr. John R. Rolater has been suspected of something.",
         "John R. Rolater",
         "Mr. Fake_Name Fake_Name Fake_Name has been suspected of something."),
        ("Mr. John R Rolater has been suspected of something.",
         "John R. Rolater",
         "Mr. Fake_Name R Fake_Name has been suspected of something."),
    ]
    df = spark.createDataFrame(
        [(i, t, n) for i, (t, n, _) in enumerate(cases)],
        "id int, text string, name string",
    )
    out = df.select(
        "id", replace_entity_name("text", "name", F.lit("Fake_Name")).alias("masked")
    ).orderBy("id").collect()
    for row, (_, _, want) in zip(out, cases):
        assert row["masked"] == want


def test_repetition_stats_hand_computed(spark):
    """Gopher/C4 repetition stats on a hand-traced doc: 'aa\naa\nbb' has 3
    lines, 1 duplicate occurrence, 4 duplicated chars of 6 line chars; tokens
    'x y x y z' give best bigram 'x y' covering 2*(3-1)=4 of 5 token chars."""
    from entity_resolution_spark.operators.repetition import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "aa\naa\nbb"),
            (2, "x y x y z"),
            (3, "   \n\n"),          # whitespace only -> all zeros
            (4, "single"),           # one token -> no bigram
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_stats(docs, text_col="text", id_col="doc_id").collect()
    }
    assert got[1]["n_lines"] == 3 and got[1]["dup_lines"] == 1
    assert got[1]["dup_chars"] == 4 and got[1]["line_chars"] == 6
    assert got[2]["top_bigram_chars"] == 4 and got[2]["tok_chars"] == 5
    assert got[3] == {"doc_id": 3, "n_lines": 0, "dup_lines": 0, "dup_chars": 0,
                      "line_chars": 0, "top_bigram_chars": 0, "tok_chars": 0}
    assert got[4]["top_bigram_chars"] == 0 and got[4]["tok_chars"] == 6


def test_profession_mentions_reference_flow(spark):
    # ProfessionVisitor analog (ref features/profession.py:135-206): sentence
    # gate is case-SENSITIVE on entity tokens (check_words, profession.py:33),
    # occupation match is case-INSENSITIVE (profession.py:107-109)
    from entity_resolution_spark.functions.text import (
        check_words,
        profession_mentions,
        sentences,
    )

    occ = ["doctor", "lawyer", "teacher"]
    df = spark.createDataFrame(
        [
            (1, "John was a Doctor. Mary was a lawyer. Smith became a teacher.",
             "John Smith"),
            # lowercase 'john' fails the case-sensitive entity gate
            (2, "john was a doctor.", "John Smith"),
            # entity sentence with no occupation -> nothing
            (3, "John went home! The doctor stayed.", "John Smith"),
            (4, None, "John Smith"),
        ],
        ["id", "text", "name"],
    )
    got = {
        r["id"]: r["p"]
        for r in df.select(
            "id", profession_mentions("text", "name", occ).alias("p")
        ).collect()
    }
    assert got[1] == ["doctor", "teacher"]  # 'lawyer' sentence lacks the entity
    assert got[2] == []
    assert got[3] == []
    assert got[4] == []

    # check_words / sentences goldens
    row = df.where("id = 1").select(
        sentences("text").alias("s"),
        check_words(sentences("text"), F.split(F.lit("John Smith"), " ")).alias("k"),
    ).collect()[0]
    assert row["s"] == [
        "John was a Doctor", "Mary was a lawyer", "Smith became a teacher",
    ]
    assert row["k"] == ["John was a Doctor", "Smith became a teacher"]


def test_clean_html_tags_reference_goldens(spark):
    # reference test/features/test_common.py:54-74 (TestTextCleaner)
    cases = [
        ("<html>Hello world</html>", "Hello world"),
        ("<html></html>", ""),
        ("<html><br><br>Hello world</html>", "Hello world"),
        ("Hello world</html>", "Hello world"),
        ("Hello world", "Hello world"),
        ("<<<<<<Hello world", "<<<<<<Hello world"),
    ]
    for raw, want in cases:
        assert one(spark, raw, TX.clean_html_tags(F.col("t"))) == want


def test_remove_self_reference_reference_goldens(spark):
    # reference test/features/test_common.py:18-42 (TestRemoveSelfReference);
    # sets become sorted arrays here, so compare as sorted sets
    cases = [
        (["John Smith", "Marble Arch"], "John", {"Marble Arch"}),
        (["John Smith", "Marble Arch"], "John Marble", set()),
        (["John Smith", "Marble Arch"], "Tim", {"John Smith", "Marble Arch"}),
        (["John Smith", "Marble Arch"], "Ar", {"John Smith", "Marble Arch"}),
        (["John Smith", "Marble Arch"], "MIT", {"John Smith", "Marble Arch"}),
        (["John Smith", "Marble Arch"], "Fred S. Johnson", {"John Smith", "Marble Arch"}),
        (["John Smith", "Marble S. Arch"], "Fred S. Johnson", {"John Smith", "Marble S. Arch"}),
        (["John Smith", "Marble Leed Arch"], "Lee.", {"John Smith", "Marble Leed Arch"}),
        (["Joe Doe", "joe", "joe meme"], "joe", set()),
        (["Manhattan", "Apalachi"], "a", {"Manhattan", "Apalachi"}),
    ]
    df = spark.createDataFrame(
        [(vals, name) for vals, name, _ in cases],
        "vals array<string>, name string",
    )
    out = df.select(TX.remove_self_reference("vals", "name").alias("kept")).collect()
    for (vals, name, want), row in zip(cases, out):
        assert set(row["kept"]) == want, (vals, name)


def test_remove_entity_name_tokens_reference_goldens(spark):
    # reference test/test_entity_name_remover.py:5-28 — PERSON arrays supplied
    # explicitly (the reference derives them via spaCy NER)
    df = spark.createDataFrame(
        [
            (
                "John Smith was a news anchor and a psychotherapist",
                ["John Smith"],
                "John Smith",
            ),
            (
                "John Smith was a news anchor and a psychotherapist, "
                "just like his father, Robert Peterson",
                ["John Smith", "Robert Peterson"],
                "John Smith",
            ),
            ("No names here", [], "John Smith"),
        ],
        "t string, persons array<string>, name string",
    )
    got = [
        r["o"]
        for r in df.select(
            TX.remove_entity_name_tokens("t", "persons", "name").alias("o")
        ).collect()
    ]
    assert got[0] == "  was a news anchor and a psychotherapist"
    assert got[1] == "  was a news anchor and a psychotherapist, just like his father,  "
    # empty PERSON set → text untouched (common.py:220-221 early return)
    assert got[2] == "No names here"


def test_snippet_distance_hand_goldens(spark):
    # reference ab_utils.py:97-123 — mean of 7 normalized similarities.
    # Each term of the kitten/sitting case hand-traced:
    # hamming 4/7, damerau-lev 1-3/7, jaro 0.746031746, smith-waterman 3/6,
    # multiset-jaccard 4/9, bag 1-3/7, lcsstr 3/6.
    from entity_resolution_spark.functions.strings import (
        snippet_distance_py,
        snippet_distance_udf,
        _damerau_levenshtein,
        _smith_waterman,
        _lcs_substring_len,
    )

    assert snippet_distance_py("same", "same") == 1.0
    assert snippet_distance_py("abc", "") == 0.0
    assert snippet_distance_py("", "") == 1.0
    # ab/ba: hamming 0, DL (one transposition) 0.5, jaro 0 (window 0),
    # SW 0.5, jaccard 1, bag 1, lcsstr 0.5 → mean 3.5/7
    assert abs(snippet_distance_py("ab", "ba") - 0.5) < 1e-12
    want = (4 / 7 + 4 / 7 + 0.746031746031746 + 0.5 + 4 / 9 + 4 / 7 + 0.5) / 7
    assert abs(snippet_distance_py("kitten", "sitting") - want) < 1e-12
    # unrestricted DL: ca→abc is 2 (transpose + insert); restricted OSA says 3
    assert _damerau_levenshtein(b"ca", b"abc") == 2
    assert _smith_waterman(b"kitten", b"sitting") == 3
    assert _lcs_substring_len(b"kitten", b"sitting") == 3

    df = spark.createDataFrame(
        [("kitten", "sitting"), ("ab", "ba"), (None, "x")], "a string, b string"
    )
    got = [
        r["d"]
        for r in df.select(snippet_distance_udf("a", "b").alias("d")).collect()
    ]
    assert abs(got[0] - want) < 1e-12
    assert abs(got[1] - 0.5) < 1e-12
    assert got[2] == 0.0  # NULL → "" like the reference's defensive encode
