"""Analyzer unit tests (reference parity: serve.rs:270-330,692-776)."""

from __future__ import annotations

from prosearch_spark.analyzer import (
    analyze_code,
    analyze_query,
    escape_query_term,
    white_lower_py,
)


def test_white_lower_basic():
    assert white_lower_py("Hello  World") == ["hello", "world"]
    assert white_lower_py("  a\tb\nc  ") == ["a", "b", "c"]
    assert white_lower_py("") == []
    assert white_lower_py("   ") == []


def test_white_lower_keeps_punctuation():
    # the reference tokenizer splits ONLY on whitespace (serve.rs:326-330)
    assert white_lower_py("foo.bar() x-y") == ["foo.bar()", "x-y"]


def test_code_analyzer_superset_of_white_lower():
    text = "parseQueryString snake_case_value"
    toks = analyze_code(text, "python")
    for t in white_lower_py(text):
        assert t in toks


def test_code_analyzer_camel_snake_splits():
    toks = analyze_code("parseQueryString snake_case_value HTTPServer2x", None)
    for sub in ["parse", "query", "string", "snake", "case", "value",
                "http", "server", "2", "x"]:
        assert sub in toks, sub


def test_code_analyzer_path_bigrams():
    toks = analyze_code("import src/main/core", None)
    assert "src/main" in toks and "main/core" in toks
    assert "src/main/core" in toks  # verbatim kept


def test_code_analyzer_stopwords_drop_subtokens_only():
    # 'def' as a standalone verbatim token is kept; as a subtoken of a
    # split identifier it is dropped for lang=python.
    toks = analyze_code("def_handler", "python")
    assert "def_handler" in toks
    assert "handler" in toks
    assert toks.count("def") == 0


def test_analyze_query_boost_case_sensitive():
    # raw-token, case-sensitive membership (serve.rs:388-395)
    assert analyze_query("python") == [("python", 2.5)]
    assert analyze_query("Python") == [("python", 1.0)]
    assert analyze_query("Spark python") == [("spark", 1.0), ("python", 2.5)]


def test_analyze_query_duplicates_kept():
    assert analyze_query("a a") == [("a", 1.0), ("a", 1.0)]


def test_escape_reference_cases():
    # mirrors serve.rs:697-776 test suite
    assert escape_query_term("AND") == '"AND"'
    assert escape_query_term("ANDROID") == '"ANDROID"'
    assert escape_query_term("+AND") == '"+AND"'
    assert escape_query_term("AND=OR") == '"AND=OR"'
    assert escape_query_term("field:AND") == '"field:AND"'
    assert escape_query_term('"AND"') == '"\\"AND\\""'
    assert escape_query_term("'OR'") == "\"\\'OR\\'\""
    assert escape_query_term("a\\b") == '"a\\\\b"'


def test_parse_query_lenient_mixed():
    from prosearch_spark.analyzer import parse_query_lenient

    assert parse_query_lenient('spark "join hash"') == [
        ("term", ("spark", 1.0)),
        ("phrase", ["join", "hash"]),
    ]


def test_parse_query_lenient_drops_bad_clauses():
    from prosearch_spark.analyzer import parse_query_lenient

    # empty phrase dropped; 1-token phrase folds to a term clause;
    # dangling-quote tail dropped (serve.rs:407-409 lenient semantics)
    got = parse_query_lenient('"" spark "dup" "join hash" "dangling tail')
    assert got == [
        ("term", ("spark", 1.0)),
        ("term", ("dup", 1.0)),
        ("phrase", ["join", "hash"]),
    ]
    assert parse_query_lenient('"') == []
    assert parse_query_lenient("") == []


def test_parse_query_lenient_boosts_bare_terms_only():
    from prosearch_spark.analyzer import parse_query_lenient

    got = parse_query_lenient('python "python rust"')
    assert got == [
        ("term", ("python", 2.5)),
        ("phrase", ["python", "rust"]),
    ]


def test_parse_query_lenient_lowercases_phrase_tokens():
    from prosearch_spark.analyzer import parse_query_lenient

    assert parse_query_lenient('"Join HASH"') == [
        ("phrase", ["join", "hash"]),
    ]


# Non-ASCII whitespace and word characters: the Spark analyzers split on
# Java's ASCII ``\s`` and test paths with ASCII ``\w``, so the Python
# twins must use the same ASCII classes.
UNICODE_TEXTS = [
    "foo\u00a0barBaz",
    "a\u2003b",
    "caf\u00e9/menu/item",
    "x\u3000snake_case src/\u00fcber/v",
]


def test_spark_analyzers_match_python_twins_on_unicode(spark):
    from collections import Counter

    from prosearch_spark.index.build import tokens

    docs = spark.createDataFrame(
        [(i, t, "python") for i, t in enumerate(UNICODE_TEXTS)],
        "doc_id long, text string, lang string")
    for analyzer, twin in [("white_lower", white_lower_py),
                           ("code", lambda t: analyze_code(t, "python"))]:
        got: dict[int, Counter] = {i: Counter()
                                   for i in range(len(UNICODE_TEXTS))}
        for r in tokens(docs, "text", analyzer=analyzer).collect():
            got[r["doc_id"]][r["term"]] += 1
        for i, text in enumerate(UNICODE_TEXTS):
            assert got[i] == Counter(twin(text)), (analyzer, text)
