"""Analyzers (tokenizers).

Two analyzers, mirroring the reference plus the code-aware extension the
north-star mandates:

1. ``white_lower`` — THE reference analyzer: split on whitespace,
   lowercase each token (reference: tantivy-cli/src/commands/serve.rs:326-330
   registers ``TextAnalyzer(WhitespaceTokenizer).filter(LowerCaser)`` under
   the name ``white-lowercaser``; used by both indexed fields per
   tantivy-cli/index-init/meta.json:15,29).  Implemented as a pure Column
   expression so it stays inside whole-stage codegen — no Python in the
   indexing hot path.

2. ``code`` — code-aware analyzer for source files: everything
   ``white_lower`` emits, plus camelCase / snake_case / kebab-case subtoken
   splits, path-segment n-grams for tokens that look like paths, and
   per-language stopword removal applied to *subtokens only* (the verbatim
   token is always kept, so exact-identifier search keeps working).
   Implemented as a union of three flat JVM token streams
   (:func:`code_token_stream`), with a pure-Python twin ``analyze_code``
   shared with the test oracle so tf/df/dl are defined identically in
   both engines.

The Spark forms split on Java's ``\\s`` and test paths with Java's
``\\w``; both classes are ASCII-only (as is the DuckDB oracle's RE2), so
the Python twins compile their patterns with ``re.ASCII``: a no-break
space is part of a token, and ``café/menu`` is not path-like.

The ``raw`` analyzer (whole value = one term; reference meta.json:41 for
the ``url`` field) is the identity and needs no code.
"""

from __future__ import annotations

import re
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prosearch_spark.session import local_frame

# --------------------------------------------------------------------------
# 1. white_lower — reference-exact analyzer, JVM-side.
# --------------------------------------------------------------------------

_WS = r"\s+"
_WS_RE = re.compile(_WS, re.ASCII)


def white_lower_tokens(col: Column | str) -> Column:
    """``split on whitespace -> lowercase``, empty tokens dropped.

    Matches the reference ``white-lowercaser`` analyzer
    (serve.rs:326-330). Pure built-in functions: split/lower/filter all
    run inside whole-stage codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), _WS), lambda t: t != F.lit(""))


def white_lower_py(text: str) -> list[str]:
    """Pure-Python twin of :func:`white_lower_tokens` for the oracle."""
    return [t for t in _WS_RE.split(text.lower()) if t]


# --------------------------------------------------------------------------
# 2. code — code-aware analyzer (north_star requirement).
# --------------------------------------------------------------------------

# identifier boundary splits: camelCase, PascalCase, snake_case, kebab-case,
# digits<->letters, plus generic non-alnum separators. Each pattern string
# is Java-regex for the Spark plan and compiled for the Python twin.
_CAMEL_RE_SQL = (
    "(?<=[a-z0-9])(?=[A-Z])|(?<=[A-Z])(?=[A-Z][a-z])"
    "|(?<=[A-Za-z])(?=[0-9])|(?<=[0-9])(?=[A-Za-z])"
)
_SEP_RE_SQL = "[^A-Za-z0-9]+"
_PATHLIKE_RE_SQL = r"^[\w.\-]+(/[\w.\-]+)+$"
_CAMEL_RE = re.compile(_CAMEL_RE_SQL)
_SEP_RE = re.compile(_SEP_RE_SQL)
_PATHLIKE_RE = re.compile(_PATHLIKE_RE_SQL, re.ASCII)
_TOKEN_RE = re.compile(r"\S+", re.ASCII)

# per-language stopwords applied to subtokens (keywords so common in a
# language that they carry no ranking signal). The verbatim token is kept.
LANG_STOPWORDS: dict[str, frozenset[str]] = {
    "python": frozenset({"def", "self", "return", "import", "from", "none"}),
    "java": frozenset({"public", "private", "void", "return", "new", "null"}),
    "rust": frozenset({"fn", "let", "mut", "pub", "return", "self"}),
    "js": frozenset({"function", "var", "const", "let", "return", "null"}),
    "go": frozenset({"func", "return", "nil", "err", "package"}),
    "md": frozenset(),
}


def _split_identifier(tok: str) -> list[str]:
    parts: list[str] = []
    for piece in _SEP_RE.split(tok):
        if not piece:
            continue
        parts.extend(p for p in _CAMEL_RE.split(piece) if p)
    return parts


def analyze_code(text: str, lang: str | None = None) -> list[str]:
    """Code-aware tokenization; pure Python, shared with the oracle.

    Emits, per raw whitespace token:
      * the lowercased verbatim token (white_lower behavior — superset),
      * lowercased identifier subtokens when splitting changes anything,
      * path-segment bigrams (``a/b``) for path-like tokens.
    Subtokens (not verbatim tokens) in the language stopword set are
    dropped. Deterministic by construction.
    """
    stop = LANG_STOPWORDS.get((lang or "").lower(), frozenset())
    out: list[str] = []
    for raw in _TOKEN_RE.findall(text):
        low = raw.lower()
        out.append(low)
        sub = _split_identifier(raw)
        if len(sub) > 1 or (sub and sub[0] != raw):
            out.extend(s.lower() for s in sub if s.lower() not in stop)
        if _PATHLIKE_RE.match(raw):
            segs = [s.lower() for s in raw.split("/") if s]
            out.extend(f"{a}/{b}" for a, b in zip(segs, segs[1:]))
    return out


# token is "unchanged" by identifier splitting iff it is a single run:
# all-lower / all-digit / all-upper / Capitalized (no separator, no
# camel or letter<->digit boundary). Matches analyze_code's
# "len(sub) > 1 or sub[0] != raw" condition exactly.
_UNCHANGED_RE = "^([a-z]+|[0-9]+|[A-Z]+|[A-Z][a-z]+)$"


def code_token_stream(docs: DataFrame, text_col: str, id_col: str,
                      lang_col: str) -> DataFrame:
    """Code analyzer as a UNION of three flat JVM streams.

    Per-token array building inside higher-order-function lambdas runs
    interpreted (~25-50us/token) and Arrow UDFs anti-scale on this
    allocation-heavy shape, so every regex here is a flat top-level
    codegen expression and per-language stopword sets become a
    broadcast anti-join:

      A: verbatim lowercased whitespace tokens   (white_lower core)
      B: identifier subtokens, only for tokens the splitter CHANGES
         (cheap rlike pre-filter keeps the expensive split off ~75%
         of tokens), stopwords anti-joined per lang
      C: path-segment bigrams for path-like tokens (small minority)

    Multiset-identical to :func:`analyze_code` (pinned by tests).
    Returns ``(doc_id, term)``.
    """
    spark = docs.sparkSession
    raw = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.lower(F.col(lang_col)).alias("_lang"),
            F.explode(F.split(F.col(text_col), _WS)).alias("_raw"),
        )
        .filter(F.col("_raw") != "")
    )
    a = raw.select("doc_id", F.lower("_raw").alias("term"))

    stop_rows = [
        (lg, w) for lg, ws in LANG_STOPWORDS.items() for w in sorted(ws)
    ]
    stop_df = local_frame(spark, stop_rows, "_lang string, term string")
    b = (
        raw.filter(~F.col("_raw").rlike(_UNCHANGED_RE))
        .select(
            "doc_id", "_lang",
            F.explode(
                F.split(F.regexp_replace("_raw", _CAMEL_RE_SQL, " "),
                        _SEP_RE_SQL)
            ).alias("_s"),
        )
        .filter(F.col("_s") != "")
        .select("doc_id", "_lang", F.lower("_s").alias("term"))
        .join(F.broadcast(stop_df), ["_lang", "term"], "left_anti")
        .select("doc_id", "term")
    )
    c = (
        raw.filter(F.col("_raw").rlike(_PATHLIKE_RE_SQL))
        .select("doc_id", F.split(F.lower("_raw"), "/").alias("_segs"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_segs") - 1),
                    lambda i: F.concat(
                        F.element_at("_segs", i), F.lit("/"),
                        F.element_at("_segs", i + 1),
                    ),
                )
            ).alias("term"),
        )
    )
    return a.unionByName(b).unionByName(c)


# --------------------------------------------------------------------------
# 3. Query-side analysis (reference T4/T5, serve.rs:270-299,362-405).
# --------------------------------------------------------------------------

# The reference's hardcoded tech-term boost set (serve.rs:362-369). Terms
# in this set get a 2.5x score multiplier. Matched CASE-SENSITIVELY on the
# raw whitespace token, exactly as `q.split_whitespace()` + HashSet lookup
# does in serve.rs:388-395 (the set itself is all-lowercase).
BOOST_TERMS: frozenset[str] = frozenset({
    "angular", "drupal", "haxe", "qunitjs", "qunit", "babeljs", "babel",
    "backbonejs", "backbone", "bazel", "bluebirdjs", "bluebird", "bower",
    "cfdocs", "cfml", "clojure", "codecept", "codeception", "codeigniter",
    "coffeescript", "cran.r-project", "r", "crystal", "dart", "mysql",
    "apple", "mozilla", "mdn", "wordpress", "deno", "astro", "aws",
    "amazon", "brew", "chef", "cypress", "influxdata", "influxdb",
    "julialang", "julia", "microsoft", "npmjs", "npm", "oracle",
    "phalconphp", "phalcon", "python", "rust", "ruby", "saltproject",
    "salt", "wagtail", "doctrine", "embarcadero", "eigen", "elixir", "elm",
    "cpp", "c++", "enzymejs", "enzyme", "erights", "erlang", "esbuild",
    "eslint", "expressjs", "express", "fastapi", "flow", "fortran90",
    "fortran", "fsharp", "bootstrap", "composer", "git", "gnu", "cobol",
    "go", "golang", "handlebarsjs", "handlebars", "haskell", "hex",
    "hexdocs", "httpd", "apache", "i3wm", "i3", "jasmine", "javascript",
    "jekyllrb", "jekyll", "jsdoc", "knockoutjs", "knockout", "kotlinlang",
    "kotlin", "laravel", "latexref", "latex", "lesscss", "less", "love2d",
    "lua", "man7", "linux", "mariadb", "mochajs", "mocha", "modernizr",
    "momentjs", "moment", "mongoosejs", "mongoose", "vue", "vuex", "nginx",
    "nim", "nixos", "node", "nodejs", "ocaml", "odin", "openjdk",
    "opentsdb", "perl", "php", "playwright", "pointclouds", "postgresql",
    "prettier", "pugjs", "pug", "pydata", "pytorch", "qt", "r-project",
    "react-bootstrap", "react", "reactivex", "rxjs", "reactjs",
    "reactnative", "reactrouter", "readthedocs", "redis", "redux.js",
    "redux", "requirejs", "rethinkdb", "rust-lang", "sass", "scala",
    "scikit-image", "scikit-learn", "scikit", "spring", "sqlite",
    "ponylang", "pony", "superuser", "svelte", "swift", "tailwindcss",
    "tailwind", "symfony", "twig", "typescript", "underscorejs",
    "underscore", "vitejs", "vite", "vitest", "vuejs", "vueuse",
    "webpack.js", "webpack", "arch", "chaijs", "chai", "electronjs",
    "electron", "hammerspoon", "khronos", "pygame", "rubydoc",
    "statsmodels", "tcl", "terraform", "vagrantup", "vagrant",
    "yiiframework", "yii", "yarnpkg", "yarn",
})

TERM_BOOST = 2.5


def escape_query_term(term: str) -> str:
    """Reference T4 (serve.rs:270-299): escape ``\\ " '`` and quote.

    We never feed a query-grammar string to a parser — every whitespace
    token becomes exactly one term — so this exists for API parity and
    tests; it is not in the query path.
    """
    escaped = "".join(("\\" + c) if c in ('\\', '"', "'") else c for c in term)
    return f'"{escaped}"'


def analyze_query(q: str) -> list[tuple[str, float]]:
    """Raw query string -> [(term, boost)].

    Mirrors serve.rs:388-405 + the parser's analyzer pass: split on
    whitespace; boost 2.5 if the RAW token is in BOOST_TERMS; then the
    term itself is lowercased (white-lowercaser). Each whitespace token
    becomes exactly one required term (conjunction-by-default,
    serve.rs:343-344; quoting makes each token a 1-term phrase == exact
    term match). Duplicate tokens stay duplicated — each is a query
    clause that contributes its own score, as in the reference parser.
    """
    out: list[tuple[str, float]] = []
    for raw in q.split():
        boost = TERM_BOOST if raw in BOOST_TERMS else 1.0
        out.append((raw.lower(), boost))
    return out


def parse_query_lenient(q: str) -> list[tuple[str, object]]:
    """Lenient user-query grammar (serve.rs:407-409
    ``parse_query_lenient``: bad clauses are DROPPED, never an error),
    extended with the quoted-phrase syntax the positional index
    supports:

    - a quoted span becomes ONE phrase clause, tokens white-lowercased;
    - bare tokens become term clauses with the T5 boost rule
      (serve.rs:388-405 — boosts match the RAW whitespace token);
    - a one-token phrase folds into an exact term clause at boost 1.0
      (the reference quotes every token for exactly this equivalence,
      serve.rs:270-299);
    - empty quotes and text after a dangling quote are dropped.

    Returns ``[("term", (term, boost)) | ("phrase", [terms])]``;
    clauses are conjunctive, like the reference's
    ``set_conjunction_by_default`` (serve.rs:343-344).
    """
    clauses: list[tuple[str, object]] = []
    parts = q.split('"')
    for i, part in enumerate(parts):
        inside = i % 2 == 1
        if inside and i == len(parts) - 1:
            continue  # unterminated quote -> bad clause, dropped
        if inside:
            terms = [t.lower() for t in part.split()]
            if not terms:
                continue  # empty phrase dropped
            if len(terms) == 1:
                clauses.append(("term", (terms[0], 1.0)))
            else:
                clauses.append(("phrase", terms))
        else:
            for raw in part.split():
                boost = TERM_BOOST if raw in BOOST_TERMS else 1.0
                clauses.append(("term", (raw.lower(), boost)))
    return clauses


def parse_query_slop(q: str) -> list[tuple[str, object]]:
    """parse_query_lenient extended with the Lucene/Tantivy proximity
    suffix ``"..."~N``: a quoted phrase immediately followed (no
    whitespace) by ``~`` and a non-negative integer becomes a
    ``("slop", (terms, n))`` clause. Everything else is byte-for-byte
    the lenient grammar (this function re-walks the same split; it
    never calls into parse_query_lenient so that function stays
    untouched for the window rule).

    Lenient-grammar edge rules, all dropped-not-errored:
    - ``~0`` folds to an exact phrase clause (slop=0 ≡ exact);
    - a ``~N`` after a ONE-token quote is dropped (the quote already
      folded to a term clause; proximity needs >= 2 terms);
    - a ``~`` not followed by digits (or glued to trailing junk like
      ``~2x``) is a bad clause -> that token is dropped, the phrase
      stays exact.
    """
    import re as _re

    clauses: list[tuple[str, object]] = []
    parts = q.split('"')
    for i, part in enumerate(parts):
        inside = i % 2 == 1
        if inside and i == len(parts) - 1:
            continue  # unterminated quote -> bad clause, dropped
        if inside:
            terms = [t.lower() for t in part.split()]
            if not terms:
                continue
            if len(terms) == 1:
                clauses.append(("term", (terms[0], 1.0)))
            else:
                clauses.append(("phrase", terms))
        else:
            chunk = part
            if i >= 2 and chunk.startswith("~"):
                # glued to the closing quote: a proximity suffix
                m = _re.match(r"~(\d+)(?=\s|$)", chunk)
                if m and clauses and clauses[-1][0] == "phrase":
                    n = int(m.group(1))
                    if n > 0:
                        clauses[-1] = ("slop", (clauses[-1][1], n))
                    chunk = chunk[m.end():]
                else:
                    # bad suffix, or the quote folded to a term /
                    # was dropped: drop the glued ~token, keep rest
                    rest = chunk.split(None, 1)
                    chunk = rest[1] if len(rest) > 1 else ""
            for raw in chunk.split():
                boost = TERM_BOOST if raw in BOOST_TERMS else 1.0
                clauses.append(("term", (raw.lower(), boost)))
    return clauses


__all__: Iterable[str] = [
    "white_lower_tokens",
    "white_lower_py",
    "analyze_code",
    "code_token_stream",
    "BOOST_TERMS",
    "TERM_BOOST",
    "escape_query_term",
    "analyze_query",
    "parse_query_lenient",
    "parse_query_slop",
    "LANG_STOPWORDS",
]
