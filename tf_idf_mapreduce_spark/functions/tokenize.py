"""The reference tokenizer as a pure Column-expression pipeline.

Reimplements ``WordCount.MyMapper.standardize_token`` + the outer/inner
``StringTokenizer`` loops (WordCount.java:61-101) with built-in JVM-regex
expressions only — no Python UDF — so the whole chain stays inside
whole-stage codegen and Catalyst can push/prune around it. Spark executes
regexes with ``java.util.regex`` — the same dialect the reference uses, so
semantics are byte-for-byte compatible (``\\pP`` class, entity-decode
ordering, empty-token behavior).

Order of operations (must match the reference exactly):

1. outer whitespace split (StringTokenizer, WordCount.java:90-92)
2. digit-word drop: any token containing a digit becomes empty
   (``replaceAll(".*\\d.*", "")``, WordCount.java:63)
3. HTML entity decode, literal replaces in this exact order:
   ``&amp; &lt; &gt; &quot; &apos; &nbsp;`` (WordCount.java:66-71) —
   ordering matters (``&amp;lt;`` → ``&lt;``) and ``&nbsp;`` injects a space
4. HTML tag strip ``<[^>]+>`` — after decode, so ``&lt;b&gt;`` vanishes too
   (WordCount.java:74)
5. leading/trailing punctuation trim ``[\\pP$+\\-=<>]+`` (WordCount.java:77-78);
   interior punctuation survives (``don't``, ``u.s.a``, ``re-do``)
6. lowercase (WordCount.java:81)
7. inner whitespace re-split; empty strings yield no words
   (WordCount.java:83-84,94-99)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Literal entity replacements, in the reference's exact order
#: (WordCount.java:66-71).
ENTITY_REPLACEMENTS: tuple[tuple[str, str], ...] = (
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&nbsp;", " "),
)

#: Java ``[\pP\$\+\-\=\<\>]`` (WordCount.java:77-78): Unicode punctuation
#: category plus the four math-symbol characters not in \p{P}.
PUNCT_CLASS = r"[\p{P}$+\-=<>]"

#: StringTokenizer's default delimiter set — exactly " \t\n\r\f"
#: (no vertical tab, unlike regex \s).
_WS = "[ \t\n\r\f]+"


def standardize_token(tok: Column) -> Column:
    """The per-token normalization chain (WordCount.java:61-85).

    Returns a string that may contain internal whitespace (via ``&nbsp;``)
    and must be re-split by the caller; may be empty (→ no words).
    """
    # digit-word drop (WordCount.java:63): cheaper equivalent of
    # replaceAll(".*\d.*", "") — same result, no regex backtracking
    t = F.when(tok.rlike(r"\d"), F.lit("")).otherwise(tok)
    for entity, char in ENTITY_REPLACEMENTS:
        t = F.replace(t, F.lit(entity), F.lit(char))
    t = F.regexp_replace(t, "<[^>]+>", "")
    t = F.regexp_replace(t, f"^{PUNCT_CLASS}+", "")
    t = F.regexp_replace(t, f"{PUNCT_CLASS}+$", "")
    return F.lower(t)


def tokenize_text(text: Column) -> Column:
    """text → array<string> of normalized words (order preserved).

    The full mapper loop as one expression tree: outer split → per-token
    standardize → inner split → drop empties → flatten. Array-typed so a
    caller can count/``explode``/shingle without re-tokenizing.

    Performance vs the row formulation (``tokenize``), measured at sf0.1
    on local[32], noop sink, median of 3 steady-state runs: row 0.51s,
    array 0.52s — parity. (An earlier build measured ~3x against this
    variant; the higher-order ``transform``/``filter`` lambdas no longer
    dominate once the regex chain inside ``standardize_token`` is the
    bottleneck.) No production operator consumes this variant — the hot
    paths use ``tokenize`` (TF-IDF) and ``hashing.norm_words``/
    ``shingle_rows`` (dedup) — it exists as the array-typed public API
    and as the equivalence witness the tokenizer property tests compare
    against.
    """
    outer = F.filter(F.split(text, _WS), lambda t: t != "")
    nested = F.transform(
        outer,
        lambda t: F.filter(F.split(standardize_token(t), _WS), lambda w: w != ""),
    )
    return F.flatten(nested)


def tokenize(df: DataFrame, text_col: str = "text", doc_col: str = "doc") -> DataFrame:
    """Corpus (doc, text) → one row per word occurrence: ``(doc, word)``.

    The reference emits ``word|filename → 1`` (WordCount.java:97-98); real
    columns replace the packed key (SURVEY.md §1 hazard: tokens containing
    ``|`` corrupt packed keys — they can't corrupt a real column).

    Row-level formulation — explode the outer split, run the normalization
    chain on a string column, explode the inner split — identical semantics
    to ``tokenize_text``, with every step inside whole-stage codegen.
    Measured at parity with the array formulation at sf0.1 (0.51s vs
    0.52s steady-state; see ``tokenize_text``). Hot path for the TF-IDF
    pipeline — kept row-level because exploded rows feed the downstream
    groupBy directly, with no array materialization per doc.
    """
    # no same-name alias: the optimizer drops such an alias in some
    # branches of a plan and keeps it in others (below a Union), and the
    # branches then no longer share their exchanges
    doc = F.col(doc_col) if doc_col == "doc" else F.col(doc_col).alias("doc")
    outer = df.select(
        doc,
        F.explode(F.split(F.col(text_col), _WS)).alias("tok"),
    ).where(F.col("tok") != "")
    std = outer.select("doc", standardize_token(F.col("tok")).alias("norm"))
    return std.select(
        "doc", F.explode(F.split(F.col("norm"), _WS)).alias("word")
    ).where(F.col("word") != "")
