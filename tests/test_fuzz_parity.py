"""Adversarial-corpus oracle parity (round-13).

The shipped fixtures are CLEAN — no empty documents, no whitespace-only
text, dense shared vocabulary (FIXTURES.md) — so the per-SF parity sweeps
cannot exercise degenerate-document paths. This suite runs every
documents-only oracle-backed query on a hand-built nasty corpus and
compares Spark against the registered DuckDB oracle, exactly like the
grading driver (sorted stringified rows).

What this catches (all found by this harness when first run):
- ANSI DIVIDE_BY_ZERO job aborts on zero-length / zero-token documents
  where the oracle's x/0 is NULL (quality ratios, A-ES sample keys);
- Spark ``sequence(1, 0)`` descending through 0 into ``slice(start=0)``
  where the oracle's ``generate_series(1, 0)`` is empty (shingle and
  rolling-gram builders);
- DuckDB ROUND preserving -0.0 where Spark returns +0.0 (single-
  distinct-token entropy) — the CLAUDE.md -0.0 rule.

At 100 TB an empty or pathological document is a certainty; an operator
that aborts the whole job on one is not scale-ready regardless of its
plan shape.
"""
from __future__ import annotations

import re

import duckdb
import pytest

from databricks_spark_sql_challenge1_spark.catalog import TABLES
from tools.parity_names import run

# One nasty property per doc; doc_id = list position.
ADVERSARIAL_DOCS = [
    # (text, lang, source)
    ("", "en", "src0"),                          # empty
    ("   ", "en", "src0"),                       # spaces only
    ("\t\n \t", "es", "src1"),                   # tabs/newlines only
    ("x", "en", "src0"),                         # single char
    ("word", "de", "src2"),                      # single word
    ("aaaa aaaa aa a aaaaa", "en", "src0"),      # overlapping repeats
    ("the the the the the the", "en", "src1"),   # one token repeated
    ("héllo wörld café naïve", "fr", "src2"),    # accents
    ("日本語 テスト 漢字 かな", "zh", "src3"),      # CJK
    ("emoji 🎉 test 🚀 done", "en", "src0"),      # emoji
    ("the quick brown fox jumps over the lazy dog", "en", "src1"),
    ("the quick brown fox jumps over the lazy dog", "en", "src2"),  # exact dup
    ("the quick brown fox leaps over the lazy dog", "en", "src0"),  # near dup
    ("a.b a*b (x) [y] {z} a|b a+b a?b", "en", "src3"),  # regex metachars
    ("it's \"quoted\" o'clock can't", "en", "src1"),    # quotes
    ("contact me at bob@example.com or 555-123-4567 now", "en", "src0"),
    ("alice@test.org wrote to carol@test.org twice", "en", "src2"),
    ("123 456 789 123 456", "en", "src3"),       # digits
    ("The THE the tHe THE", "en", "src0"),       # case variants
    ("!!! ??? ... ;;; :::", "en", "src1"),       # punctuation tokens
    ("w" * 300, "en", "src2"),                   # very long word
    (" ".join(f"tok{i % 17}" for i in range(200)), "en", "src3"),  # long doc
    ("  leading and trailing  ", "en", "src0"),  # outer whitespace
    ("mixed 123 ünïcode wörds and ascii too", "de", "src1"),
    ("the and of to a the and of to a", "en", "src2"),  # stopwords only
    ("zzz yyy xxx www vvv uuu", "en", "src3"),   # unique tokens
    # r15 unicode-case classes measured ALIGNED across engines (the
    # divergent classes — final-position Σ, İ, ß/ligatures under upper —
    # are pinned out of contract in
    # test_unicode_case_mapping_contract below):
    ("ΑΣΚΗΣΗ ελληνικά ΜΕΣΑΙΟ σίγμα", "en", "src0"),  # mid-word sigma only
    ("alpha\u00a0beta gamma\u00a0delta", "en", "src1"),  # NBSP not \s+ on either engine
    ("cafe\u0301 naive vs caf\u00e9 composed", "fr", "src2"),  # NFD vs NFC byte-level
    ("ＴＥＳＴ ｄａｔａ ＭＩＸ ascii", "en", "src3"),  # fullwidth forms
    ("ТЕСТ Данные ПРОВЕРКА слов", "en", "src0"),     # cyrillic case pairs
]

# Byte-level codec witnesses synthesize payloads from ASCII text (their
# fixture guard raises on non-ASCII by design); streaming queries stage
# micro-batch files; the roundtrip checksums are I/O-format tests. All are
# out of scope for a text-content fuzz.
SKIP_PREFIXES = ("multimodal_", "streaming_", "jsonl_", "orc_")

OTHER_TABLES = [t for t in TABLES if t != "documents"]


def _random_collision_docs(seed: int = 13, n_docs: int = 30) -> list:
    """Seeded random corpus over a TINY token alphabet — maximal shingle /
    band / merge-pair collision density, the combinatorial stress the
    hand-curated corpus cannot enumerate (greedy BPE merges over runs,
    SimHash band saturation, containment vs Jaccard asymmetry). Seeded
    stdlib Random = identical corpus on every run."""
    import random

    rng = random.Random(seed)
    alphabet = ["a", "b", "ab", "aa", "ba", "aab"]
    langs = ["en", "es", "de", "fr", "zh"]
    docs = []
    for _ in range(n_docs):
        n_toks = rng.choice([0, 1, 2, 3, 5, 8, 20, 60])
        text = " ".join(rng.choice(alphabet) for _ in range(n_toks))
        docs.append((text, rng.choice(langs), f"src{rng.randrange(4)}"))
    return docs


def _write_docs(path: str, docs: list) -> None:
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    for i, (text, lang, source) in enumerate(docs):
        con.execute(
            "INSERT INTO docs VALUES (?, ?, ?, ?, ?)",
            [i, text, lang, source, len(text)],
        )
    con.execute(f"COPY docs TO '{path}/documents.parquet' (FORMAT PARQUET)")
    con.close()


@pytest.fixture(
    scope="module",
    params=["adversarial", "random-collision"],
    ids=["adversarial", "random-collision"],
)
def fuzz_dir(request, tmp_path_factory):
    """Scratch sf_dir holding only documents.parquet — parametrized over
    the hand-curated adversarial corpus and the seeded collision corpus."""
    d = tmp_path_factory.mktemp(f"fuzzdocs_{request.param}")
    docs = (
        ADVERSARIAL_DOCS
        if request.param == "adversarial"
        else _random_collision_docs()
    )
    _write_docs(str(d), docs)
    return str(d)


def _documents_only_names():
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    names = []
    for n, sql in sorted(oracles.items()):
        if n.startswith(SKIP_PREFIXES):
            continue
        low = sql.lower()
        if "documents" not in low:
            continue
        if any(re.search(rf"\b{t}\b", low) for t in OTHER_TABLES):
            continue
        names.append(n)
    return names


def test_fuzz_corpus_covers_the_documents_only_surface():
    """Pin the fuzzed-name count so a new documents-only query silently
    skipping the fuzz (or a filter regression) is a conscious decision."""
    # 43 after the r15 consolidation (dedup_ngram_jaccard +
    # dedup_ngram_containment → the single dedup_ngram_methods surface;
    # both legs still run, inside the consolidated query); 42 after the
    # r16 one (the md5 and rolling fingerprint legs run inside
    # doc_fingerprint_methods, same both-legs rule)
    assert len(_documents_only_names()) >= 42


def test_adversarial_corpus_oracle_parity(spark, fuzz_dir):
    """Every documents-only query must agree with its oracle on the nasty
    corpus — same sorted-stringified-row compare the grading driver uses."""
    outcomes = run(spark, _documents_only_names(), fuzz_dir)
    bad = [str(oc) for oc in outcomes if oc.status != "match"]
    assert bad == []


def test_unicode_case_mapping_contract(spark):
    """Why the r15 unicode corpus additions stop at the ALIGNED classes:
    ``lower()``/``upper()`` follow different Unicode tailorings in the two
    engines, measured and pinned here so an engine upgrade that moves
    them fails with a clear signal instead of a fuzz-parity hash diff.
    Text containing these codepoint classes is OUT OF CONTRACT for the
    oracle comparison (the Spark answer follows the full Unicode
    SpecialCasing rules; DuckDB's utf8proc maps per-codepoint — neither
    is wrong, they simply differ):

    - final-position capital sigma: Spark lower applies the contextual
      final-form rule (Σ→ς at word end), DuckDB maps Σ→σ everywhere;
    - dotted capital İ (U+0130): Spark lower emits the spec's 1:2
      mapping i+U+0307 (combining dot), DuckDB emits plain i;
    - ß under upper: Spark applies the 1:2 mapping ß→SS, DuckDB emits
      the capital sharp-S U+1E9E (no current operator uses upper(); the
      pin exists for the day one does);
    - ligatures under upper: Spark decomposes (ﬁ→FI), DuckDB leaves the
      ligature unchanged.

    Mid-word Σ, NBSP tokenization, NFD/NFC byte-level hashing, fullwidth
    forms and Cyrillic case pairs are measured ALIGNED and live in
    ADVERSARIAL_DOCS above, fuzzing every documents query.
    """
    import duckdb

    con = duckdb.connect()

    def both(expr_spark, expr_duck, val):
        s = spark.sql(
            f"SELECT {expr_spark} AS r FROM VALUES ('{val}') t(x)"
        ).first()["r"]
        d = con.execute(f"SELECT {expr_duck}", [val]).fetchone()[0]
        return s, d

    s, d = both("lower(x)", "lower(?)", "ΟΔΥΣΣΕΥΣ")
    assert s == "οδυσσευς" and d == "οδυσσευσ", (s, d)  # final ς vs σ
    s, d = both("lower(x)", "lower(?)", "İSTANBUL")
    assert s == "i̇stanbul" and d == "istanbul", (s, d)
    s, d = both("upper(x)", "upper(?)", "straße")
    assert s == "STRASSE" and d == "STRAẞE", (s, d)
    s, d = both("upper(x)", "upper(?)", "ﬁle")
    assert s == "FILE" and d == "ﬁLE", (s, d)
    con.close()


def test_integer_average_boundary_contract(spark, tmp_path):
    """r18 integer-average boundary campaign (found by the
    triple-composed probe on a random warehouse, then scanned to this
    minimal witness): ``ROUND(AVG(int), s)`` diverges cross-engine when
    the exact average terminates one digit past the round scale ending
    in 5 AND is not binary-representable — a 40-doc group with char-sum
    41 averages exactly 1.025, whose nearest double sits BELOW the
    boundary: DuckDB (exact binary) rounded 1.02 while Spark
    (shortest-repr HALF_UP) rounded 1.03. Dense at scale 2 (any group
    size ≡ 0 mod 40 reaches it); the sibling scale-4 case is a group of
    800 ints summing to -2599 (avg -3.24875, pinned in
    test_fuzz_parity_relational).

    The fix is the integer-grain formulation on BOTH engines —
    ``ROUND(SUM(int) * 10^s / COUNT) / 10^s`` — safe because the
    operands are identical doubles (exact integer numerator, one
    division) and scale-0 boundaries (N.5) are all binary-exact, so
    both engines always see the same side. Pinned end-to-end on
    lang_stats with the witness corpus."""
    d = str(tmp_path)
    _write_docs(d, [("", "en", "src0")] * 39 + [("x" * 41, "en", "src0")])
    (oc,) = run(spark, ["lang_stats"], d)
    assert oc.status == "match", str(oc)
    srows = sorted(oc.rows)
    # the boundary really is exercised: avg_chars is the 1.025 case
    assert srows[0][3] == "1.03", srows


def test_prerounded_score_boundary_contract(spark, tmp_path):
    """Sibling of test_integer_average_boundary_contract for PRE-ROUNDED
    scores: ~5% of the 6dp quality-score grid's X.XXXX50 members round
    apart cross-engine at scale 4 (measured: 0.19315 → Spark 0.1932 vs
    DuckDB 0.1931), so docs_quality_tiers' MIN/MAX/AVG — and its
    interpolated quartile cutoffs, whose midpoint halves land exactly ON
    the scale-6 boundary — moved to integer micro-units end-to-end.
    This corpus manufactures a doc whose score is exactly the measured
    divergent member 0.193150 (50 tokens → 0.5 factor; 10000 chars with
    6137 punct → 0.3863 factor)."""
    words = ["a" * 77] * 49 + ["a" * 41]  # 50 tokens, 3814 alnum chars
    text = " ".join(words) + "!" * 6137   # + 49 spaces = 10000 chars
    assert len(text) == 10000
    d = str(tmp_path)
    _write_docs(d, [(text, "en", "src0"),
                    ("hello world clean text", "en", "src1"),
                    ("", "en", "src2")])
    (oc,) = run(spark, ["docs_quality_tiers"], d)
    assert oc.status == "match", str(oc)
    srows = oc.rows
    # the boundary member is really present, and both engines now give
    # the scale-0 answer: raw*1e4 = 1931.4999999999998 (the identical
    # IEEE double on both sides, BELOW the half) → micro 1931 → 0.1931
    # (Spark's old per-row ROUND(raw, 4) path said 0.1932 here)
    assert any("0.1931" in r for row in srows for r in row), srows
