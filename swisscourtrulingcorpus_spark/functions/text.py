"""Text-analysis column functions (SURVEY.md §2.7 + LLM-pipeline ops).

Everything here is built-in-expression-only (whole-stage codegen, oracle
reproducible).  Every whitespace split goes through
``functions/hashing.py::words_sql`` (DuckDB twin:
``plans/text_queries.py::_words_duck``), and a regex class that
excludes whitespace spells it ``hashing.WS_CHARS``.  The reference's
``clean_text`` (`scrc/utils/main_utils.py:113-139`) lives in
``extraction.cleaning`` as a pandas_udf (no built-in NFKC in Spark).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import (
    WS_CHARS,
    sql_str,
    words_sql,
)

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic (E1 analogue: the reference uses a fastText model,
# `scrc/preprocessors/language_identifier.py:18-58`; at 100 TB a
# stopword/ngram heuristic is the cheap JVM-side first pass, with the
# model-based pass as a pandas_udf escalation for low-margin docs).
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht", "mit", "von", "wird"],
    "fr": ["le", "la", "les", "et", "ne", "pas", "avec", "est"],
    "it": ["il", "la", "che", "e", "non", "con", "per", "sono"],
    "en": ["the", "and", "not", "with", "from", "that", "this", "is"],
    "es": ["el", "la", "que", "y", "no", "con", "por", "una"],
}


def token_count_ws_sql(col_expr: str) -> str:
    """SQL text of the whitespace token count (num_tokens analogue,
    SURVEY.md §1.2): the length of :func:`words_sql`."""
    return f"size({words_sql(col_expr)})"


def token_count_ws(col: str) -> Column:
    """Whitespace token count of column ``col`` (body:
    :func:`token_count_ws_sql`)."""
    return F.expr(token_count_ws_sql(f"`{col}`"))


#: Punctuation: neither an ASCII letter, a digit nor whitespace.
PUNCT_CLASS = f"[^A-Za-z0-9{WS_CHARS}]"

# BPE-ish pre-tokenizer: words | single digits | single punctuation —
# the shape GPT-2-style byte-pair pre-tokenization produces, as a
# portable regex (Java + RE2 compatible for oracle parity).
BPE_REGEX = f"[A-Za-z]+|[0-9]|{PUNCT_CLASS}"


def token_count_bpe(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_REGEX), 0))


def quality_features_sql(col_expr: str) -> dict[str, str]:
    """Document-quality scoring features (length / punctuation ratio /
    stopword ratio / mean word length) — the standard pre-training
    corpus filters (C4/Gopher-style), as SQL text per output column.
    int/int divisions only — identical doubles in Spark and DuckDB (no
    round(): the engines' double rounding differs; raw bits match)."""
    words = words_sql(col_expr)
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop = ", ".join(sql_str(s) for s in all_stop)
    n_chars = f"length({col_expr})"
    n_words = f"size({words})"
    n_punct = f"size(regexp_extract_all({col_expr}, {sql_str(PUNCT_CLASS)}, 0))"
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "punct_ratio": f"{n_punct} / greatest({n_chars}, 1)",
        "stopword_ratio": (
            f"size(filter({words}, w -> w IN ({stop}))) / greatest({n_words}, 1)"
        ),
        "mean_word_len": f"length(array_join({words}, '')) / greatest({n_words}, 1)",
    }


def language_id_score_sql(col_expr: str) -> str:
    """SQL text of :func:`language_id_score` over an expression string:
    ONE ``aggregate`` over :func:`words_sql` of the text.  The
    accumulator is a struct of per-language stopword hit counts, and
    the finish lambda takes the argmax (zero hits or a tie -> 'und').
    A fold, not one hit expression per language: higher-order functions
    get no common-subexpression elimination, so each re-spliced split
    re-tokenized the row.  A NULL text folds to NULL -> 'und'."""
    langs = sorted(STOPWORDS)
    hit = {
        lang: f"CASE WHEN w IN ({', '.join(sql_str(s) for s in STOPWORDS[lang])})"
        " THEN 1 ELSE 0 END"
        for lang in langs
    }
    zero = ", ".join(f"'{lang}', 0" for lang in langs)
    merge = ", ".join(f"'{lang}', acc.{lang} + {hit[lang]}" for lang in langs)
    max_hits = "greatest(" + ", ".join(f"acc.{lang}" for lang in langs) + ")"
    n_at_max = " + ".join(
        f"CASE WHEN acc.{lang} = {max_hits} THEN 1 ELSE 0 END" for lang in langs
    )
    pick = " ".join(
        f"WHEN acc.{lang} = {max_hits} THEN {sql_str(lang)}" for lang in langs
    )
    return (
        f"coalesce(aggregate({words_sql(col_expr)}, "
        f"named_struct({zero}), (acc, w) -> named_struct({merge}), "
        f"acc -> CASE WHEN {max_hits} = 0 OR ({n_at_max}) > 1 THEN 'und' "
        f"{pick} ELSE 'und' END), 'und')"
    )


def language_id_score(col: str) -> Column:
    """Heuristic language ID: argmax over per-language stopword hit
    counts; zero-hit or tied docs -> 'und' (undetermined), mirroring the
    reference's language_id = -1 unknown state (`language_identifier.py:24`).

    DECISION (r03, replacing the r02 'weak' flag): the reference uses a
    fastText lid.176 model file; neither the library nor the model is
    available in this environment, so the stopword heuristic is the
    final implementation, with accuracy pinned by a multilingual test
    over realistic court-register sentences
    (`tests/test_spider_configs.py::test_language_id_multilingual_accuracy`).
    A fastText-backed column could drop in behind this same signature
    (text column -> language code column) without touching any caller.

    Deliberately an explicit greatest + CASE chain (not a struct sort)
    so the SQL oracle is a literal transliteration with identical
    tie-break semantics: first language in alphabetical order wins the
    argmax, but a tie for the max yields 'und'.

    Body: :func:`language_id_score_sql` — parsed SQL text is one py4j
    call per construction (r12 session 2).
    """
    return F.expr(language_id_score_sql(f"`{col}`"))


# ---------------------------------------------------------------------------
# IAA text-similarity scores (reference `scrc/annotation/
# judgment_explainability/analysis/utils/scores.py`: ROUGE via
# rouge_scorer, BLEU via nltk.sentence_bleu — neither library exists in
# this environment, and neither is needed: both scores are counting
# arithmetic over token n-grams, expressed here as pure array
# expressions (higher-order functions, JVM-side, no UDF).
#
# Annotation spans are short (tens of tokens), so the O(|distinct
# n-grams| * |tokens|) aggregate-fold for clipped counts is cheap; for
# document-scale inputs prefer the explode→groupBy n-gram counters in
# `plans/text_queries.py` (A6), which shuffle instead of folding.
# ---------------------------------------------------------------------------

def _ngrams(tokens: Column, n: int) -> Column:
    """Array of n-gram strings (tokens joined with U+0001, a separator
    that cannot appear in whitespace-tokenized text) from a token-array
    column; empty when the array has < n tokens."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.array_join(F.slice(tokens, i, n), "\u0001"),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _clipped_overlap(cand_ngrams: Column, ref_ngrams: Column) -> Column:
    """sum over distinct shared n-grams of min(count_cand, count_ref) —
    the clipped-count overlap both ROUGE and BLEU's modified precision
    are built on."""
    shared = F.array_distinct(F.array_intersect(cand_ngrams, ref_ngrams))
    return F.aggregate(
        shared,
        F.lit(0),
        lambda acc, g: acc
        + F.least(
            F.size(F.filter(cand_ngrams, lambda x: x == g)),
            F.size(F.filter(ref_ngrams, lambda x: x == g)),
        ),
    )


def rouge_n_scores(
    candidate: Column | str, reference: Column | str, n: int = 1
) -> dict[str, Column]:
    """ROUGE-N precision/recall/F1 between two token-array columns
    (clipped n-gram counts; 0.0 on empty sides, mirroring the
    reference's NaN->0 fill in `scores.py`)."""
    cand = F.col(candidate) if isinstance(candidate, str) else candidate
    ref = F.col(reference) if isinstance(reference, str) else reference
    cg, rg = _ngrams(cand, n), _ngrams(ref, n)
    overlap = _clipped_overlap(cg, rg).cast("double")
    p = F.when(F.size(cg) > 0, overlap / F.size(cg)).otherwise(F.lit(0.0))
    r = F.when(F.size(rg) > 0, overlap / F.size(rg)).otherwise(F.lit(0.0))
    f1 = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
    return {"precision": p, "recall": r, "f1": f1}


def bleu_score(
    candidate: Column | str, reference: Column | str, max_n: int = 4
) -> Column:
    """Sentence BLEU (uniform 1..max_n weights, no smoothing — nltk's
    `sentence_bleu` defaults as used in `scores.py`): geometric mean of
    clipped n-gram precisions times the brevity penalty
    min(1, exp(1 - |ref|/|cand|)).  Any zero precision zeroes the
    whole score, as in unsmoothed BLEU."""
    cand = F.col(candidate) if isinstance(candidate, str) else candidate
    ref = F.col(reference) if isinstance(reference, str) else reference
    log_sum = F.lit(0.0)
    any_zero = F.lit(False)
    for n in range(1, max_n + 1):
        cg, rg = _ngrams(cand, n), _ngrams(ref, n)
        overlap = _clipped_overlap(cg, rg).cast("double")
        p_n = F.when(F.size(cg) > 0, overlap / F.size(cg)).otherwise(F.lit(0.0))
        any_zero = any_zero | (p_n == 0)
        log_sum = log_sum + F.when(p_n > 0, F.log(p_n)).otherwise(F.lit(0.0))
    geo = F.exp(log_sum / F.lit(float(max_n)))
    bp = F.when(F.size(cand) >= F.size(ref), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - F.size(ref).cast("double") / F.size(cand))
    )
    return F.when(
        any_zero | (F.size(cand) == 0) | (F.size(ref) == 0), F.lit(0.0)
    ).otherwise(bp * geo)


# ---------------------------------------------------------------------------
# E11 lemma-counter fidelity: rule-based suffix-stripping lemmatizer
# ---------------------------------------------------------------------------
#
# The reference counts CASEFOLDED SPACY LEMMAS with POS exclusions
# {NUM, PUNCT, SYM, X} and an alpha filter
# (`scrc/preprocessors/abstract_preprocessor.py:387-410`).  spaCy is not
# in this container and a statistical tagger is not reproducible across
# engines, so the approximation is (a) alpha-only lowercase tokens
# (which already excludes NUM/PUNCT/SYM exactly as isalpha() does),
# (b) a function-word exclusion list standing in for the closed-class
# POS filter, and (c) ORDERED suffix-stripping rules per language.
# Rules are DATA (suffix, replacement, min-remaining-stem) and compile
# to one CASE expression string valid in BOTH Spark SQL and DuckDB —
# the oracle runs the identical logic, so the gate verifies the
# pipeline (tokenize -> exclude -> lemmatize -> count), not a tagger.
# Deviation from spacy lemma_ fidelity is documented in COVERAGE.md.

LEMMA_SUFFIX_RULES: dict[str, list[tuple[str, str, int]]] = {
    # German: plural/derivational endings; -ungen/-heiten/-keiten keep
    # their singular suffix; -den/-gen plurals of weak -e nouns keep
    # the e (beschwerden/gemeinden/unterlagen/klagen — r05 fidelity
    # measurement); plain declension endings strip
    "de": [
        ("ungen", "ung", 3),
        ("heiten", "heit", 3),
        ("keiten", "keit", 3),
        ("innen", "in", 3),
        # umlaut plural -äge -> -ag (anträge/beiträge/verträge); the
        # verb-noun family -fahren is invariant (verfahren/erfahren)
        # while -ahren alone would wrongly freeze jahren (r05 fidelity)
        ("äge", "ag", 2),
        # min_stem 0: the bare verb-noun "fahren" is itself invariant
        # (min_stem 1 made it fall through to the -en strip; r06 review)
        ("fahren", "fahren", 0),
        ("den", "de", 3),
        ("gen", "ge", 3),
        ("en", "", 3),
        ("er", "", 3),
        ("es", "", 3),
        ("e", "", 3),
        ("n", "", 3),
        ("s", "", 3),
    ],
    # French: plural -s/-x, -aux -> -al, derivational -ations/-ements;
    # -cours nouns (recours, secours, discours, concours) are invariant
    # — the identity rule fires before the generic -s strip ("jours"
    # does NOT match it and still strips to "jour")
    "fr": [
        # invariant identity rules use min_stem 0 so the bare word
        # matches too: "cours"/"frais"/"mois" are their own lemmas
        # (min_stem 1 sent "cours" -> "cour"; r06 review).  -rais does
        # NOT catch délais (ends -lais), which still strips.
        ("cours", "cours", 0),
        ("rais", "rais", 0),
        ("mois", "mois", 0),
        ("ations", "ation", 3),
        ("ements", "ement", 3),
        ("aux", "al", 2),
        ("x", "", 3),
        ("s", "", 3),
    ],
    # Italian: -ioni/-menti singulars first, then the -e-class plurals
    # the bare i -> o default gets wrong (r05 fidelity measurement:
    # sentenze/mesi/valori/termini/parti/giudici/uffici/principi/
    # cancellieri), then masculine plural -i -> -o
    "it": [
        ("ioni", "ione", 3),
        ("menti", "mento", 3),
        ("nze", "nza", 2),
        ("esi", "ese", 1),
        ("dici", "dice", 2),
        ("fici", "ficio", 2),
        ("cipi", "cipio", 2),
        ("ieri", "iere", 2),
        ("ori", "ore", 2),
        ("ini", "ine", 2),
        ("rti", "rte", 2),
        # feminine -esa-class plurals: spese/difese/imprese -> -esa;
        # kept narrower than a bare -ese rule, which would corrupt
        # -ese singulars like paese (r05 fidelity)
        ("pese", "pesa", 1),
        ("fese", "fesa", 1),
        ("rese", "resa", 1),
        ("i", "o", 3),
        ("e", "", 3),
    ],
}

# Closed-class function words (determiners, pronouns, prepositions,
# conjunctions, auxiliaries) — the POS-exclusion proxy.
LEMMA_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": (
        "der", "die", "das", "den", "dem", "des", "ein", "eine", "einer",
        "und", "oder", "nicht", "ist", "sind", "war", "wird", "werden",
        "mit", "von", "zu", "im", "in", "auf", "bei", "aus", "nach",
        "hat", "haben", "als", "auch", "sich", "er", "sie", "es",
    ),
    "fr": (
        "le", "la", "les", "un", "une", "des", "du", "de", "et", "ou",
        "est", "sont", "ne", "pas", "avec", "pour", "que", "qui",
        "dans", "sur", "par", "au", "aux", "il", "elle", "ce", "cette",
        "a", "ont",
    ),
    "it": (
        "il", "lo", "la", "i", "gli", "le", "un", "una", "di", "e",
        "o", "sono", "non", "con", "per", "che", "in", "su", "da",
        "al", "ai", "nel", "della", "ha", "hanno",
    ),
}

LEMMA_TOKEN_SPLIT = "[^a-zäöüßéèêëàâçîïôùûœ]+"


def _dual_dialect_lit(s: str, like: bool = False) -> str:
    """``s`` unchanged, for splicing inside a single-quoted literal of
    SQL text that both Spark and DuckDB parse.  No escape is portable
    (Spark treats a backslash as an escape, DuckDB does not; ``sql_str``
    is Spark-only), so a literal containing a quote or a backslash —
    or, inside a LIKE pattern (``like=True``), a ``%`` or ``_``
    wildcard — raises ``ValueError`` instead of changing the parse."""
    bad = "'\\%_" if like else "'\\"
    if any(c in s for c in bad):
        raise ValueError(
            f"literal {s!r} contains one of {bad!r} and cannot be spliced"
            " into dual-dialect SQL"
        )
    return s


def lemma_case_sql(token_expr: str, lang_expr: str) -> str:
    """One CASE expression applying the per-language suffix rules to an
    (already lowercase, alpha-only) token — the string is valid Spark
    SQL AND DuckDB SQL, so both engines run literally the same logic."""
    lang_branches = []
    for lang, rules in LEMMA_SUFFIX_RULES.items():
        arms = []
        for suffix, repl, min_stem in rules:
            cond = (
                f"{token_expr} LIKE '%{_dual_dialect_lit(suffix, like=True)}' "
                f"AND length({token_expr}) >= {len(suffix) + min_stem}"
            )
            val = (
                f"substr({token_expr}, 1, length({token_expr}) - {len(suffix)})"
                + (f" || '{_dual_dialect_lit(repl)}'" if repl else "")
            )
            arms.append(f"WHEN {cond} THEN {val}")
        inner = "CASE " + " ".join(arms) + f" ELSE {token_expr} END"
        lang_branches.append(
            f"WHEN {lang_expr} = '{_dual_dialect_lit(lang)}' THEN {inner}"
        )
    return "CASE " + " ".join(lang_branches) + f" ELSE {token_expr} END"


def lemma_stopword_sql(token_expr: str, lang_expr: str) -> str:
    """TRUE when the token is a function word of the row's language —
    same dual-dialect property as ``lemma_case_sql``."""
    branches = []
    for lang, words in LEMMA_STOPWORDS.items():
        lst = ", ".join(f"'{_dual_dialect_lit(w)}'" for w in words)
        branches.append(
            f"WHEN {lang_expr} = '{_dual_dialect_lit(lang)}' "
            f"THEN {token_expr} IN ({lst})"
        )
    return "CASE " + " ".join(branches) + " ELSE FALSE END"


#: German common-noun derivational suffixes for the POS proxy's
#: capitalized-word disambiguation: German capitalizes EVERY noun, so
#: "capitalized ⇒ PROPN" (right for fr/it) systematically misreads
#: German common nouns (Beschwerde, Bundesgericht) as proper nouns —
#: the one sub-0.95 fidelity class in r05-r08.  A word carrying one of
#: these noun-forming endings is overwhelmingly a common noun;
#: toponyms/surnames (Zürich, Meyer) carry none of them.
DE_NOUN_SUFFIXES = (
    "ung", "heit", "keit", "schaft", "tum", "nis", "erei",
    "chen", "lein", "icht", "erde",
)


def de_noun_suffix_sql(token_expr: str, lang_expr: str) -> str:
    """TRUE when the row is German and the token ends with a common-
    noun derivational suffix (`DE_NOUN_SUFFIXES`) — dual-dialect
    (LIKE is identical in Spark SQL and DuckDB), used by the POS
    proxy to keep capitalized German common nouns out of PROPN."""
    likes = " OR ".join(
        f"lower({token_expr}) LIKE '%{_dual_dialect_lit(s, like=True)}'"
        for s in DE_NOUN_SUFFIXES
    )
    return f"({lang_expr} = 'de' AND ({likes}))"
