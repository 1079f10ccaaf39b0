"""Portable hashing + shingling primitives, as Spark SQL text.

Everything downstream of dedup/fingerprinting needs a hash that (a) runs
JVM-side in whole-stage codegen (no Python), (b) is engine-independent so
a SQL oracle (DuckDB) reproduces it bit-for-bit, and (c) is stable across
runs/versions (``xxhash64``/``hash`` differ between engines; md5 doesn't).

``h32_sql``: first 8 hex chars of md5 → unsigned 32-bit int carried in a
BIGINT.  For MinHash, ``md5_seeded_sql`` + ``h32_window_sql`` slice one
digest into FOUR independent 32-bit hashes (hash j = 4s+w is hex window w
of md5(s|shingle)), so md5 computations — the entire CPU cost of MinHash
— drop 4×.  At 100 TB this is embarrassingly parallel map-side work with
no shuffle at all (per-doc mins fold over the shingle array).

Every helper returns SQL text over an expression string (a column name
is backquoted by the caller, e.g. ``words_sql(f"`{text_col}`")``): one
string parsed JVM-side costs one py4j round trip, where the same
expression built from Column operations cost one per operation.
Column-API code wraps the text in ``F.expr``; SQL-text builders splice
it.  ``collapse_ws_sql`` is the one definition of whitespace on the
Spark side (``WS_CHARS`` for a regex class that must exclude it), and
``words_sql`` the one word split; their DuckDB twins, which every
oracle calls, are ``plans/text_queries.py::_collapse_duck`` /
``_split_duck`` / ``_words_duck``.
"""

from __future__ import annotations

#: The Unicode space separators (category Zs), as SQL ``\\u`` escapes.
_ZS = "".join(
    f"\\u{c:04x}"
    for c in (0x20, 0xA0, 0x1680, *range(0x2000, 0x200B), 0x202F, 0x205F, 0x3000)
)

#: The whitespace characters as regex escapes: RE2's (DuckDB's) ``\s``.
#: Java's ``\s`` also matches a vertical tab (how Word stores a manual
#: line break), so no Spark regex of the package writes ``\s``.
WS_CHARS = r" \t\n\f\r"


def collapse_ws_sql(col_expr: str) -> str:
    """Whitespace-collapse + trim, case kept: every run of ``WS_CHARS``
    becomes one ``' '``, and ``trim`` strips every space separator
    (DuckDB's does; Spark's plain ``trim`` strips only ``' '``).  The
    one whitespace rule of the package (DuckDB twin:
    ``plans/text_queries.py::_collapse_duck``)."""
    ws = sql_str(f"[{WS_CHARS}]+")
    return f"trim(BOTH '{_ZS}' FROM regexp_replace({col_expr}, {ws}, ' '))"


def normalize_ws_sql(col_expr: str) -> str:
    """Lowercase + :func:`collapse_ws_sql` — the normalization both the
    Spark side and the oracle apply before tokenizing (mirrors the
    whitespace-collapse step of the reference's ``clean_text``,
    `scrc/utils/main_utils.py:130-133`)."""
    return collapse_ws_sql(f"lower({col_expr})")


def split_ws_sql(col_expr: str) -> str:
    """:func:`collapse_ws_sql`, split on ``' '``: the word split, case
    kept (DuckDB twin: ``plans/text_queries.py::_split_duck``)."""
    return f"split({collapse_ws_sql(col_expr)}, ' ')"


def words_sql(col_expr: str) -> str:
    """The whitespace tokenizer: :func:`split_ws_sql` of the lowercased
    text (DuckDB twin: ``plans/text_queries.py::_words_duck``)."""
    return split_ws_sql(f"lower({col_expr})")


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL single-quoted string literal.  Backslash and
    quote are backslash-escaped, so any Python string splices into
    parsed SQL text as exactly itself (``d'un`` stays one literal)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _safe_seed(seed) -> str:
    """Interpolation guard (ADVICE r11): seeds are spliced into SQL
    string literals, so restrict them to characters that cannot break
    out of a single-quoted literal or change parsing.  Internal callers
    pass integers or short alnum tags; anything else is a bug."""
    s = str(seed)
    if not all(c.isalnum() or c in "_.-" for c in s):
        raise ValueError(f"seed {s!r} must be alphanumeric/_.- only")
    return s


def md5_seeded_sql(expr: str, seed: str | int) -> str:
    """Full 32-hex-char md5 of ``seed|x`` — sliced into four independent
    8-hex windows by :func:`h32_window_sql`, giving four 32-bit hashes
    per md5 computation (md5's output bits are independent across
    windows)."""
    return f"md5(concat('{_safe_seed(seed)}|', {expr}))"


def h32_window_sql(md5_expr: str, window: int) -> str:
    """32-bit BIGINT from hex window ``window`` (0..3) of an md5 string.

    DuckDB oracle equivalent:
    ``('0x' || substr(md5(seed||'|'||x), 1+8*w, 8))::UBIGINT``.
    """
    return f"cast(conv(substring({md5_expr}, {1 + 8 * window}, 8), 16, 10) as bigint)"


def h32_sql(expr: str, seed: str | None = None) -> str:
    """Portable 32-bit hash as BIGINT: ``int(md5(seed|x)[:8], 16)``.

    DuckDB oracle equivalent: ``('0x' || substr(md5(seed||'|'||x),1,8))::UBIGINT``.
    """
    md5 = f"md5({expr})" if seed is None else md5_seeded_sql(expr, seed)
    return h32_window_sql(md5, 0)


def word_shingles_from_words_sql(words_expr: str, k: int = 3) -> str:
    """k-word shingles from an already-materialized ``array<string>``.

    ``slice`` + ``zip_with`` instead of indexed ``transform``: per-row
    array copies and a single zip pass, all inside whole-stage codegen.
    Crucially ``words_expr`` should name a BOUND column (projected in a
    previous select), not an inline split expression — Catalyst
    re-evaluates an inline expression at every reference, which made the
    naive one-expression form ~4× slower per row (and quadratic when the
    split sat inside a per-element lambda).  Measured at sf0.1: 13.4s →
    0.6s warm for the 260k-shingle scan.

    Short inputs (< k words) produce slice lengths of 0 → empty result.
    """
    n = f"greatest(size({words_expr}) - {k - 1}, 0)"
    out = f"slice({words_expr}, 1, {n})"
    for off in range(1, k):
        out = (
            f"zip_with({out}, slice({words_expr}, {off + 1}, {n}), "
            f"(x, y) -> concat(x, ' ', y))"
        )
    return out
