"""Portable hashing + shingling primitives.

Everything downstream of dedup/fingerprinting needs a hash that (a) runs
JVM-side in whole-stage codegen (no Python), (b) is engine-independent so
a SQL oracle (DuckDB) reproduces it bit-for-bit, and (c) is stable across
runs/versions (``xxhash64``/``hash`` differ between engines; md5 doesn't).

``h32``: first 8 hex chars of md5 → unsigned 32-bit int carried in a
BIGINT.  For MinHash, ``md5_seeded`` + ``h32_window`` slice one digest
into FOUR independent 32-bit hashes (hash j = 4s+w is hex window w of
md5(s|shingle)), so md5 computations — the entire CPU cost of MinHash —
drop 4×.  At 100 TB this is embarrassingly parallel map-side work with
no shuffle at all (per-doc mins fold over the shingle array).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def h32(col: Column | str, seed: str | None = None) -> Column:
    """Portable 32-bit hash as BIGINT: ``int(md5(seed|x)[:8], 16)``.

    DuckDB oracle equivalent: ``('0x' || substr(md5(seed||'|'||x),1,8))::UBIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}|"), c)
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def md5_seeded(col: Column | str, seed: str) -> Column:
    """Full 32-hex-char md5 of ``seed|x`` — the digest is then sliced
    into four independent 8-hex windows by :func:`h32_window`, giving
    four 32-bit hashes per md5 computation (4× less hash CPU than one
    md5 per hash; md5's output bits are independent across windows)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat(F.lit(f"{seed}|"), c))


def h32_window(md5_col: Column, window: int) -> Column:
    """32-bit BIGINT from hex window ``window`` (0..3) of an md5 string.

    DuckDB oracle equivalent:
    ``('0x' || substr(md5(seed||'|'||x), 1+8*w, 8))::UBIGINT``.
    """
    return F.conv(F.substring(md5_col, 1 + 8 * window, 8), 16, 10).cast("bigint")


def normalize_ws(col: Column | str) -> Column:
    """Lowercase + whitespace-collapse + trim — the normalization both the
    Spark side and the oracle apply before tokenizing (mirrors the
    whitespace-collapse step of the reference's ``clean_text``,
    `scrc/utils/main_utils.py:130-133`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def word_shingles_from_words(words: Column, k: int = 3) -> Column:
    """k-word shingles from an already-materialized ``array<string>``.

    ``slice`` + ``zip_with`` instead of indexed ``transform``: per-row
    array copies and a single zip pass, all inside whole-stage codegen.
    Crucially the ``words`` argument should be a BOUND column (projected
    in a previous select), not an inline split expression — Catalyst
    re-evaluates an inline expression at every reference, which made the
    naive one-expression form ~4× slower per row (and quadratic when the
    split sat inside a per-element lambda).  Measured at sf0.1: 13.4s →
    0.6s warm for the 260k-shingle scan.

    Short inputs (< k words) produce slice lengths of 0 → empty result.
    """
    n = F.greatest(F.size(words) - (k - 1), F.lit(0))
    out = F.slice(words, 1, n)
    for off in range(1, k):
        out = F.zip_with(
            out,
            F.slice(words, off + 1, n),
            lambda acc, w: F.concat(acc, F.lit(" "), w),
        )
    return out


# --- SQL-text forms (r11 optimization round) ---------------------------
#
# Each Column operation is one py4j round trip (~0.5 ms; minhash
# signatures alone issued ~1.4k per construction).  The forms below
# build the SAME expressions as ONE SQL string parsed JVM-side; the
# gates using either form are pinned by tests/fixtures/plan_fingerprints.json.


def normalize_ws_sql(col_expr: str) -> str:
    """SQL text of :func:`normalize_ws` over an expression string."""
    return f"trim(regexp_replace(lower({col_expr}), '\\\\s+', ' '))"


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


def h32_sql(expr: str, seed: str | None = None) -> str:
    """SQL text of :func:`h32` over an expression string."""
    if seed is not None:
        expr = f"concat('{_safe_seed(seed)}|', {expr})"
    return f"cast(conv(substring(md5({expr}), 1, 8), 16, 10) as bigint)"


def word_shingles_from_words_sql(words_expr: str, k: int = 3) -> str:
    """SQL text of :func:`word_shingles_from_words` over an expression
    string (same slice + zip_with chain, same lambda shape)."""
    n = f"greatest(size({words_expr}) - {k - 1}, 0)"
    out = f"slice({words_expr}, 1, {n})"
    for off in range(1, k):
        out = (
            f"zip_with({out}, slice({words_expr}, {off + 1}, {n}), "
            f"(x, y) -> concat(x, ' ', y))"
        )
    return out
