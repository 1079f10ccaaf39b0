"""Dtype-sensitive value comparison shared by the local correctness
replica (`tools/driver_sim.py`) and `tests/test_oracle_parity.py`.

The round driver's value hash distinguishes ``3882`` (int64) from
``3882.0`` (float64) — DuckDB ``sum(int)`` returns HUGEINT which pandas
renders as float64, while Spark's ``sum(bigint)`` arrives as int64, so
an oracle that forgets ``CAST(sum(...) AS BIGINT)`` hashes differently
even when every value is numerically equal.  Round 3 shipped a replica
that coerced all numerics to float64 before hashing, which masked
exactly that class of bug (4 driver-red gates).  This module models the
driver faithfully: values are converted to *Python* scalars (so int32
vs int64 compare equal, but int vs float do not) and hashed via
``repr``.
"""

from __future__ import annotations

import hashlib

import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and convert cells to Python scalars.

    - bool / integer / float columns keep their *kind* (``repr(3882)``
      != ``repr(3882.0)``), but width is erased (int32 == int64);
    - everything else becomes ``str`` (``None`` for nulls), matching
      the driver's treatment of dates/timestamps/strings.
    """
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_bool_dtype(col):
            df[c] = col.map(lambda v: None if pd.isna(v) else bool(v))
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.map(lambda v: None if pd.isna(v) else int(v))
        elif pd.api.types.is_float_dtype(col):
            # Keep NaN as NaN (repr 'nan'), do NOT fold it into None:
            # pandas float64 already stores SQL NULL as NaN on both
            # sides (toPandas and fetchdf), so None would never appear
            # here anyway — but an explicit None mapping would also
            # have silently equated an engine's genuine NaN (0.0/0.0)
            # with the other's NULL in object columns promoted to
            # float.  NULL-vs-NaN cannot be distinguished at the
            # pandas-float level; that limitation is inherent to the
            # driver's own comparison, not introduced here.
            df[c] = col.map(
                lambda v: float("nan") if pd.isna(v) else float(v)
            )
        else:
            col = col.astype("object").where(col.notna(), None)
            df[c] = col.map(lambda v: None if v is None else str(v))
    return df


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive md5 over the normalized cell reprs."""
    df = normalize(df)
    rows = sorted(
        tuple(repr(v) for v in r)
        for r in df.itertuples(index=False, name=None)
    )
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _split_top(s: str) -> list[str]:
    """Split a plan list body on its top-level commas."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s + ","):
        depth += (ch in "([{") - (ch in ")]}")
        if ch == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    return out


def normalize_plan(plan: str) -> str:
    """The identity-free text of an optimized plan's ``toString``:
    what :func:`plan_fingerprint` hashes."""
    import re

    def ids(text) -> str:
        return re.sub(r"#\d+L?", "#x", str(text))

    # catalog temp views are named per (session, file stat) key
    # (sources/catalog.py::load_table); a plan that keeps the view
    # name must fingerprint the same in every process
    p = re.sub(r"(__catalog_\w+?)_\d+\b", r"\1_x", plan)
    # Column-API lambda variables are named x_<n>, acc_<n>, ... from a
    # counter global to the JVM: number them in order of appearance
    seen: dict[str, int] = {}
    p = re.sub(r"lambda ([A-Za-z]\w*?)_\d+\b",
               lambda m: f"lambda {m[1]}_{seen.setdefault(m[0], len(seen))}", p)
    # RewriteDistinctAggregates orders an Expand's distinct columns
    # (those before gid) and rows, and numbers its groups (gid), in hash
    # order of expressions that carry exprIds: sort those columns and
    # the rows by exprId-free text, renumber the gids in row order, and
    # carry both to every `gid = n` test and to the grouping Aggregate
    # that repeats the Expand output up to gid
    gids: dict[str, dict[str, str]] = {}
    moved: list[tuple[str, str]] = []
    lines = p.split("\n")
    for i, line in enumerate(lines):
        m = re.match(r"(.*?Expand )(\[.*\])$", line)
        parts = _split_top(m[2]) if m else ["", "[]"]
        out = _split_top(parts[-1][1:-1])
        rows = [_split_top(r[1:-1]) for r in _split_top(parts[0][1:-1])]
        g = next((j for j, o in enumerate(out) if re.fullmatch(r"gid#\d+", o)), 0)
        if len(parts) != 2 or not g or any(len(r) != len(out) for r in rows):
            continue
        cols = sorted(
            range(g), key=lambda j: (ids(out[j]), sorted(ids(r[j]) for r in rows))
        )
        cols += range(g, len(out))
        rows = sorted(
            ([r[j] for j in cols] for r in rows),
            key=lambda r: (r[g] != "0", ids(r[:g])),
        )
        first = int(rows[0][g] != "0")  # gid 0 is the regular group
        gid = gids[out[g]] = {r[g]: str(n) for n, r in enumerate(rows, first)}
        for r in rows:
            r[g] = gid[r[g]]
        new_out = [out[j] for j in cols]
        moved.append((", ".join(out[: g + 1]), ", ".join(new_out[: g + 1])))
        rows_txt = ", ".join(f"[{', '.join(r)}]" for r in rows)
        lines[i] = f"{m[1]}[{rows_txt}], [{', '.join(new_out)}]"
    p = "\n".join(lines)
    for old, new in moved:
        p = p.replace(old, new)
    p = re.sub(r"\b(gid#\d+) = (\d+)",
               lambda m: f"{m[1]} = {gids.get(m[1], {}).get(m[2], m[2])}", p)
    p = re.sub(r"plan_id=\d+", "plan_id=x", ids(p))
    # fold the plan's own layout (ASCII whitespace) only: a Unicode
    # space inside a literal (the tokenizer's trim set) is plan content
    return re.sub(r"\s+", " ", p, flags=re.ASCII)


def plan_fingerprint(df) -> str:
    """Identity-normalized fingerprint of a DataFrame's OPTIMIZED
    logical plan: exprIds (``#123``/``#123L``), plan ids, catalog view
    suffixes and Column-API lambda counters are replaced with
    placeholders, distinct-aggregate groups put in a canonical order
    and whitespace collapsed (:func:`normalize_plan`), so two
    constructions of the SAME query fingerprint identically in any
    process or session while any semantic difference (tables,
    predicates, literals, operator order) survives.  The registry
    duplicate-lint (tests/test_registry_lint.py) md5s this over every
    gate at sf0.001 and fails when two gates with different names
    resolve to the same plan — the mechanical guard VERDICT r08 item 5
    asked for after round 8 shipped (and had to hand-delete) two
    semantic duplicates of existing operators."""
    p = normalize_plan(df._jdf.queryExecution().optimizedPlan().toString())
    # the TYPED schema is part of the identity: eager driver-report
    # gates optimize to a bare `LocalRelation [col#x, ...]`, which
    # prints column NAMES but not types — the binary and k-class
    # confident joints share (given_label, assigned, n_docs) and would
    # false-collide without the boolean-vs-string distinction (r11)
    p += " | " + df.schema.simpleString()
    return hashlib.md5(p.encode()).hexdigest()


def pipeline_fingerprints(spark, n_docs: int) -> dict[str, str]:
    """Fingerprint of every extraction-pipeline table and of
    ``judgment_dataset``, built over an ``n_docs`` synthetic raw corpus
    — the pipeline half of tests/fixtures/plan_fingerprints.json
    (regenerate with ``tools/pipeline_fingerprint.py``).

    Each is :func:`plan_fingerprint` plus the normalized ANALYZED plan:
    the pipeline's outputs select from caches, whose optimized form is
    a bare ``InMemoryRelation`` (over a local relation that has folded
    the projections into its rows), so a change to a cached frame's
    construction would leave the optimized plan unchanged."""
    from swisscourtrulingcorpus_spark.plans.domain_pipeline import (
        judgment_dataset,
        run_extraction_pipeline,
    )
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        raw_corpus_df,
    )

    def fingerprint(df) -> str:
        analyzed = normalize_plan(df._jdf.queryExecution().analyzed().toString())
        return hashlib.md5(f"{plan_fingerprint(df)} | {analyzed}".encode()).hexdigest()

    tables = run_extraction_pipeline(raw_corpus_df(spark, n_docs))
    out = {name: fingerprint(tables[name]) for name in sorted(tables)}
    out["judgment_dataset"] = fingerprint(judgment_dataset(tables))
    return out
