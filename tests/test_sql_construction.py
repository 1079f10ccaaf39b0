"""Whole-query SQL-text construction, pinned by golden plan fingerprints.

Every headline gate and pipeline helper has ONE construction path:
parsed ``spark.sql`` / ``F.expr`` text.  Their normalized
optimized plans (``plans/parity.py::plan_fingerprint``) are pinned in
``tests/fixtures/plan_fingerprints.json``: the 20 headline gates, the
gates built on the SQL-text operator wrappers and the pipeline outputs
here, every gate in the slow registry lint.

Also covers the catalog binding: SQL text names a catalog table only
through ``catalog_sql``'s ``view`` callable, and both ``load_table``
and ``catalog_sql`` re-register a temp view dropped behind the cache.
"""

from __future__ import annotations

import os

from conftest import assert_golden_plans, load_golden_plans


# Non-headline gates that reach the MinHash / SimHash / vector-search
# operators through their DataFrame wrappers (``spark.sql(<builder>,
# df=df)``); their operator suites run only in the slow tier.
OPERATOR_WRAPPER_GATES = (
    "minhash_signatures_documents",
    "simhash_documents",
    "simhash_hamming_pairs",
    "lsh_verified_pairs",
    "verified_dedup_clusters",
    "quality_dedup_representatives",
    "dedup_savings_report",
    "incremental_minhash_dedup",
    "near_contamination_check",
    "rrf_hybrid_topk",
    "jl_rerank_topk_embeddings",
    "ivf_topk_bucketed",
    "embedding_neardup_pairs",
    "semantic_dedup_groups",
    "int8_dot_topk_embeddings",
)


def _assert_gates_match_golden(spark, sf_dir, names):
    from swisscourtrulingcorpus_spark.plans.parity import plan_fingerprint
    from swisscourtrulingcorpus_spark.plans.registry import queries

    q = queries()
    got = {name: plan_fingerprint(q[name](spark, sf_dir)) for name in names}
    assert_golden_plans("gates", got, sf_dir=sf_dir)


def test_headline_plans_match_golden(spark, sf_dir):
    from bench import HEADLINE

    _assert_gates_match_golden(spark, sf_dir, HEADLINE)


def test_operator_wrapper_plans_match_golden(spark, sf_dir):
    _assert_gates_match_golden(spark, sf_dir, OPERATOR_WRAPPER_GATES)


def test_pipeline_plans_match_golden(spark):
    from swisscourtrulingcorpus_spark.plans.parity import pipeline_fingerprints

    got = pipeline_fingerprints(spark, load_golden_plans()["n_docs"])
    assert_golden_plans("pipeline", got, complete=True)


def test_pipeline_pins_see_inside_the_cache(spark, monkeypatch):
    """The language-ID column is computed inside the cached ``base``,
    whose optimized form folds it into the local rows: a different
    expression there must still move the pins of the outputs built on
    it."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.plans import domain_pipeline
    from swisscourtrulingcorpus_spark.plans.parity import pipeline_fingerprints

    before = pipeline_fingerprints(spark, 5)
    monkeypatch.setattr(
        domain_pipeline, "language_id_score", lambda col: F.lit("und")
    )
    after = pipeline_fingerprints(spark, 5)
    for name in ("decision", "section_arrays"):
        assert after[name] != before[name], name


def test_plan_fingerprint_ignores_catalog_view_suffix(spark, sf_dir):
    """Catalog temp views are named ``__catalog_<table>_<digits>`` with a
    per-process hash.  Distinct aggregates keep that qualifier in the
    optimized plan (Expand), and number their groups in hash order of
    exprIds and qualifiers, so the fingerprint must normalize both —
    but an aggregate reading the wrong group must still differ."""
    import re

    from swisscourtrulingcorpus_spark.plans.parity import (
        normalize_plan,
        plan_fingerprint,
    )

    path = os.path.join(sf_dir, "region.parquet")
    fps = set()
    for i, n in enumerate((123, 987654321, 5, 77)):
        view = f"__catalog_region_{n}"
        for _ in range(i * 37):  # shift the exprIds between constructions
            spark.range(1)
        spark.read.parquet(path).createOrReplaceTempView(view)
        df = spark.sql(
            "SELECT count(DISTINCT r_name) AS a, count(DISTINCT r_regionkey) AS b"
            f" FROM {view}"
        )
        fps.add(plan_fingerprint(df))
        spark.catalog.dropTempView(view)
    assert len(fps) == 1, fps

    # the groups numbered the other way round (Expand rows and FILTERs
    # alike) must match; the FILTERs alone swapped must not
    plan = df._jdf.queryExecution().optimizedPlan().toString()

    def swap(pattern):
        return re.sub(pattern, lambda m: m[1] + {"1": "2", "2": "1"}[m[2]], plan)

    relabeled = swap(r"(gid#\d+ = |, )([12])(?=\)|\])")
    miswired = swap(r"(gid#\d+ = )([12])")
    assert plan != relabeled != miswired
    assert normalize_plan(plan) == normalize_plan(relabeled) != normalize_plan(miswired)


def test_normalize_plan_keeps_unicode_spaces():
    """Only the plan's layout (ASCII whitespace) folds: two plans whose
    literals differ by an NBSP against a ``' '`` normalize differently."""
    from swisscourtrulingcorpus_spark.plans.parity import normalize_plan

    plan = "Project [trim(text#12, Some({}a)) AS t#13]\n+- Relation [text#12] parquet"
    assert normalize_plan(plan.format(" ")) != normalize_plan(plan.format("\xa0"))
    assert normalize_plan("Project [a#1]\n  +- \tRelation") == "Project [a#x] +- Relation"


def test_plan_fingerprint_ignores_lambda_counter(spark):
    """Column-API lambda variables are named ``x_<n>`` from a counter
    global to the JVM: a later build must fingerprint the same."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.plans.parity import plan_fingerprint

    def build():
        return spark.range(3).selectExpr("array(id, id + 1) AS a").select(
            F.filter("a", lambda v: v > 1).alias("f"),
            F.aggregate("a", F.lit(0).cast("long"), lambda acc, v: acc + v).alias("s"),
        )

    first = plan_fingerprint(build())
    build()
    assert plan_fingerprint(build()) == first


def test_language_id_quote_bearing_stopword(spark, monkeypatch):
    """Stopwords splice into the SQL text as escaped literals: words
    with an apostrophe or a backslash parse and are counted."""
    from swisscourtrulingcorpus_spark.functions import text

    stops = {k: list(v) for k, v in text.STOPWORDS.items()}
    stops["fr"].append("d'un")
    stops["en"].append("back\\slash")
    monkeypatch.setattr(text, "STOPWORDS", stops)
    df = spark.createDataFrame([("d'un d'un",), ("back\\slash",)], ["t"])
    lang = text.language_id_score("t").alias("lang")
    assert [r.lang for r in df.select(lang).collect()] == ["fr", "en"]


def test_language_id_tokenizes_once(spark):
    """Language ID folds every language's hit count over ONE split of
    the text (higher-order functions get no common-subexpression
    elimination, so a second ``split`` would tokenize the row again);
    a NULL text, whose fold is NULL, is still 'und'."""
    from swisscourtrulingcorpus_spark.functions import text

    assert text.language_id_score_sql("`t`").count("split(") == 1
    df = spark.createDataFrame([(None,), ("der die le la et",)], "t string")
    lang = text.language_id_score("t").alias("lang")
    assert [r.lang for r in df.select(lang).collect()] == ["und", "fr"]


def test_lemma_builders_reject_unportable_literals(monkeypatch):
    """The lemma builders emit SQL text that both Spark and DuckDB
    parse, and the two escape quotes and backslashes differently: a
    literal that would change the parse (a quote, a backslash, or a
    LIKE wildcard in a suffix) must raise, never splice."""
    import pytest

    from swisscourtrulingcorpus_spark.functions import text

    stops = {k: list(v) for k, v in text.LEMMA_STOPWORDS.items()}
    stops["fr"].append("d'un")
    rules = {k: list(v) for k, v in text.LEMMA_SUFFIX_RULES.items()}
    rules["de"].append(("en", "back\\slash", 3))
    monkeypatch.setattr(text, "LEMMA_STOPWORDS", stops)
    monkeypatch.setattr(text, "LEMMA_SUFFIX_RULES", rules)
    monkeypatch.setattr(text, "DE_NOUN_SUFFIXES", text.DE_NOUN_SUFFIXES + ("_ung",))
    with pytest.raises(ValueError, match="d'un"):
        text.lemma_stopword_sql("t", "lang")
    with pytest.raises(ValueError, match="slash"):
        text.lemma_case_sql("t", "lang")
    with pytest.raises(ValueError, match="_ung"):
        text.de_noun_suffix_sql("t", "lang")


def test_lazy_tables_defer_and_memoize(spark):
    """run_extraction_pipeline returns a mapping whose derived tables
    construct on first access and memoize (same object on re-read,
    preserving the one-cache-entry semantics); ``dict(tables)`` and
    ``{**tables}`` build every table, never a placeholder."""
    from pyspark.sql import DataFrame

    from swisscourtrulingcorpus_spark.plans.domain_pipeline import (
        run_extraction_pipeline,
    )
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        raw_corpus_df,
    )

    tables = run_extraction_pipeline(raw_corpus_df(spark, 10))
    assert set(tables) == {
        "decision", "section", "section_arrays", "citation", "judgment",
        "composition", "lower_court", "participation",
    }
    c1 = tables["citation"]
    assert c1 is tables["citation"]
    assert tables.get("missing", "d") == "d"
    assert tables["composition"].columns[0] == "decision_id"
    for copy in (dict(tables), {**tables}):
        assert len(copy) == 8
        assert all(isinstance(v, DataFrame) for v in copy.values()), copy
        assert copy["citation"] is c1


def test_load_table_and_catalog_sql_recover_dropped_view(spark, sf_dir):
    """A catalog view dropped behind the cache is re-registered by both
    public entry points, and each returns rows: ``load_table`` on its
    next call, ``catalog_sql`` by running ``build`` once more."""
    from swisscourtrulingcorpus_spark.sources.catalog import (
        catalog_sql,
        load_table,
    )

    names = []

    def build(view):
        names.append(view("region"))
        return f"SELECT count(1) AS n FROM {names[-1]}"

    n = catalog_sql(spark, sf_dir, build).collect()[0].n
    assert n > 0 and len(names) == 1
    region = names[0]

    spark.catalog.dropTempView(region)
    assert load_table(spark, sf_dir, "region").count() == n
    assert spark.catalog.tableExists(region)

    spark.catalog.dropTempView(region)
    assert catalog_sql(spark, sf_dir, build).collect()[0].n == n
    assert names == [region] * 3  # the failed build, then the re-run
    assert spark.catalog.tableExists(region)


def test_catalog_binding_is_private():
    """No module outside ``sources/catalog.py`` (package, tests, tools,
    bench) imports or reaches the private view helper or the view
    cache, and ``catalog.py`` keeps one module-level cache and no
    ``lru_cache``: ``catalog_sql`` is the one way SQL text names a
    catalog table, and a dropped view is recovered wherever it is."""
    import ast
    import pathlib

    from swisscourtrulingcorpus_spark.sources import catalog

    private = {"table_view", "_table_view", "_VIEW_CACHE"}
    repo = pathlib.Path(__file__).resolve().parents[1]
    paths = [
        *_package_modules(),
        *repo.joinpath("tests").rglob("*.py"),
        *repo.joinpath("tools").rglob("*.py"),
        repo / "bench.py",
    ]
    bad = []
    for path in paths:
        if path.name == "catalog.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                used = {a.name for a in node.names}
            elif isinstance(node, ast.Attribute):
                used = {node.attr}
            else:
                continue
            bad += [f"{path.name}:{node.lineno}: {n}" for n in used & private]
    assert not bad, bad

    tree = ast.parse(pathlib.Path(catalog.__file__).read_text())
    caches = [
        t.id
        for n in tree.body
        if isinstance(n, (ast.Assign, ast.AnnAssign))
        and isinstance(n.value, (ast.Dict, ast.List, ast.Set))
        for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
    ]
    assert caches == ["_VIEW_CACHE"], caches
    decorated = [
        f"{n.name}: {ast.unparse(d)}"
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef)
        for d in n.decorator_list
    ]
    assert not decorated, decorated
    assert "lru_cache" not in ast.unparse(tree)
    assert not hasattr(catalog, "table_view")


#: the Column forms the hashing module no longer has: its helpers are
#: SQL text only, and ``words_sql`` is the one tokenizer body
DELETED_HASH_FORMS = {
    "normalize_ws",
    "h32",
    "md5_seeded",
    "h32_window",
    "word_shingles_from_words",
}


def _package_modules():
    import pathlib

    import swisscourtrulingcorpus_spark

    root = pathlib.Path(swisscourtrulingcorpus_spark.__file__).parent
    return sorted(root.rglob("*.py"))


#: Whitespace splits out of the one-body rule, by ``module::function``:
#: name and file-number normalizers with no DuckDB twin; and the DuckDB
#: twin's own body.
WS_EXEMPT = {
    "person_registry.py::_name_tokens",
    "filenumbers.py::normalize_file_number",
    "text_queries.py::_collapse_duck",
}


def _whitespace_sites(path) -> list[str]:
    """The sites of one package module that define whitespace outside
    the one body per engine: ``\\s`` in a ``F.split`` /
    ``F.regexp_replace`` / ``F.regexp_extract_all`` pattern (a literal
    or a module-level constant), ``\\s`` in SQL text (either engine) that
    calls ``split``, ``regexp_replace``, ``regexp_extract_all`` or
    ``string_split_regex``, and the DuckDB word-split chain."""
    import ast
    import re

    sql_call = re.compile(
        r"\b(?:split|regexp_replace|regexp_extract_all|string_split_regex)\("
    )
    duck_chain = re.compile(r"string_split\(\s*trim\(regexp_replace\(lower\(")
    tree = ast.parse(path.read_text())
    consts = {
        t.id: n.value.value
        for n in tree.body
        if isinstance(n, ast.Assign) and isinstance(n.value, ast.Constant)
        for t in n.targets
        if isinstance(t, ast.Name) and isinstance(n.value.value, str)
    }

    def text(node) -> str:
        if isinstance(node, ast.JoinedStr):
            parts = node.values
            return "".join(text(v) if isinstance(v, ast.Constant) else "{}" for v in parts)
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return consts.get(node.id, "") if isinstance(node, ast.Name) else ""

    bad = []

    def visit(node, fn):
        if f"{path.name}::{fn}" in WS_EXEMPT:
            return
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        f = node.func if isinstance(node, ast.Call) else None
        if (
            isinstance(f, ast.Attribute)
            and getattr(f.value, "id", None) == "F"
            and f.attr in ("split", "regexp_replace", "regexp_extract_all")
            and any("\\s" in text(a) for a in ast.walk(node))
        ):
            bad.append(f"{path.name}:{node.lineno}: \\s in F.{f.attr}")
        t = text(node) if isinstance(node, (ast.JoinedStr, ast.Constant)) else ""
        if sql_call.search(t) and "\\s" in t:
            bad.append(f"{path.name}:{node.lineno}: \\s in SQL text")
        if duck_chain.search(t):
            bad.append(f"{path.name}:{node.lineno}: word split outside _words_duck")
        if not isinstance(node, ast.JoinedStr):
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

    visit(tree, None)
    return bad


def test_hashing_helpers_have_one_body():
    """``functions/hashing.py`` returns SQL text only; no package module
    imports a deleted Column form; outside the hashing module no Spark
    code writes the tokenizer's ``regexp_replace(lower(...`` chain (a
    DuckDB oracle string, which carries RE2's ``'g'`` flag, may); and
    outside it and the DuckDB twin no package code defines whitespace
    (:func:`_whitespace_sites`; Python's ``re`` is not checked)."""
    import ast
    import inspect
    import re

    from swisscourtrulingcorpus_spark.functions import hashing

    builders = inspect.getmembers(hashing, inspect.isfunction)
    assert {n for n, f in builders if f.__module__ == hashing.__name__} >= {
        "collapse_ws_sql",
        "normalize_ws_sql",
        "split_ws_sql",
        "words_sql",
        "h32_sql",
        "md5_seeded_sql",
        "h32_window_sql",
        "word_shingles_from_words_sql",
    }
    for name, fn in builders:
        assert fn.__annotations__.get("return") == "str", name
    assert not DELETED_HASH_FORMS & set(vars(hashing)), "Column hash form is back"

    chain = re.compile(r"regexp_replace\(\s*(?:F\.)?lower\(")
    bad = []
    for path in _package_modules():
        src = path.read_text()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "swisscourtrulingcorpus_spark.functions"
            ):
                bad += [
                    f"{path.name}: imports {a.name}"
                    for a in node.names
                    if a.name in DELETED_HASH_FORMS
                ]
        if path.name == "hashing.py":
            continue
        for m in chain.finditer(src):
            if "'g')" not in src[m.end() : m.end() + 120]:
                line = src.count("\n", 0, m.start()) + 1
                bad.append(f"{path.name}:{line}: tokenizer chain outside words_sql")
        bad += _whitespace_sites(path)
    assert not bad, bad
