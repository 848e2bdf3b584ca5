"""Spark-free checks that the query registry stays cut to one query per
operator family.

A query's operator family is the set of ``PLAN_AUDIT.md`` operator
columns where its count is non-zero.  Exchange and scan counts are left
out because nearly every query has them.  A query either is protected,
is pinned by a test of its own, or is the only registered query with
its family among the rest.
"""

from __future__ import annotations

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = REPO / "sales_azure_data_engineer_project_spark"

FAMILY_COLUMNS = (
    "BHJ", "SMJ", "SHJ", "BNLJ", "Cartesian", "Window", "WGL(Partial)",
    "PyEval", "ArrowPandas",
)

QUERY_MODULES = ("core", "analytics", "extensions")

# Extension queries kept whatever their family, besides the benchmark's.
PROTECTED = {
    # the registered batch twin of streaming.windowed_event_counts
    "events_hopping_window_rate",
    # the test_properties::test_partition_count_invariance probes
    "text_dsir_importance",
    "dedup_minhash_estimate_calibration",
    "embedding_pca_power_iteration",
    "text_quality_classifier_hashed",
}


# Queries of any module that share a family but still carry a dedicated
# test (a differential or invariant check of the query's own output, or
# a plan pin).  They go with their tests in later cuts; the set may only
# shrink, and a name here that is no longer registered fails the family
# test.
PINNED = {
    "dedup_cross_source_matrix", "dedup_graph_kcore", "dedup_minhash_lsh",
    "dedup_simhash_hamming", "dedup_token_savings_report", "events_funnel",
    "pipeline_pack_sequences", "pipeline_unimax_language_budget",
    "q21_waiting_orders", "q6_forecast_revenue", "quantile_sketch_bottomk",
    "sample_priority_topk", "sample_soft_dedup_weights", "text_bm25_topk",
}


def _registered(module: str) -> list[str]:
    """Names passed to ``@register(...)`` in a package module, read from
    its AST."""
    tree = ast.parse((PACKAGE / module).read_text())
    return [
        deco.args[0].value
        for node in ast.walk(tree)
        for deco in getattr(node, "decorator_list", [])
        if isinstance(deco, ast.Call) and getattr(deco.func, "id", None) == "register"
    ]


def _benchmark_queries() -> set[str]:
    """The ``STAR`` and ``CORPUS`` lists of ``perfbench/run.py``."""
    tree = ast.parse((REPO / "perfbench" / "run.py").read_text())
    out: set[str] = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) in ("STAR", "CORPUS") for t in node.targets
        ):
            out.update(ast.literal_eval(node.value))
    return out


def _audit_families() -> dict[str, frozenset[str]]:
    """Query name → operator family, from the ``PLAN_AUDIT.md`` table."""
    lines = (REPO / "PLAN_AUDIT.md").read_text().splitlines()
    header = next(line for line in lines if line.startswith("| query |"))
    cols = [c.strip() for c in header.strip("|").split("|")]
    out: dict[str, frozenset[str]] = {}
    for line in lines[lines.index(header) + 2:]:
        if not line.startswith("|"):
            break
        row = dict(zip(cols, (c.strip() for c in line.strip("|").split("|"))))
        out[row["query"]] = frozenset(c for c in FAMILY_COLUMNS if int(row[c]) != 0)
    return out


def _backtick_spans(line: str) -> list[str]:
    """The single-backtick spans of a markdown line; ````literal````
    spans are dropped first."""
    return re.findall(r"`([^`]+)`", re.sub(r"``.*?``", "", line))


def _coverage_cited(registered: dict[str, set[str]]) -> set[str]:
    """Queries that the survey sections of ``COVERAGE.md`` (everything
    above its training-data section) cite in backticks, as ``name`` or
    as ``queries_<m>.name``."""
    text = (REPO / "COVERAGE.md").read_text()
    every = set().union(*registered.values())
    out: set[str] = set()
    for line in text[:text.index("## Training-data extensions")].splitlines():
        for span in _backtick_spans(line):
            if span in every:
                out.add(span)
            elif m := re.fullmatch(r"queries_(core|analytics|extensions)\.(\w+)", span):
                out.update({m[2]} & registered[m[1]])
    return out


def test_plan_audit_lists_exactly_the_registered_queries():
    """A stale ``PLAN_AUDIT.md`` would let the family rule read families
    of queries that are gone, or miss new ones."""
    registered = {n for m in QUERY_MODULES for n in _registered(f"queries_{m}.py")}
    audited = set(_audit_families())
    assert audited == registered, (
        f"regenerate PLAN_AUDIT.md with tools/plan_report.py: "
        f"unaudited {sorted(registered - audited)}, "
        f"not registered {sorted(audited - registered)}"
    )


def test_each_query_is_protected_pinned_or_alone_in_its_family():
    """A query that is neither protected nor pinned must be the only
    query with its operator family, pinned queries aside: a second query
    with the same family adds code without covering a new operator mix.
    Protected are the benchmark's queries, ``PROTECTED``, and the core
    and analytics queries that ``COVERAGE.md``'s survey sections cite."""
    families = _audit_families()
    registered = {m: set(_registered(f"queries_{m}.py")) for m in QUERY_MODULES}
    every = set().union(*registered.values())
    cited = _coverage_cited(registered) & (registered["core"] | registered["analytics"])
    protected = PROTECTED | _benchmark_queries() | cited
    assert PROTECTED <= registered["extensions"], sorted(PROTECTED - registered["extensions"])
    assert PINNED <= every, f"drop deleted queries from PINNED: {sorted(PINNED - every)}"
    assert not PINNED & protected, sorted(PINNED & protected)
    shared = {}
    for name in sorted(every):
        if name in protected or name in PINNED:
            continue
        twins = sorted(
            other for other, fam in families.items()
            if other != name and other not in PINNED and fam == families[name]
        )
        if twins:
            shared[name] = (sorted(families[name]), twins)
    assert not shared, (
        "queries that share an operator family (delete them, or keep one "
        "per family):\n"
        + "\n".join(f"{n} {fam}: also {tw}" for n, (fam, tw) in sorted(shared.items()))
    )


def _test_names(stem: str) -> set[str]:
    """The ``test_*`` functions defined in ``tests/<stem>.py``, read from
    its AST."""
    path = REPO / "tests" / f"{stem}.py"
    if not path.is_file():
        return set()
    return {
        node.name
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef) and node.name.startswith("test_")
    }


def test_coverage_pinned_table_matches_pinned():
    """``COVERAGE.md``'s table of pinned queries lists exactly ``PINNED``,
    and every ``file::test`` it names is a test in ``tests/``, so the
    table cannot drift as later cuts shrink the set."""
    lines = (REPO / "COVERAGE.md").read_text().splitlines()
    start = lines.index("## Queries pinned by their own tests")
    rows = []
    for line in lines[start + 1:]:
        if line.startswith("## "):
            break
        if line.startswith("| `"):
            query, tests = (c.strip() for c in line.strip("|").split("|"))
            rows.append((query.strip("`"), [t.strip(" `") for t in tests.split(",")]))
    listed = [q for q, _ in rows]
    assert len(listed) == len(set(listed)) and set(listed) == PINNED, (
        f"not in PINNED {sorted(set(listed) - PINNED)}, "
        f"missing from COVERAGE.md {sorted(PINNED - set(listed))}"
    )
    missing = [
        t for _, tests in rows for t in tests
        if t.split("::")[1] not in _test_names(t.split("::")[0])
    ]
    assert not missing, f"COVERAGE.md names tests that do not exist: {missing}"


def _package_defs() -> set[str]:
    """Every function, class and module-level constant name defined in
    the package, read from its AST."""
    out: set[str] = set()
    for path in PACKAGE.rglob("*.py"):
        tree = ast.parse(path.read_text())
        out.update(
            n.name for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))
        )
        out.update(
            t.id for n in tree.body if isinstance(n, ast.Assign)
            for t in n.targets if isinstance(t, ast.Name)
        )
    return out


def _readme_operator_tree() -> set[str]:
    """The module files that the ``operators/`` branch of ``README.md``'s
    layout tree lists, one per line."""
    lines = (REPO / "README.md").read_text().splitlines()
    out: set[str] = set()
    for line in lines[lines.index("  operators/") + 1:]:
        if not line.startswith("    "):
            break
        if m := re.match(r"    ([a-z_0-9]+\.py) ", line):
            out.add(m[1])
    return out


def test_docs_name_only_modules_and_queries_that_exist():
    """Every ``operators.<module>`` or ``operators/<module>.py`` that
    ``COVERAGE.md`` or ``README.md`` names is a module of the package,
    ``README.md``'s layout tree lists exactly the ``operators`` modules,
    and every query that a ``COVERAGE.md`` table names in backticks is
    registered: a bare snake_case name must be a registered query, a
    name the package defines, or a test, and a ``queries_<m>.<name>``
    must be registered in that module.  Rows left behind by a cut fail
    here."""
    missing_modules = sorted(
        f"{doc}: operators {mod}"
        for doc in ("COVERAGE.md", "README.md")
        for mod in set(re.findall(
            r"operators[./]([a-z_0-9]+)", (REPO / doc).read_text()
        ))
        if not (PACKAGE / "operators" / f"{mod}.py").is_file()
    )
    modules = {p.name for p in (PACKAGE / "operators").glob("*.py")} - {"__init__.py"}
    tree = _readme_operator_tree()
    registered = {m: set(_registered(f"queries_{m}.py")) for m in QUERY_MODULES}
    known = set().union(*registered.values()) | _package_defs()
    tests = {p.stem for p in (REPO / "tests").glob("test_*.py")}
    tests |= set().union(*(_test_names(s) for s in tests))
    unknown = []
    for line in (REPO / "COVERAGE.md").read_text().splitlines():
        if not line.startswith("|"):
            continue
        for span in _backtick_spans(line):
            if re.fullmatch(r"[a-z][a-z0-9_]*", span):
                if span not in known and span not in tests:
                    unknown.append(span)
            elif m := re.fullmatch(r"queries_(core|analytics|extensions)\.(\w+)", span):
                if m[2] not in registered[m[1]]:
                    unknown.append(span)
    assert not missing_modules and tree == modules and not unknown, (
        f"docs name modules that do not exist: {missing_modules}; "
        f"README.md's layout tree leaves out {sorted(modules - tree)} and "
        f"lists missing {sorted(tree - modules)}; "
        f"COVERAGE.md names queries that are not registered: {unknown}"
    )
