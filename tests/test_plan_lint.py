"""Registry-wide physical-plan lint: every `queries()` entry is built at
sf0.001 and its executed plan is checked against the scale invariants the
operator docstrings promise.  This is the whole-repo regression gate for
the 100-TB design rules:

- **No CartesianProduct** — the only sanctioned cross-join shape is the
  broadcast 1-row scalar attach, which prints as BroadcastNestedLoopJoin.
- **No BatchEvalPython** — row-at-a-time Python UDFs are banned.
- **One Python boundary** — every Python map goes through the Arrow shell
  (``functions/udf.doc_map`` / ``batch_map``, a MapInArrow): no plan holds
  a MapInPandas or a pandas_udf (ArrowEvalPython), and no package file
  imports pandas or names ``pandas_udf`` / ``mapInPandas`` (no Spark
  needed for that one).
- **Global windows (empty PARTITION BY) only where a docstring documents
  a bound or a windowless corpus path** — a global window is a single
  sort task at corpus scale, and AQE cannot split window partitions.
- **No package code that only tests run** — every public top-level
  function or class in ``htmlcleanup_spark/`` is referenced by code
  outside ``tests/`` (no Spark needed for this one).

The allowlist below is not an exemption from the rule but an index of the
documented exceptions; each entry cites why the plan is safe.  A new query
whose plan grows a global window fails here until it either removes the
window or documents + allowlists the bound.
"""

from __future__ import annotations

import ast
import os
import re
import sys

import pytest

REPO = os.path.join(os.path.dirname(__file__), "..")
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"

# windowspecdefinition(part1, ..., ord1 ASC NULLS FIRST, frame) — when the
# FIRST argument already carries a sort direction (or is the frame itself),
# the partition clause is empty: a global window.
_GLOBAL_WINDOW = re.compile(
    r"windowspecdefinition\((?:[^(),]+ (?:ASC|DESC) NULLS"
    r"|specifiedwindowframe)"
)

# Documented global-window exceptions: name -> why the plan is safe.
GLOBAL_WINDOW_ALLOWED = {
    # q_dsir_weights' top-25% flag: exact VALIDATION path; the corpus
    # path is a logw_e6 threshold filter (operators/dsir docstring).
    "dsir_weights": "validation-scale exact top-frac; threshold path at scale",
    # operators/corpus.filter_funnel: running sum over the STAGE table —
    # one row per funnel stage (~7 rows), not per document.
    "filter_funnel": "window input is the ~7-row stage table",
    # operators/lm.ppl_buckets default NTILE: exact validation path;
    # corpus path is thresholds= CASE (same docstring).
    "perplexity": "validation-scale exact NTILE; thresholds path at scale",
    # operators/sample.token_budget_sample: global prefix window is the
    # documented validation path; per-stratum scale path in the docstring.
    "token_budget": "validation-scale prefix sum; stratum path at scale",
    # composes token_budget (above).
    "training_corpus_v2": "inherits token_budget's documented paths",
    # functions/text.zipf_fit: rank window runs AFTER .limit(top_n) —
    # bounded at <= 200 rows by construction.
    "zipf_fit": "window input bounded at top_n (<=200) rows",
    # functions/text.heavy_hitters: rank window runs AFTER .limit(k) —
    # bounded at <= k (20) rows by construction.
    "heavy_hitters": "window input bounded at k (<=20) rows",
}


# Public package names that only tests reference: name -> why it stays.
TEST_ONLY_ALLOWED = {
    # Reference outputs derived from the page recipe, not by running the
    # operator: the tests compare the operator against them.
    "expected_outlinks": "reference output for links.outlinks_of",
    "expected_main_content": "reference output for maincontent",
    "expected_pdf_text": "reference output for pdf.pdf_text",
    # Helpers the tests build their inputs with; moved into tests/ they
    # would be the same code.
    "parse_warc_records": "bytes-level wrapper the WARC grammar tests use",
    "write_bucketed": "writes the bucketed tables of the join-plan tests",
    # The extract job's output reader (either sink layout).
    "read_extracted": "reads back run_extract's output",
}


def _source_files(top: str = REPO):
    """Python files under ``top``, outside tests/."""
    for root, dirs, files in os.walk(top):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))
                   and d not in ("tests", "dist", "spark-warehouse")]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _package_publics() -> dict:
    """name -> module path of every public top-level def or class in the
    package."""
    out = {}
    for path in _source_files(os.path.join(REPO, "htmlcleanup_spark")):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not node.name.startswith("_")):
                out[node.name] = os.path.relpath(path, REPO)
    return out


def _names_referenced() -> set:
    """Every name a non-test file loads, reads as an attribute or imports.
    A definition's references to its own name (recursion) and docstring
    mentions do not count."""
    refs = set()
    for path in _source_files():
        with open(path) as f:
            tree = ast.parse(f.read())
        for top in tree.body:
            own = getattr(top, "name", None)
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias):
                    name = node.name.rsplit(".", 1)[-1]
                else:
                    continue
                if name != own:
                    refs.add(name)
    return refs


def test_no_package_code_only_tests_run():
    publics, refs = _package_publics(), _names_referenced()
    offenders = sorted("%s (%s)" % (n, m) for n, m in publics.items()
                       if n not in refs and n not in TEST_ONLY_ALLOWED)
    assert offenders == [], (
        "public names only tests reference: delete them, wire them in, or "
        "allowlist them with a reason: %s" % offenders
    )
    stale = sorted(n for n in TEST_ONLY_ALLOWED
                   if n not in publics or n in refs)
    assert stale == [], "allowlist entries now gone or referenced: %s" % stale


@pytest.fixture(scope="module")
def registry_plans(spark):
    import __spark_entry__ as entry

    plans = {}
    errors = {}
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, SF_DIR)
            plans[name] = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # pragma: no cover - surfaced by the test
            errors[name] = repr(ex)
    assert not errors, "queries failed to plan: %s" % errors
    return plans


def test_no_cartesian_product_anywhere(registry_plans):
    offenders = [n for n, p in registry_plans.items()
                 if "CartesianProduct" in p]
    assert offenders == [], offenders


def test_no_row_at_a_time_python_udf_anywhere(registry_plans):
    offenders = [n for n, p in registry_plans.items()
                 if "BatchEvalPython" in p]
    assert offenders == [], offenders


def test_map_in_pandas_only_where_documented(registry_plans):
    """No exceptions are documented any more: no registered plan holds a
    MapInPandas or a pandas_udf (ArrowEvalPython), every Python map is a
    MapInArrow through functions/udf."""
    offenders = sorted(
        n for n, p in registry_plans.items()
        if "MapInPandas" in p or "ArrowEvalPython" in p
    )
    assert offenders == [], (
        "Python maps go through functions/udf.doc_map or batch_map: %s"
        % offenders
    )


def test_package_has_no_pandas_boundary():
    offenders = []
    for path in _source_files(os.path.join(REPO, "htmlcleanup_spark")):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            else:
                continue
            bad = [n for n in names if n.split(".")[0] == "pandas"
                   or n in ("pandas_udf", "mapInPandas")]
            if bad:
                offenders.append("%s:%d %s" % (os.path.relpath(path, REPO),
                                               node.lineno, bad[0]))
    assert offenders == [], offenders


def test_global_windows_only_where_documented(registry_plans):
    offenders = sorted(
        n for n, p in registry_plans.items()
        if _GLOBAL_WINDOW.search(p) and n not in GLOBAL_WINDOW_ALLOWED
    )
    assert offenders == [], (
        "undocumented global windows (add the windowless corpus path or "
        "document the bound and allowlist): %s" % offenders
    )


def test_allowlist_entries_still_have_global_windows(registry_plans):
    """The allowlist must not rot: if an entry's plan no longer has a
    global window (the op was fixed or the query rerouted), drop it."""
    stale = sorted(
        n for n in GLOBAL_WINDOW_ALLOWED
        if n in registry_plans
        and not _GLOBAL_WINDOW.search(registry_plans[n])
    )
    assert stale == [], "allowlist entries without global windows: %s" % stale
