"""Lint-style structural checks (no external linter in this container).

Born from a real round-6 bug: two back-to-back ``def streaming_dedup``
in one module, the second silently shadowing the first (ruff's F811).
Redefinitions must fail loudly.
"""

import ast
import pathlib
import warnings

PKG = pathlib.Path(__file__).resolve().parents[1] / \
    "spark_df_profiling_spark"


def test_package_compiles_with_warnings_as_errors():
    # an invalid escape such as \s in a non-raw string compiles with
    # a warning today and is an error in later Python releases
    offenders = {}
    for py in sorted(PKG.rglob("*.py")):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(py.read_text(), str(py), "exec")
            except (SyntaxError, Warning) as e:
                offenders[str(py.relative_to(PKG.parent))] = repr(e)
    assert not offenders, f"compile warnings: {offenders}"


def _toplevel_redefs(tree):
    seen, dups = {}, []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            if node.name in seen:
                dups.append((node.name, seen[node.name], node.lineno))
            seen[node.name] = node.lineno
    return dups


def test_no_duplicate_toplevel_definitions():
    offenders = {}
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        dups = _toplevel_redefs(tree)
        if dups:
            offenders[str(py.relative_to(PKG.parent))] = dups
    assert not offenders, (
        f"duplicate top-level definitions (F811 shadowing): {offenders}")


# ---------------------------------------------------------------------------
# Unpartitioned-window audit (VERDICT r11 #6)
# ---------------------------------------------------------------------------
# An unpartitioned window (Window.partitionBy() with no keys, or
# Window.orderBy(...) called directly on Window) funnels its whole
# input through ONE task. That is fine over a BOUNDED frame (post
# limit(), a sub_partitions x k two-phase rank, an O(#steps) funnel
# table) and a scale-killer over anything row-sized — the shape that
# bit kaplan_meier's keyless mode in r11. Every such site must be
# reviewed and whitelisted here with its boundedness argument; a new
# unreviewed site fails this test.
UNPARTITIONED_WINDOW_WHITELIST = {
    # streaming funnel step table: O(#steps) rows by construction
    ("streaming/__init__.py", "event_funnel"),
    # the salted two-phase top-k kernel: with no key, the global rank
    # sees at most sub_partitions × k rows (the bucket-phase survivors)
    ("plans/topk.py", "two_phase_topk"),
    # BM25 global rank runs after .limit(k)
    ("operators/text.py", "bm25_topk"),
    # zipf ranks vocab_topk's output: max_vocab rows, bounded
    ("operators/text.py", "zipf_fit"),
    # nested topk(): rank window after .limit(k) (TakeOrdered first)
    ("operators/drift.py", "topk"),
    # rank over 2*top_k file rows (both sides post-limit)
    ("sources/__init__.py", "file_row_stats"),
    # the O(#sources) mixture table by contract (dashboard-grade)
    ("operators/sampling.py", "mixture_plan"),
    # ordinal rank midpoints: cumulative sum over the CATEGORY
    # marginal frame (label-vocabulary-sized by construction)
    ("operators/correlation.py", "krippendorff_alpha"),
}


def _enclosing_function(tree, lineno):
    best = None
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.lineno <= lineno <= max(
                    getattr(node, "end_lineno", node.lineno), node.lineno):
                if best is None or node.lineno > best.lineno:
                    best = node
    return best.name if best else "<module>"


def test_unpartitioned_windows_are_whitelisted():
    found = set()
    for py in sorted(PKG.rglob("*.py")):
        if py.name == "oracle.py":      # grading harness, not engine
            continue
        rel = str(py.relative_to(PKG))
        tree = ast.parse(py.read_text(), filename=str(py))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if not (isinstance(f, ast.Attribute)
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "Window"):
                continue
            # Window.partitionBy() with zero args, or Window.orderBy(...)
            if ((f.attr == "partitionBy" and not node.args
                 and not node.keywords) or f.attr == "orderBy"):
                found.add((rel, _enclosing_function(tree, node.lineno)))
    new = {s for s in found if s not in UNPARTITIONED_WINDOW_WHITELIST}
    assert not new, (
        "unreviewed unpartitioned window site(s) — each funnels its "
        "whole input through ONE task; prove the frame is bounded "
        "(post-limit / sub_partitions*k / O(#steps)) or use the "
        "frozen-boundary repartitionByRange + driver-prefix protocol "
        f"(see kaplan_meier keyless mode), then whitelist: {sorted(new)}")
