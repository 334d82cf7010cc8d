"""Every defaulted parameter under ``surya_spark/`` has a caller.

A default that no call site in the repo overrides is a constant in
disguise: it names a configuration that no test, oracle or benchmark
runs. This census parses every Python file of the repo with ``ast``
(no Spark, well under a second) and, for each defaulted parameter of a
function under ``surya_spark/``, looks for a call site that passes it,
by keyword or by position. Calls are matched to functions by name;
``Class(...)`` sets ``Class.__init__``'s parameters, a method's first
parameter (``self``/``cls``) is skipped, and a call through
``getattr(obj, name)(...)`` counts as a call of every function that a
string literal of its module names. A ``*args``/``**kwargs`` splat of a
name its function binds only to tuple, list or dict displays (directly,
through ``a if c else b``, or as the items a ``for`` loop iterates) sets
what those displays hold; any other splat sets every parameter. Only the
kinds below may stay unset, each for a reason named next to it.
"""
from __future__ import annotations

import ast
import functools
import pathlib
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parents[1]
# Where call sites are searched: the library, its tests, the benchmark,
# the scripts and tools, and the two entry files.
CALLER_DIRS = ("surya_spark", "tests", "perfbench", "scripts", "tools")
CALLER_FILES = ("__spark_entry__.py", "bench.py")

# Whole modules whose defaults are deployment policy, not tuning values.
ALLOWED_MODULES = {
    # trigger, watermark, window and schema settings of a stream
    "surya_spark/streaming/",
    # drawing data (colours, fonts, line widths) of the debug renderer
    "surya_spark/sources/debug_draw.py",
    # folder loading options (glob, recursion) of the file source
    "surya_spark/sources/files.py",
}

# (module, function, parameter): the reason it may stay unset.
ALLOWED = {
    # Model, extractor and decoder slots: a deployment passes a real
    # model where the tests and benchmark run the surrogate default.
    ("surya_spark/pipeline.py", "extract", "layout_slot"): "model slot",
    ("surya_spark/operators/layout.py", "layout_stage", "slot"): "model slot",
    ("surya_spark/operators/recognition.py", "recognize_blocks", "slot"):
        "model slot",
    ("surya_spark/operators/tables.py", "table_items", "slot"): "model slot",
    ("surya_spark/operators/tables.py", "table_stage_from_crops", "slot"):
        "model slot",
    ("surya_spark/operators/ocr_error.py", "classify_spans", "model_udf"):
        "model slot",
    ("surya_spark/training/multimodal.py", "media_metadata", "decoder"):
        "decoder slot",
    ("surya_spark/training/multimodal.py", "media_features", "extractor"):
        "feature-extractor slot",
    # The Qwen codec: a deployment passes the real tokenizer's.
    ("surya_spark/functions/tokenruns.py", "tokenize_py", "qwen_encode"):
        "real tokenizer",
    ("surya_spark/functions/tokenruns.py", "decode_token_runs_udf",
     "qwen_decode"): "real tokenizer",
    # A real detector's caller scales each image's polygons to the page.
    ("surya_spark/functions/geometry.py", "bbox6_to_poly", "x_scale"):
        "per-image scale of a real detector",
    ("surya_spark/functions/geometry.py", "bbox6_to_poly", "y_scale"):
        "per-image scale of a real detector",
    # The reference CLI's page range.
    ("surya_spark/operators/slots.py", "render_pdf_pages", "indices"):
        "page range of the reference CLI",
    # The zero margins compile to `+ 0.0` terms in the plans of
    # overlap_pairs, penalized_iou and spanning_cells; removing them
    # changes those plans, which wants a measured change of its own.
    ("surya_spark/functions/geometry.py", "intersection_pct", "x_margin"):
        "plan-visible zero margin",
    ("surya_spark/functions/geometry.py", "intersection_pct", "y_margin"):
        "plan-visible zero margin",
}


def _trees():
    paths = [p for d in CALLER_DIRS for p in (ROOT / d).rglob("*.py")
             if ".perfbench_work" not in p.parts]
    paths += [ROOT / f for f in CALLER_FILES if (ROOT / f).exists()]
    return {p.relative_to(ROOT).as_posix(): ast.parse(p.read_text())
            for p in paths}


def _functions(tree):
    """(function node, class name or None) for every def in ``tree``."""
    out = []

    def visit(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.append((child, cls))
                visit(child, None)
            else:
                visit(child, cls)

    visit(tree, None)
    return out


def _is_method(fn, cls):
    return cls is not None and not any(
        getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)


def _bindings(tree):
    """name -> every expression `tree` binds it to: assignments, and the
    items of a tuple or list a ``for`` loop iterates."""
    out = defaultdict(list)
    for n in ast.walk(tree):
        if isinstance(n, ast.Assign):
            for t in n.targets:
                if isinstance(t, ast.Name):
                    out[t.id].append(n.value)
        elif isinstance(n, ast.For) and isinstance(n.target, ast.Name):
            out[n.target.id] += (n.iter.elts if isinstance(
                n.iter, (ast.Tuple, ast.List)) else [n.iter])
    return out


def _displays(expr, binds, seen=()):
    """The tuple/list/dict displays `expr` can evaluate to, or None when
    any value it can take is not such a display."""
    if isinstance(expr, (ast.Tuple, ast.List, ast.Dict)):
        return [expr]
    if isinstance(expr, ast.IfExp):
        alts = [expr.body, expr.orelse]
    elif (isinstance(expr, ast.Name) and expr.id in binds
          and expr.id not in seen):
        alts, seen = binds[expr.id], (*seen, expr.id)
    else:
        return None
    found = [_displays(e, binds, seen) for e in alts]
    return None if None in found else [d for ds in found for d in ds]


def _site(call, binds):
    """(positional args, keyword names) a call passes; inf positional
    args or a None keyword name for a splat that may pass anything."""
    n_pos = 0
    for a in call.args:
        if not isinstance(a, ast.Starred):
            n_pos += 1
            continue
        seqs = _displays(a.value, binds)
        if seqs is None or any(isinstance(d, ast.Dict) for d in seqs):
            n_pos = float("inf")
            break
        n_pos += max(len(d.elts) for d in seqs)
    kws = set()
    for k in call.keywords:
        if k.arg:
            kws.add(k.arg)
            continue
        dicts = _displays(k.value, binds)
        if dicts is None or not all(isinstance(d, ast.Dict) for d in dicts):
            kws.add(None)
        else:  # a non-constant key (or a nested ** splat) reads as None
            kws |= {getattr(key, "value", None)
                    for d in dicts for key in d.keys}
    return n_pos, kws


def _scoped_calls(tree):
    """(call, the bindings of its innermost enclosing function, or of the
    module) for every call in `tree`."""
    out = []

    def visit(node, binds):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, _bindings(child))
                continue
            if isinstance(child, ast.Call):
                out.append((child, binds))
            visit(child, binds)

    visit(tree, _bindings(tree))
    return out


@functools.cache
def census():
    """Sorted (module, function, parameter) of every defaulted parameter
    under ``surya_spark/`` that no call site passes."""
    trees = _trees()
    # name -> [(positional args, keyword names)] of every call site
    calls = defaultdict(list)
    for tree in trees.values():
        strings = {n.value for n in ast.walk(tree)
                   if isinstance(n, ast.Constant) and isinstance(n.value, str)}
        for c, binds in _scoped_calls(tree):
            site = _site(c, binds)
            if getattr(getattr(c.func, "func", None), "id", None) == "getattr":
                for name in strings:
                    calls[name].append(site)
            else:
                calls[getattr(c.func, "attr", getattr(c.func, "id", None))] \
                    .append(site)
    unset = []
    for mod, tree in trees.items():
        if not mod.startswith("surya_spark/"):
            continue
        for fn, cls in _functions(tree):
            a = fn.args
            pos = a.posonlyargs + a.args
            skip = 1 if _is_method(fn, cls) else 0
            names = [fn.name] + ([cls] if fn.name == "__init__" else [])
            sites = [s for n in names for s in calls[n]]
            defaulted = [(i, arg.arg) for i, arg in enumerate(pos)
                         if i >= len(pos) - len(a.defaults)]
            defaulted += [(None, arg.arg) for arg, d in
                          zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for i, prm in defaulted:
                if not any(prm in kws or None in kws
                           or (i is not None and i - skip < n_pos)
                           for n_pos, kws in sites):
                    unset.append((mod, fn.name, prm))
    return sorted(unset)


def _allowed(mod, fn, prm):
    return ((mod, fn, prm) in ALLOWED
            or any(mod.startswith(m) for m in ALLOWED_MODULES))


def test_every_defaulted_parameter_has_a_caller():
    unset = [k for k in census() if not _allowed(*k)]
    assert not unset, (
        f"{len(unset)} defaulted parameter(s) no call site sets; make each "
        "the constant it always is, or name its reason in ALLOWED:\n"
        + "\n".join(f"  {m}:{f}({p})" for m, f, p in unset))


def test_allowlist_names_live_parameters():
    # An allowlist entry whose parameter is gone (or now has a caller)
    # would hide the next unset parameter of the same name.
    unset = set(census())
    stale = sorted(k for k in ALLOWED if k not in unset)
    assert not stale, f"allowlist entries that are not unset: {stale}"
