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
what those displays hold; any other splat sets every parameter. A
parameter whose every setter passes the same literal, equal to its
default, is unset too: its call sites only restate the constant. Only
the kinds below may stay unset, each for a reason named next to it.
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
    # The width of the input vectors: every caller's embeddings are
    # 64-d today, but it is a property of the data, not a tuning value.
    ("surya_spark/training/similarity.py", "embedding_lsh_pairs", "dim"):
        "embedding width of the input",
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
    """(positional args, keyword names, passed expressions) of a call;
    inf positional args or a None keyword name for a splat that may
    pass anything. The expressions are keyed by position or keyword
    name, for the arguments a call spells out."""
    exprs = {}
    for i, a in enumerate(call.args):
        if isinstance(a, ast.Starred):
            break
        exprs[i] = a
    exprs |= {k.arg: k.value for k in call.keywords if k.arg}
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
    return n_pos, kws, exprs


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


def _passed(site, i, prm):
    """What `site` passes for the parameter at position `i` (None for a
    keyword-only one) named `prm`: its expression, None when a splat
    may pass it, or False when the site does not pass it."""
    n_pos, kws, exprs = site
    if i is not None and i < n_pos:
        return exprs.get(i)
    if prm in kws:
        return exprs.get(prm)
    return None if None in kws else False


def _literal(expr):
    """(True, value) for a literal expression, else (False, None)."""
    try:
        return True, ast.literal_eval(expr)
    except (ValueError, TypeError, SyntaxError):
        return False, None


@functools.cache
def _parameters():
    """(module, function, parameter, default expression, [what each call
    site that passes it passes]) for every defaulted parameter under
    ``surya_spark/``."""
    trees = _trees()
    # name -> [_site(call)] of every call site
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
    out = []
    for mod, tree in trees.items():
        if not mod.startswith("surya_spark/"):
            continue
        for fn, cls in _functions(tree):
            a = fn.args
            pos = a.posonlyargs + a.args
            skip = 1 if _is_method(fn, cls) else 0
            names = [fn.name] + ([cls] if fn.name == "__init__" else [])
            sites = [s for n in names for s in calls[n]]
            first = len(pos) - len(a.defaults)
            defaulted = [(i - skip, arg.arg, a.defaults[i - first])
                         for i, arg in enumerate(pos) if i >= first]
            defaulted += [(None, arg.arg, d) for arg, d in
                          zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for i, prm, default in defaulted:
                passed = [_passed(s, i, prm) for s in sites]
                out.append((mod, fn.name, prm, default,
                            [v for v in passed if v is not False]))
    return out


@functools.cache
def census():
    """Sorted (module, function, parameter) of every defaulted parameter
    under ``surya_spark/`` that no call site passes."""
    return sorted((mod, fn, prm)
                  for mod, fn, prm, _, passed in _parameters() if not passed)


@functools.cache
def set_only_to_default():
    """Sorted (module, function, parameter) of every defaulted parameter
    under ``surya_spark/`` that call sites pass, every one of them the
    same literal, equal to the default."""
    out = []
    for mod, fn, prm, default, passed in _parameters():
        is_lit, value = _literal(default)
        if is_lit and passed and all(
                v is not None and _literal(v) == (True, value)
                for v in passed):
            out.append((mod, fn, prm))
    return sorted(out)


def _allowed(mod, fn, prm):
    return ((mod, fn, prm) in ALLOWED
            or any(mod.startswith(m) for m in ALLOWED_MODULES))


def test_every_defaulted_parameter_has_a_caller():
    unset = [k for k in census() if not _allowed(*k)]
    assert not unset, (
        f"{len(unset)} defaulted parameter(s) no call site sets; make each "
        "the constant it always is, or name its reason in ALLOWED:\n"
        + "\n".join(f"  {m}:{f}({p})" for m, f, p in unset))


def test_no_parameter_is_set_only_to_its_default():
    fixed = [k for k in set_only_to_default() if not _allowed(*k)]
    assert not fixed, (
        f"{len(fixed)} defaulted parameter(s) every call site sets to "
        "the default literal; make each the constant it always is, or "
        "name its reason in ALLOWED:\n"
        + "\n".join(f"  {m}:{f}({p})" for m, f, p in fixed))


def test_allowlist_names_live_parameters():
    # An allowlist entry whose parameter is gone (or now has a caller
    # that sets another value) would hide the next unset parameter of
    # the same name.
    unset = set(census()) | set(set_only_to_default())
    stale = sorted(k for k in ALLOWED if k not in unset)
    assert not stale, f"allowlist entries that are not unset: {stale}"
