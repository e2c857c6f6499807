"""Every defaulted parameter of a public package function has a caller
that sets it.

An option nobody sets is one more value every reader, test and
benchmark has to consider for no caller's benefit: it becomes the value
it always had, written once. This test finds such options with ``ast``
alone (no Spark session).

The rule: for each public top-level function (name not starting with
``_``) in a public module of the package, each parameter with a default
must be set by at least one call site in the package, ``tools/``,
``perfbench/``, ``__spark_entry__.py``, ``bench.py`` or ``tests/``. A
call site is any call whose callee is the function's name, bare or as an
attribute. It sets a parameter by position or by keyword; a ``*args``
call sets every parameter from its position on, and a ``**kwargs`` call
sets every parameter.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "bigdata_electricity_spark"
CALLER_ROOTS = (PACKAGE, "tools", "perfbench", "tests",
                "__spark_entry__.py", "bench.py")


def _py_files(path):
    if path.endswith(".py"):
        yield path
        return
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__pycache__"))]
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def defaulted_params():
    """{(module, function): [parameter names with defaults, in order]}
    plus each function's positional parameter order."""
    out = {}
    for path in _py_files(os.path.join(ROOT, PACKAGE)):
        rel = os.path.relpath(path, ROOT)
        if any(part.startswith("_") and part != "__init__.py"
               for part in rel.split(os.sep)):
            continue
        for node in _parse(path).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_"):
                continue
            a = node.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            with_default = positional[len(positional) - len(a.defaults):]
            with_default += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                             if d is not None]
            if with_default:
                out[(rel, node.name)] = (positional, with_default)
    return out


def set_params_by_name():
    """{function name: [(positions set, keywords set, sets everything)]}
    over every call site under CALLER_ROOTS."""
    calls = {}
    for root in CALLER_ROOTS:
        for path in _py_files(os.path.join(ROOT, root)):
            for node in ast.walk(_parse(path)):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else (
                    f.attr if isinstance(f, ast.Attribute) else None)
                if name is None:
                    continue
                n_pos, star_from = 0, None
                for arg in node.args:
                    if isinstance(arg, ast.Starred):
                        star_from = n_pos
                        break
                    n_pos += 1
                kws = {k.arg for k in node.keywords if k.arg is not None}
                all_kw = any(k.arg is None for k in node.keywords)
                calls.setdefault(name, []).append((n_pos, star_from, kws, all_kw))
    return calls


def unset_options():
    calls = set_params_by_name()
    unset = []
    for (rel, fn), (positional, with_default) in sorted(defaulted_params().items()):
        for param in with_default:
            idx = positional.index(param) if param in positional else None
            used = False
            for n_pos, star_from, kws, all_kw in calls.get(fn, ()):
                if all_kw or param in kws:
                    used = True
                elif idx is not None and (
                        idx < n_pos or (star_from is not None and idx >= star_from)):
                    used = True
                if used:
                    break
            if not used:
                unset.append(f"{rel}:{fn}.{param}")
    return unset


def test_every_defaulted_parameter_is_set_by_some_caller():
    unset = unset_options()
    assert not unset, (
        f"{len(unset)} defaulted parameter(s) that no caller sets; make each "
        "the value it always has:\n  " + "\n  ".join(unset))
