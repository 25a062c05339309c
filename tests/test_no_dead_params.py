"""Every defaulted parameter of a ``logboost_spark`` function is passed
by some call in the repo. A default that no caller overrides is a
constant in disguise: it belongs at the point of use.

A parameter counts as passed when some ``ast.Call`` to a function of
the same name passes it by keyword or by position, in the package,
``main.py``, ``__spark_entry__.py``, ``tools/``, ``tests/`` or the
benchmark (``perfbench/*.py``). A call with ``*args`` or ``**kwargs``
counts as passing everything. Matching is by bare name, so two
functions that share a name share their callers; that errs towards
keeping a parameter."""

import ast
import glob
import math
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources(*patterns):
    for pattern in patterns:
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            with open(path) as f:
                yield os.path.relpath(path, ROOT), ast.parse(f.read())


def _callee(call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _passed(trees):
    """callee name -> (most positional arguments in one call, keyword
    names); a call with ``*args`` or ``**kwargs`` counts as infinitely
    many positional arguments."""
    most, kws = {}, {}
    for _, tree in trees:
        for node in ast.walk(tree):
            name = _callee(node) if isinstance(node, ast.Call) else None
            if name is None:
                continue
            n = len(node.args)
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                n = math.inf
            most[name] = max(most.get(name, 0), n)
            kws.setdefault(name, set()).update(k.arg for k in node.keywords)
    return most, kws


def _defaulted(fn):
    """(name, positional index or None) of each defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    for i, arg in enumerate(positional[first:], start=first):
        yield arg.arg, i
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None


def dead_params():
    package = list(_sources("logboost_spark/**/*.py"))
    callers = package + list(
        _sources("main.py", "__spark_entry__.py", "tools/*.py",
                 "tests/*.py", "perfbench/*.py")
    )
    most, kws = _passed(callers)
    dead = []
    for path, tree in package:
        # a constructor is called by its class's name
        callee = {
            id(fn): cls.name
            for cls in ast.walk(tree) if isinstance(cls, ast.ClassDef)
            for fn in cls.body
            if isinstance(fn, ast.FunctionDef) and fn.name == "__init__"
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            name = callee.get(id(fn), fn.name)
            n, named = most.get(name, 0), kws.get(name, set())
            # a method's first parameter is its receiver, not a call argument
            shift = 1 if fn.args.args and fn.args.args[0].arg in ("self", "cls") else 0
            for param, i in _defaulted(fn):
                if i is None:  # keyword-only
                    passed = param in named or n == math.inf
                else:
                    passed = param in named or n > i - shift
                if not passed:
                    dead.append(f"{path}:{fn.lineno} {fn.name}({param})")
    return dead


def test_every_defaulted_parameter_has_a_caller():
    assert dead_params() == []


if __name__ == "__main__":
    print("\n".join(dead_params()))
