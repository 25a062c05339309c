"""No code without a caller: four AST scans over ``logboost_spark``.

A. Every defaulted parameter is passed by some call. A default that no
   caller overrides is a constant in disguise: it belongs at the point
   of use.
B. No parameter is passed one literal by every call. A call that omits
   the argument passes its default. One value in use makes the
   parameter a constant too.
C. Every parameter of a module-level function is read by its body.
D. Every module-level function is named by program code: the package,
   ``main.py``, ``__spark_entry__.py``, ``tools/`` (including Python
   held in its string constants) and the benchmark (``perfbench/*.py``).
   A function only tests call is code nothing runs.

Calls are found in the program code and ``tests/``. Matching is by
bare name, so two functions that share a name share their callers; that
errs towards keeping. A call with ``*args`` or ``**kwargs`` counts as
passing anything. The reference oracles (``oracle.py``,
``entry_oracles.py``) are exempt from B-D; C skips methods (an
interface fixes their signature) and the gate functions of
``entry_queries.QUERIES`` (``__spark_entry__.queries()`` promises each
a ``(spark, sf_dir)`` signature).

``python tests/test_no_dead_params.py`` prints every finding as
``file:line name(param)`` (D: ``file:line name``)."""

import ast
import functools
import glob
import math
import os
import string

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = ("logboost_spark/**/*.py",)
PROGRAM = ("main.py", "__spark_entry__.py", "tools/*.py", "perfbench/*.py")
TESTS = ("tests/*.py",)
ORACLES = {"logboost_spark/oracle.py", "logboost_spark/entry_oracles.py"}

#: check B findings kept on purpose: (function, parameter) -> reason
FIXED_KEEPS = {
    ("sampled_codebook", "n_cells"):
        "must equal the n_cells its codebook is probed with by "
        "cosine_topk_ivf, which tests vary",
}


def _sources(*patterns):
    for pattern in patterns:
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            with open(path) as f:
                yield os.path.relpath(path, ROOT), ast.parse(f.read())


def _snippets(trees):
    """Python held in string constants (``tools/bench_scaling.py``'s
    ``RUN_SNIPPET``), with its ``str.format`` fields rendered as names."""
    for path, tree in trees:
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and "logboost_spark" in node.value):
                continue
            try:
                code = "".join(
                    text + (field or "")
                    for text, field, _, _ in string.Formatter().parse(node.value)
                )
                yield path, ast.parse(code)
            except (SyntaxError, ValueError):
                continue


@functools.cache
def _trees():
    """(package, program, callers): callers is program code plus tests."""
    package = list(_sources(*PACKAGE))
    program = package + list(_sources(*PROGRAM))
    program += list(_snippets(program))
    return package, program, program + list(_sources(*TESTS))


def _callee(call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _calls(trees):
    """callee name -> every ``ast.Call`` of that name."""
    calls = {}
    for _, tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and (name := _callee(node)):
                calls.setdefault(name, []).append(node)
    return calls


def _functions(package, methods=True):
    """(path, callee name, def, receiver shift) of each function of the
    package outside the oracles; a constructor is called by its class's
    name and a method's first parameter is its receiver."""
    for path, tree in package:
        if path in ORACLES:
            continue
        top = [fn for fn in tree.body if isinstance(fn, ast.FunctionDef)]
        inits = {
            id(fn): cls.name
            for cls in ast.walk(tree) if isinstance(cls, ast.ClassDef)
            for fn in cls.body
            if isinstance(fn, ast.FunctionDef) and fn.name == "__init__"
        }
        for fn in ast.walk(tree) if methods else top:
            if isinstance(fn, ast.FunctionDef):
                args = fn.args.posonlyargs + fn.args.args
                shift = 1 if args and args[0].arg in ("self", "cls") else 0
                yield path, inits.get(id(fn), fn.name), fn, shift


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


def dead_params(package, callers):
    """A: defaulted parameters that no call passes."""
    most, kws = {}, {}
    for name, calls in _calls(callers).items():
        for call in calls:
            n = len(call.args)
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                n = math.inf
            most[name] = max(most.get(name, 0), n)
            kws.setdefault(name, set()).update(k.arg for k in call.keywords)
    dead = []
    for path, name, fn, shift in _functions(package):
        n, named = most.get(name, 0), kws.get(name, set())
        for param, i in _defaulted(fn):
            if i is None:  # keyword-only
                passed = param in named or n == math.inf
            else:
                passed = param in named or n > i - shift
            if not passed:
                dead.append(f"{path}:{fn.lineno} {fn.name}({param})")
    return dead


_UNKNOWN = object()


def _literal(node):
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _UNKNOWN
    return type(value), repr(value)


def _bound(fn, shift, call):
    """parameter -> the literal ``call`` passes it (its default when
    omitted), or ``_UNKNOWN``."""
    a = fn.args
    positional = [x.arg for x in a.posonlyargs + a.args][shift:]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    defaults.update(
        (x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    if any(isinstance(x, ast.Starred) for x in call.args):
        return {}
    given = dict(zip(positional, call.args))
    given.update((k.arg, k.value) for k in call.keywords if k.arg is not None)
    spread = any(k.arg is None for k in call.keywords)
    out = {}
    for param in positional + [x.arg for x in a.kwonlyargs]:
        if param in given:
            out[param] = _literal(given[param])
        elif param in defaults and not spread:
            out[param] = _literal(defaults[param])
        else:
            out[param] = _UNKNOWN
    return out


def _passed_on(trees):
    """Bare names used as a value, not called: such a function is
    called where its value goes, with arguments no call site shows.
    (``row.simhash`` is a column, not the function.)"""
    called, used = set(), set()
    for _, tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                called.add(id(node.func))
            elif isinstance(node, ast.Name) and id(node) not in called:
                used.add(node.id)
    return used


def fixed_params(package, callers):
    """B: parameters that every call passes one literal."""
    calls, passed_on = _calls(callers), _passed_on(callers)
    fixed = []
    for path, name, fn, shift in _functions(package):
        if name in passed_on:
            continue
        values = {}
        for call in calls.get(name, []):
            for param, value in _bound(fn, shift, call).items():
                values.setdefault(param, set()).add(value)
        for param, seen in values.items():
            kept = (name, param) in FIXED_KEEPS
            if len(seen) == 1 and _UNKNOWN not in seen and not kept:
                fixed.append(f"{path}:{fn.lineno} {fn.name}({param})")
    return fixed


def _gate_functions(package):
    """Names of the functions in ``entry_queries.QUERIES``."""
    for path, tree in package:
        if path == "logboost_spark/entry_queries.py":
            for node in tree.body:
                if isinstance(node, ast.Assign) and [
                    getattr(t, "id", None) for t in node.targets
                ] == ["QUERIES"]:
                    return {v.id for v in node.value.values}
    return set()


def unread_params(package):
    """C: parameters of module-level functions that the body never reads."""
    gates = _gate_functions(package)
    unread = []
    for path, name, fn, _ in _functions(package, methods=False):
        if name in gates:
            continue
        read = {
            node.id
            for stmt in fn.body
            for node in ast.walk(stmt)
            if isinstance(node, ast.Name)
        }
        a = fn.args
        params = a.posonlyargs + a.args + a.kwonlyargs + [
            x for x in (a.vararg, a.kwarg) if x is not None
        ]
        unread += [
            f"{path}:{fn.lineno} {fn.name}({p.arg})"
            for p in params if p.arg not in read
        ]
    return unread


def _names(tree, skip=None):
    """Every name ``tree`` refers to, outside the subtree ``skip``; an
    import alias stands for the name it imports."""
    alias, found, inside = {}, set(), set()
    if skip is not None:
        inside = {id(node) for node in ast.walk(skip)}
    for node in ast.walk(tree):
        if id(node) in inside:
            continue
        if isinstance(node, ast.Name):
            found.add(node.id)
        elif isinstance(node, ast.Attribute):
            found.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            alias.update((a.asname, a.name) for a in node.names if a.asname)
    return found | {alias[n] for n in found if n in alias}


def uncalled_functions(package, program):
    """D: module-level functions that no program code names."""
    names = {}
    for path, tree in program:
        names.setdefault(path, set()).update(_names(tree))
    uncalled = []
    for path, name, fn, _ in _functions(package, methods=False):
        # named by another file, or by its own file outside its body
        if any(name in found for p, found in names.items() if p != path):
            continue
        tree = next(t for p, t in package if p == path)
        if name not in _names(tree, skip=fn):
            uncalled.append(f"{path}:{fn.lineno} {fn.name}")
    return uncalled


def findings():
    package, program, callers = _trees()
    return {
        "A: defaulted, never passed": dead_params(package, callers),
        "B: one literal in every call": fixed_params(package, callers),
        "C: never read": unread_params(package),
        "D: no program caller": uncalled_functions(package, program),
    }


def test_every_defaulted_parameter_has_a_caller():
    package, _, callers = _trees()
    assert dead_params(package, callers) == []


def test_no_parameter_has_one_value_in_use():
    package, _, callers = _trees()
    assert fixed_params(package, callers) == []


def test_every_parameter_is_read():
    package, _, _ = _trees()
    assert unread_params(package) == []


def test_every_function_has_a_program_caller():
    package, program, _ = _trees()
    assert uncalled_functions(package, program) == []


if __name__ == "__main__":
    for check, found in findings().items():
        print(f"{check}: {len(found)}")
        print("".join(f"  {line}\n" for line in found), end="")
