"""Every option has a caller: each defaulted parameter of a public engine
function is bound by some call in the repository, and each ``DedupConfig``
field is set by some ``DedupConfig(...)`` call. A value no caller sets is a
constant (``DedupConfig`` keeps those as ``ClassVar`` settings). Every
default is also taken by some call: a parameter every call binds is
required.

Pure ``ast``, no Spark. A call is matched to a definition by its name; it
binds a parameter by keyword or by position, and a call that unpacks
``*args`` or ``**kwargs`` binds every parameter.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "entity_deduplication_spark"
CALLERS = [
    PACKAGE,
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "perfbench",
    ROOT / "tests",
    ROOT / "tools",
]


@cache
def _trees() -> dict[Path, ast.Module]:
    files: list[Path] = []
    for p in CALLERS:
        files += [p] if p.is_file() else sorted(p.rglob("*.py"))
    return {f: ast.parse(f.read_text(), str(f)) for f in files}


@cache
def _calls() -> list[tuple[str, ast.Call]]:
    out = []
    for tree in _trees().values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name:
                    out.append((name, node))
    return out


def _public_defaults():
    """(call name, [(param, position or None)]) for every public function
    and every public method of a public class; a constructor is called by
    its class name."""
    for path, tree in _trees().items():
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                members = [(node, node.name, 0)]
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                members = [
                    (m, node.name if m.name == "__init__" else m.name, 1)
                    for m in node.body
                    if isinstance(m, ast.FunctionDef)
                ]
            else:
                continue
            for fn, call_name, skip in members:
                if fn.name.startswith("_") and fn.name != "__init__":
                    continue
                a = fn.args
                pos = (a.posonlyargs + a.args)[skip:]
                first = len(pos) - len(a.defaults)
                params = [(arg.arg, first + i) for i, arg in enumerate(pos[first:])]
                params += [
                    (arg.arg, None)
                    for arg, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                ]
                yield call_name, params


def test_every_defaulted_parameter_is_bound_by_some_call():
    keywords, n_positional, unpacks = defaultdict(set), defaultdict(int), set()
    for name, call in _calls():
        keywords[name].update(k.arg for k in call.keywords if k.arg)
        n_positional[name] = max(n_positional[name], len(call.args))
        if None in (k.arg for k in call.keywords) or any(
            isinstance(a, ast.Starred) for a in call.args
        ):
            unpacks.add(name)
    unbound = [
        f"{name}({param})"
        for name, params in _public_defaults()
        if name not in unpacks
        for param, position in params
        if param not in keywords[name]
        and (position is None or position >= n_positional[name])
    ]
    assert not unbound, f"defaulted parameters no call binds: {unbound}"


def test_every_dedup_config_field_is_set_by_some_call():
    cls = next(
        n
        for n in _trees()[PACKAGE / "config.py"].body
        if isinstance(n, ast.ClassDef) and n.name == "DedupConfig"
    )
    fields = [
        s.target.id
        for s in cls.body
        if isinstance(s, ast.AnnAssign) and "ClassVar" not in ast.unparse(s.annotation)
    ]
    set_by_calls = set()
    for name, call in _calls():
        if name == "DedupConfig":
            set_by_calls.update(k.arg for k in call.keywords)
            set_by_calls.update(fields[: len(call.args)])
    unset = [f for f in fields if f not in set_by_calls]
    assert fields and not unset, f"DedupConfig fields no call sets: {unset}"


def test_every_default_is_taken_by_some_call():
    """A default exists only where some call omits its parameter: a call
    that unpacks ``*args`` or ``**kwargs`` counts as binding everything,
    so it takes no default."""
    calls = defaultdict(list)
    for name, call in _calls():
        if None not in (k.arg for k in call.keywords) and not any(
            isinstance(a, ast.Starred) for a in call.args
        ):
            calls[name].append(
                ({k.arg for k in call.keywords}, len(call.args))
            )
    never_taken = [
        f"{name}({param})"
        for name, params in _public_defaults()
        for param, position in params
        if not any(
            param not in keywords and (position is None or position >= n_args)
            for keywords, n_args in calls[name]
        )
    ]
    assert not never_taken, f"defaults no call takes: {never_taken}"
