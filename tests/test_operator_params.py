"""Functions take only what a caller sets: every defaulted parameter of
a public top-level function in any ``ulh_etl_spark`` module must be
passed by at least one call site. A default nobody overrides is a
module constant, and the branch its other values would select is code
no test runs.

Reads source files only (no Spark session). A call is matched to a
definition by name, so names defined more than once in the package are
skipped; a call that unpacks ``*args`` or ``**kwargs`` counts as
passing every parameter."""

import ast
import collections
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "ulh_etl_spark"
CHECKED = sorted(PKG.rglob("*.py"))
CALLERS = [
    *PKG.rglob("*.py"),
    *(ROOT / "tools").rglob("*.py"),
    ROOT / "bench.py",
    *(ROOT / "perfbench").rglob("*.py"),
    *(ROOT / "examples").rglob("*.py"),
    *(ROOT / "tests").rglob("*.py"),
]


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each defaulted
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [
        (None, p.arg)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _passes(call: ast.Call, pos: int | None, name: str) -> bool:
    if any(isinstance(x, ast.Starred) for x in call.args):
        return True
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    return pos is not None and len(call.args) > pos


def test_every_defaulted_operator_parameter_is_passed():
    n_defs = collections.Counter(
        n.name
        for path in PKG.rglob("*.py")
        for n in _parse(path).body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    )
    checked = {}
    for path in CHECKED:
        for n in _parse(path).body:
            if (
                isinstance(n, ast.FunctionDef)
                and not n.name.startswith("_")
                and n_defs[n.name] == 1
            ):
                checked[n.name] = (path.relative_to(ROOT), n)
    calls = collections.defaultdict(list)
    for path in CALLERS:
        for n in ast.walk(_parse(path)):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = (
                f.id if isinstance(f, ast.Name)
                else f.attr if isinstance(f, ast.Attribute)
                else None
            )
            if name in checked:
                calls[name].append(n)
    never = [
        f"{path}:{fn.lineno} {name}({param})"
        for name, (path, fn) in sorted(checked.items())
        for pos, param in _defaulted(fn)
        if not any(_passes(c, pos, param) for c in calls[name])
    ]
    assert never == [], (
        f"{len(never)} defaulted parameters no caller passes; make each "
        "a module constant:\n" + "\n".join(never)
    )
