"""Gate order, derived from the verdict records and a transitive fingerprint.

The external correctness gate walks ``__spark_entry__.queries()`` in order
under a time budget, so the order decides which verdicts get refreshed
first. A query is *fresh* when both hold:

- its latest verdict across ``CORRECTNESS_r*.json`` passed: rows, schema
  and hash match, and ``err`` is null;
- ``tools/query_fingerprints.json`` pins, for that same round, the
  fingerprint the query has now.

The fingerprint is a sha256 over the oracle SQL plus the source of every
in-package function, class and module constant the builder reaches. A
builder reaches code through global names, ``module.attr`` chains,
function-local imports, and the whole body of a reached class (so its
methods). Reaching the pipeline plugin ``Registry`` reaches every
registered plugin, since a pipeline document names its steps by string.
Sources are hashed as text, not by location: moving an unchanged helper
to another module changes no fingerprint.

Known limit: data files a builder reads (YAML pipeline documents,
fixtures) are not fingerprinted, so editing one leaves the queries that
read it fresh.

``gate_order`` puts queries that are not fresh first, oldest passing
verdict round first (never judged, or latest verdict red, counts as round
0); fresh queries come next, then queries without oracle SQL. Ties keep
definition order. Only ``tools/gen_fingerprints.py`` writes the pins.
``queries`` never imports this module: the order costs a walk over the
package source, paid when the gate asks for it, not at import.
"""

from __future__ import annotations

import ast
import glob
import hashlib
import importlib
import importlib.util
import json
import os
import re
from typing import Any

PACKAGE = __name__.rpartition(".")[0]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PINS = os.path.join("tools", "query_fingerprints.json")
_VERDICT_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")
_PLUGIN_REGISTRY = ("obj", f"{PACKAGE}.plans.registry", "Registry")
_SKIP_FIELDS = frozenset({"annotation", "returns"})

# ("mod", module) names a module; ("obj", module, name) a top-level
# function, class or constant of an in-package module.
Ref = tuple[str, ...]


def _in_package(module: str) -> bool:
    return module == PACKAGE or module.startswith(PACKAGE + ".")


def _bound_names(st: ast.stmt) -> list[str]:
    if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [st.name]
    if isinstance(st, ast.Import):
        return [a.asname or a.name.split(".")[0] for a in st.names]
    if isinstance(st, ast.ImportFrom):
        return [a.asname or a.name for a in st.names if a.name != "*"]
    targets = st.targets if isinstance(st, ast.Assign) else [getattr(st, "target", None)]
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, (ast.Tuple, ast.List)) else [t]
        names += [e.id for e in elts if isinstance(e, ast.Name)]
    return names


class _Module:
    """One in-package module's source lines and top-level bindings."""

    def __init__(self, name: str, spec: Any) -> None:
        with open(spec.origin, encoding="utf-8") as fh:
            self.lines = fh.read().splitlines(keepends=True)
        self.name = name
        is_pkg = spec.submodule_search_locations is not None
        self.package = name if is_pkg else name.rpartition(".")[0]
        self.bindings: dict[str, list[ast.stmt]] = {}
        self._bind(ast.parse("".join(self.lines)).body)

    def _bind(self, body: list[ast.stmt]) -> None:
        for st in body:
            if isinstance(st, (ast.If, ast.Try)):  # guarded imports and defs
                handlers = [s for h in getattr(st, "handlers", []) for s in h.body]
                self._bind(st.body + st.orelse + handlers + getattr(st, "finalbody", []))
                continue
            for name in _bound_names(st):
                self.bindings.setdefault(name, []).append(st)

    def source(self, st: ast.stmt) -> str:
        first = min([st.lineno] + [d.lineno for d in getattr(st, "decorator_list", [])])
        return "".join(self.lines[first - 1 : st.end_lineno])


class Fingerprinter:
    """Walks builders' references over the package source; memoises each
    module's parse and each object's source and references, so one
    instance fingerprints the whole registry in one pass."""

    def __init__(self) -> None:
        self._modules: dict[str, _Module | None] = {}
        self._resolved: dict[tuple[str, str], Ref | None] = {}
        self._nodes: dict[Ref, tuple[str, set[Ref]]] = {}

    def _module(self, name: str) -> _Module | None:
        if name not in self._modules:
            spec = None
            if _in_package(name):
                try:
                    spec = importlib.util.find_spec(name)
                except (ImportError, ValueError):
                    spec = None
            ok = spec is not None and spec.origin and spec.origin.endswith(".py")
            self._modules[name] = _Module(name, spec) if ok else None
        return self._modules[name]

    def _module_ref(self, name: str) -> Ref | None:
        return ("mod", name) if self._module(name) is not None else None

    def resolve(self, module: str, name: str) -> Ref | None:
        """What ``name`` means at the top level of ``module``, following
        re-exports to the defining module."""
        key = (module, name)
        if key not in self._resolved:
            self._resolved[key] = None  # guards import cycles
            m = self._module(module)
            ref = None
            if m is not None:
                stmts = m.bindings.get(name, [])
                if any(not isinstance(s, (ast.Import, ast.ImportFrom)) for s in stmts):
                    ref = ("obj", module, name)
                elif stmts:
                    ref = self._import_ref(m, stmts[-1], name)
                else:  # a submodule its package does not bind
                    ref = self._module_ref(f"{module}.{name}")
            self._resolved[key] = ref
        return self._resolved[key]

    def _import_ref(self, m: _Module, st: ast.Import | ast.ImportFrom, bound: str) -> Ref | None:
        if isinstance(st, ast.Import):
            for a in st.names:
                if (a.asname or a.name.split(".")[0]) == bound:
                    return self._module_ref(a.name if a.asname else bound)
            return None
        base = st.module or ""
        if st.level:
            base = importlib.util.resolve_name("." * st.level + base, m.package)
        for a in st.names:
            if (a.asname or a.name) == bound:
                return self.resolve(base, a.name) if _in_package(base) else None
        return None

    def _refs(self, m: _Module, st: ast.stmt, decorators: bool = True) -> set[Ref]:
        """Top-level objects ``st`` reaches by name, attribute chain or
        local import. Annotations are skipped: they never run."""
        local: dict[str, Ref | None] = {}
        for n in ast.walk(st):
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                for bound in _bound_names(n):
                    local[bound] = self._import_ref(m, n, bound)
        out = {r for r in local.values() if r is not None and r[0] == "obj"}

        def lookup(name: str) -> Ref | None:
            return local[name] if name in local else self.resolve(m.name, name)

        stack: list[ast.AST] = [st]
        while stack:
            n = stack.pop()
            if isinstance(n, ast.Attribute):
                attrs = []
                base: ast.AST = n
                while isinstance(base, ast.Attribute):
                    attrs.append(base.attr)
                    base = base.value
                if not isinstance(base, ast.Name):
                    stack.append(base)
                    continue
                ref = lookup(base.id)
                for attr in reversed(attrs):
                    if ref is None or ref[0] != "mod":
                        break
                    ref = self.resolve(ref[1], attr)
                if ref is not None and ref[0] == "obj":
                    out.add(ref)
                continue
            if isinstance(n, ast.Name):
                ref = lookup(n.id) if isinstance(n.ctx, ast.Load) else None
                if ref is not None and ref[0] == "obj":
                    out.add(ref)
                continue
            for field, value in ast.iter_fields(n):
                if field in _SKIP_FIELDS or (field == "decorator_list" and not decorators and n is st):
                    continue
                items = value if isinstance(value, list) else [value]
                stack += [v for v in items if isinstance(v, ast.AST)]
        return out

    def _node(self, ref: Ref) -> tuple[str, set[Ref]]:
        if ref not in self._nodes:
            m = self._module(ref[1])
            stmts = [
                s for s in m.bindings[ref[2]] if not isinstance(s, (ast.Import, ast.ImportFrom))
            ]
            refs = set().union(*(self._refs(m, s) for s in stmts))
            if ref == _PLUGIN_REGISTRY:
                refs |= _registered_plugins()
            self._nodes[ref] = ("".join(m.source(s) for s in stmts), refs)
        return self._nodes[ref]

    def reach(self, fn: Any) -> dict[str, str]:
        """``module:name`` -> source of every object builder ``fn``
        reaches, the builder itself included. The builder's decorator is
        hashed but not walked: registration runs at import, not when the
        query builds."""
        m = self._module(fn.__module__)
        defs = [
            s for s in m.bindings.get(fn.__name__, [])
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        first = fn.__code__.co_firstlineno  # the first decorator's line
        st = next(
            (s for s in defs if min([s.lineno] + [d.lineno for d in s.decorator_list]) == first),
            defs[-1],
        )
        root = ("obj", m.name, fn.__name__)
        seen = {root: m.source(st)}
        stack = list(self._refs(m, st, decorators=False))
        while stack:
            ref = stack.pop()
            if ref in seen:
                continue
            source, refs = self._node(ref)
            seen[ref] = source
            stack += refs
        return {f"{r[1]}:{r[2]}": src for r, src in seen.items()}

    def fingerprint(self, qd: Any) -> str:
        blob = "\x00".join([qd.sql or "", *sorted(set(self.reach(qd.fn).values()))])
        return hashlib.sha256(blob.encode()).hexdigest()


def _registered_plugins() -> set[Ref]:
    plans = importlib.import_module(f"{PACKAGE}.plans")  # registers the built-ins
    builtins = plans.registry._BUILTINS
    return {
        ("obj", fn.__module__, fn.__name__)
        for fn in builtins.values()
        if _in_package(fn.__module__)  # a caller may register its own
    }


def verdict_round(path: str) -> int:
    m = _VERDICT_FILE.fullmatch(os.path.basename(path))
    if m is None:
        raise ValueError(f"not a verdict file name (CORRECTNESS_r<N>.json): {path}")
    return int(m.group(1))


def passed(verdict: dict[str, Any]) -> bool:
    return (
        all(verdict.get(k) is True for k in ("rows_match", "schema_match", "hash_match"))
        and verdict.get("err") is None
    )


def latest_verdicts(root: str = ROOT) -> dict[str, tuple[int, bool]]:
    """Query -> (round, passed) of its latest verdict across the records."""
    paths = [
        p for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
        if _VERDICT_FILE.fullmatch(os.path.basename(p))
    ]
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(paths, key=verdict_round):
        with open(path) as fh:
            for name, verdict in json.load(fh).items():
                latest[name] = (verdict_round(path), passed(verdict))
    return latest


def load_pins(root: str = ROOT) -> dict[str, dict[str, Any]]:
    """Query -> {"round": N, "sha256": fingerprint pinned at round N}."""
    try:
        with open(os.path.join(root, PINS)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def gate_order(registry: dict[str, Any], root: str = ROOT) -> list[str]:
    """Registry names in gate order (see the module docstring)."""
    verdicts = latest_verdicts(root)
    pins = load_pins(root)
    fp = Fingerprinter()

    def key(name: str) -> tuple[int, int]:
        qd = registry[name]
        if qd.sql is None:
            return (2, 0)
        rnd, ok = verdicts.get(name, (0, False))
        pin = pins.get(name)
        if ok and pin and pin["round"] == rnd and pin["sha256"] == fp.fingerprint(qd):
            return (1, 0)
        return (0, rnd if ok else 0)

    return sorted(registry, key=key)
