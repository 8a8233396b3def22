"""Per-entry source fingerprints — the input to the driver window's
re-check rule: an entry whose operator code changed must be checked by
the next driver round (``plans.driver_order`` rule 2).

The fingerprint of a catalog entry hashes everything its driver row
depends on, at FUNCTION granularity (module granularity would drag all
~21 star.py entries into the 50-slot window for a one-function edit):

* the entry's own builder source and oracle SQL;
* the source of every package FUNCTION the builder transitively
  reaches — via direct globals, ``module.attr`` access
  (``star.min_cost_supplier``) resolved from the bytecode's
  LOAD_GLOBAL/LOAD_ATTR pairs, lazy in-function imports resolved from
  IMPORT_NAME/IMPORT_FROM instructions (the genstore-from-inside-a-
  handler pattern), closures, nested ``def``s, and functools.partial;
* the repr of every package-level non-callable CONSTANT those functions
  reference (MINCOST_TYPE, DISJ_BRANCHES, ...);
* the whole module file only as a fallback, when a package module is
  referenced without a resolvable attribute (rare; coarse but safe).

Known blind spots, accepted and documented: values fetched with
``getattr``/dynamic dispatch, and class-attribute mutation — none of
which the catalog builders use.

``plans/entry_hashes.json`` records, per entry, the fingerprint and the
round whose driver run must (re-)green it.  The contract, checked by
tests/test_catalog_oracle.py::test_changed_operator_code_regates:

* recorded hash != current fingerprint → the record is stale; run
  ``python scripts/update_entry_hashes.py`` (which stamps changed
  entries with regate_round = next driver round);
* recorded regate_round > the entry's last green driver row → the
  change has not been driver-verified yet, so the catalog order applied
  at import (``plans.driver_order``) puts the entry in the 50-slot
  window; nothing has to force it in.
"""

from __future__ import annotations

import dis
import functools
import glob
import hashlib
import importlib
import inspect
import json
import os
import re
import sys
import textwrap
import types
from collections.abc import Callable

#: Fingerprints walk CPython bytecode (LOAD_GLOBAL/LOAD_ATTR pairing,
#: IMPORT_NAME level consts), whose encoding shifts across minor versions
#: (LOAD_METHOD removed in 3.12, ...) — so a hash recorded under one
#: Python can spuriously mismatch under another with UNCHANGED source
#: (ADVICE r9).  entry_hashes.json records the recording interpreter
#: under ``__meta__``; consumers compare against this and treat a
#: mismatch as environment drift, not a code change.
PY_VERSION = f"{sys.version_info[0]}.{sys.version_info[1]}"

_PKG = __name__.split(".")[0]
_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_DIR = os.path.dirname(_PKG_DIR)
HASHES_PATH = os.path.join(_PKG_DIR, "plans", "entry_hashes.json")

#: dep key -> hashed text (function source / value repr / module bytes);
#: process-lifetime cache — sources don't change under a running test.
_DEP_TEXT: dict[str, str] = {}


def _is_pkg_module(mod) -> bool:
    return isinstance(mod, types.ModuleType) and getattr(
        mod, "__name__", ""
    ).startswith(_PKG)


def _module_rel(mod) -> str | None:
    f = getattr(mod, "__file__", None)
    if not f:
        return None
    rel = os.path.relpath(os.path.abspath(f), _PKG_DIR)
    if rel.startswith(".."):
        return None
    return rel.replace(os.sep, "/")


def _func_source(fn) -> str:
    try:
        return textwrap.dedent(inspect.getsource(fn))
    except (OSError, TypeError):
        code = getattr(fn, "__code__", None)
        return code.co_code.hex() if code is not None else repr(fn)


def _record_value(deps: set[str], mod_name: str, name: str, value) -> None:
    key = f"val:{mod_name}.{name}"
    deps.add(key)
    _DEP_TEXT.setdefault(key, repr(value)[:10_000])


def _record_module_file(deps: set[str], mod) -> None:
    rel = _module_rel(mod)
    if rel is None or rel.startswith("plans/"):
        return
    key = f"mod:{rel}"
    deps.add(key)
    if key not in _DEP_TEXT:
        try:
            with open(os.path.join(_PKG_DIR, rel), "rb") as f:
                _DEP_TEXT[key] = hashlib.sha256(f.read()).hexdigest()
        except OSError:
            _DEP_TEXT[key] = "<unreadable>"


def _resolve_import(owner_module: str, target: str, level: int):
    """Absolute module for an IMPORT_NAME seen inside ``owner_module``."""
    if level == 0:
        name = target
    else:
        base = owner_module.split(".")
        # level 1 = current package (strip the module leaf), 2 = parent...
        base = base[: len(base) - level]
        name = ".".join(base + ([target] if target else []))
    if not name.startswith(_PKG):
        return None
    try:
        return importlib.import_module(name)
    except ImportError:
        return None


def _iter_codes(code):
    yield code
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            yield from _iter_codes(c)


def _scan_function(fn, deps: set[str], stack: list) -> None:
    """One function's contribution: its own source, plus pushes/records
    for everything its (nested) bytecode references."""
    key = f"fn:{fn.__module__}.{getattr(fn, '__qualname__', fn.__name__)}"
    deps.add(key)
    _DEP_TEXT.setdefault(key, _func_source(fn))
    g = getattr(fn, "__globals__", {})
    mod_name = getattr(fn, "__module__", "") or ""
    for cell in getattr(fn, "__closure__", None) or ():
        try:
            v = cell.cell_contents
        except ValueError:
            continue
        if callable(v) and (getattr(v, "__module__", "") or "").startswith(
            _PKG
        ):
            stack.append(v)
    for code in _iter_codes(fn.__code__):
        pending_import: tuple | None = None  # (module, saw_from)
        last_global: tuple | None = None  # (name, resolved value)
        # IMPORT_NAME consumes TWO stack consts: level, then fromlist —
        # keep the last two LOAD_CONST argvals so the level is readable.
        prev_const = last_const = None
        for ins in dis.get_instructions(code):
            op = ins.opname
            if op == "LOAD_CONST":
                prev_const, last_const = last_const, ins.argval
                continue
            if op == "IMPORT_NAME":
                level = (
                    prev_const
                    if isinstance(prev_const, int)
                    else (last_const if isinstance(last_const, int) else 0)
                )
                mod = _resolve_import(mod_name, ins.argval or "", level)
                if pending_import is not None and not pending_import[1]:
                    _record_module_file(deps, pending_import[0])
                pending_import = (mod, False) if mod is not None else None
                last_global = None
                continue
            if op == "IMPORT_FROM" and pending_import is not None:
                mod, _ = pending_import
                pending_import = (mod, True)
                v = getattr(mod, ins.argval, None)
                if callable(v) and not isinstance(v, types.ModuleType):
                    stack.append(v)
                elif _is_pkg_module(v):
                    _record_module_file(deps, v)
                elif v is not None:
                    _record_value(deps, mod.__name__, ins.argval, v)
                continue
            if pending_import is not None and op not in (
                "STORE_FAST",
                "STORE_NAME",
                "STORE_GLOBAL",
                "STORE_DEREF",
            ):
                # plain `import x.y` (no IMPORT_FROM): coarse module dep
                if not pending_import[1]:
                    _record_module_file(deps, pending_import[0])
                pending_import = None
            if op in ("LOAD_GLOBAL", "LOAD_NAME"):
                name = ins.argval
                v = g.get(name)
                if v is None:
                    last_global = None
                    continue
                if _is_pkg_module(v):
                    last_global = (name, v)  # wait for the LOAD_ATTR
                    continue
                last_global = None
                if callable(v) and (
                    getattr(v, "__module__", "") or ""
                ).startswith(_PKG):
                    stack.append(v)
                elif not callable(v) and not isinstance(
                    v, types.ModuleType
                ):
                    _record_value(deps, mod_name, name, v)
                continue
            if op in ("LOAD_ATTR", "LOAD_METHOD") and last_global is not None:
                gname, mod = last_global
                last_global = None
                v = getattr(mod, ins.argval, None)
                if callable(v) and not isinstance(v, types.ModuleType):
                    stack.append(v)
                elif _is_pkg_module(v):
                    _record_module_file(deps, v)
                elif v is not None:
                    _record_value(deps, mod.__name__, ins.argval, v)
                else:
                    _record_module_file(deps, mod)
                continue
            if last_global is not None:
                # module referenced without attribute access: coarse dep
                _record_module_file(deps, last_global[1])
                last_global = None
        if pending_import is not None and not pending_import[1]:
            _record_module_file(deps, pending_import[0])
        if last_global is not None:
            _record_module_file(deps, last_global[1])


def builder_deps(builder: Callable) -> frozenset[str]:
    """Transitive dependency keys (``fn:``/``val:``/``mod:``) of a
    catalog builder."""
    deps: set[str] = set()
    stack: list = [builder]
    visited: set[int] = set()
    while stack:
        f = stack.pop()
        if isinstance(f, functools.partial):
            stack.append(f.func)
            stack.extend(f.args)
            stack.extend(f.keywords.values())
            continue
        if id(f) in visited:
            continue
        visited.add(id(f))
        if not (getattr(f, "__module__", "") or "").startswith(_PKG):
            continue
        if isinstance(f, types.ModuleType):
            _record_module_file(deps, f)
            continue
        code = getattr(f, "__code__", None)
        if code is None:
            # builtin/partial-like callable from the package: best effort
            key = f"obj:{f.__module__}.{getattr(f, '__qualname__', repr(f))}"
            deps.add(key)
            _DEP_TEXT.setdefault(key, repr(f)[:10_000])
            continue
        _scan_function(f, deps, stack)
    return frozenset(deps)


def builder_module_files(builder: Callable) -> list[str]:
    """Package-relative module paths touched by the builder — derived
    from the function-grain deps (for reporting / coarse checks)."""
    mods: set[str] = set()
    for key in builder_deps(builder):
        if key.startswith("mod:"):
            mods.add(key[4:])
        elif key.startswith(("fn:", "val:", "obj:")):
            qual = key.split(":", 1)[1]
            mod_name = qual.rsplit(".", 1)[0]
            # walk up to an importable module
            while mod_name and mod_name.count("."):
                try:
                    m = importlib.import_module(mod_name)
                    rel = _module_rel(m)
                    if rel:
                        mods.add(rel)
                    break
                except ImportError:
                    mod_name = mod_name.rsplit(".", 1)[0]
    return sorted(mods)


def entry_fingerprint(spec) -> str:
    """Stable hash of everything the entry's driver row depends on."""
    h = hashlib.sha256()
    h.update(_func_source(spec.builder).encode())
    h.update(b"\x00")
    h.update((spec.oracle or "").encode())
    for key in sorted(builder_deps(spec.builder)):
        h.update(b"\x00" + key.encode() + b"\x00")
        h.update(_DEP_TEXT.get(key, "").encode())
    return h.hexdigest()[:16]


def load_recorded(with_meta: bool = False):
    """Per-entry records from entry_hashes.json; ``__meta__`` (recording
    environment — currently the Python minor version) is stripped from
    the per-entry dict and returned separately when ``with_meta``."""
    try:
        with open(HASHES_PATH) as f:
            data = json.load(f)
    except (OSError, ValueError):
        data = {}
    meta = data.pop("__meta__", {})
    return (data, meta) if with_meta else data


def correctness_rounds(repo: str = REPO_DIR) -> list[int]:
    return sorted(
        int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    )


def last_green_rounds(repo: str = REPO_DIR) -> dict[str, int]:
    """name -> latest round with a green driver row: rows+schema+oracle
    for oracle-backed entries; for rows-only entries (no oracle — the
    driver records null matches) a row counts as green when the query
    RAN (spark_rows present, no err)."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1))
        with open(p) as f:
            for name, row in json.load(f).items():
                green = (row.get("rows_match") and row.get("schema_match")) or (
                    row.get("rows_match") is None
                    and row.get("err") in (None, "no_oracle")
                    and row.get("spark_rows") is not None
                )
                if green:
                    out[name] = max(out.get(name, 0), rnd)
    return out


def refresh_hashes(specs) -> tuple[dict[str, dict], list[str]]:
    """Recompute fingerprints; stamp changed entries with
    regate_round = next driver round.  Returns (records, changed_names);
    the caller writes the file (scripts/update_entry_hashes.py).

    An entry with NO prior record is bootstrapped rather than forced to
    re-gate: if it already has a green driver row, the current source is
    presumed to be what was gated (regate_round = that round — the
    window's oldest-green rule covers old greens separately); a
    never-gated entry is stamped next_round, and ``plans.driver_order``
    ranks never-checked entries first anyway.  The caller's next import
    of ``plans`` orders the stamped entries into the window.

    When the file was recorded under a DIFFERENT Python minor version
    (``__meta__.python`` != :data:`PY_VERSION`), hash mismatches are
    bytecode-encoding drift, not code changes (ADVICE r9): every entry's
    hash is re-recorded under the current interpreter with its existing
    regate_round preserved.  Accepted blind spot, documented: a real
    source edit made in the same breath as an interpreter switch is not
    auto-detected — regenerate hashes on the interpreter you gate with
    BEFORE editing."""
    recorded, meta = load_recorded(with_meta=True)
    # A file with records but no __meta__ predates version recording and
    # was written on the interpreter this repo pins — treat as same-env
    # (defaulting to mismatch would silently drop every pending re-gate
    # stamp on the migration run).
    same_env = meta.get("python", PY_VERSION) == PY_VERSION
    rounds = correctness_rounds()
    next_round = (rounds[-1] if rounds else 0) + 1
    greens = last_green_rounds()
    changed: list[str] = []
    out: dict[str, dict] = {}
    for spec in specs:
        # oracle-less entries are recorded too: their driver check is
        # rows-only, but a source change still owes that weaker re-gate
        fp = entry_fingerprint(spec)
        old = recorded.get(spec.name)
        if old is not None and old.get("hash") == fp:
            out[spec.name] = old
        elif old is not None and not same_env:
            out[spec.name] = {"hash": fp, "regate_round": old["regate_round"]}
        elif old is None and spec.name in greens:
            out[spec.name] = {"hash": fp, "regate_round": greens[spec.name]}
        else:
            out[spec.name] = {"hash": fp, "regate_round": next_round}
            changed.append(spec.name)
    out["__meta__"] = {"python": PY_VERSION}
    return out, changed
