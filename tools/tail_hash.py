"""TAIL implementation fingerprints.

The driver grades only the first 50 registered queries per round; TAIL
queries ride on a PRIOR round's green verdict. That verdict is only
valid evidence while the implementation it graded is unchanged —
round 3 violated this by rewriting dedup_ngram_jaccard (PPJoin prefix
filtering) while leaving it in the TAIL (VERDICT r03, "What's wrong"
item 2). This module computes a per-query source fingerprint so
tests/test_contract.py can pin TAIL membership to unchanged source.

Fingerprint = sha256 over the query's wrapper-function source plus the
FULL source of every sparkksqldbbenchmark_spark module it references,
directly or transitively — through module attributes in its globals,
functions it calls, and `from package.x import y` statements inside
the function body (regex over the gathered sources). Helpers defined in
a plan module are hashed by their own function source (and their
callees'), never by the whole plan module. Foundational
shared modules every query flows through (catalog, session, registry)
are excluded: a loader fix must not invalidate every TAIL verdict —
those modules are exercised by every graded head row each round.

Regenerate pins after a DELIBERATE rotation with:

    python tools/tail_hash.py
"""

from __future__ import annotations

import hashlib
import importlib
import inspect
import re
import sys

sys.path.insert(0, "/root/repo")

_PKG = "sparkksqldbbenchmark_spark"
EXCLUDED_MODULES = {
    f"{_PKG}.catalog",
    f"{_PKG}.session",
    f"{_PKG}.plans.registry",
}
_MODULE_RE = re.compile(rf"{_PKG}(?:\.\w+)+")


def _module_source(modname: str) -> str | None:
    if modname in EXCLUDED_MODULES or modname.startswith(f"{_PKG}.plans"):
        return None
    try:
        mod = sys.modules.get(modname) or importlib.import_module(modname)
        return inspect.getsource(mod)
    except (ImportError, OSError, TypeError):
        return None


def tail_impl_fingerprint(fn) -> str:
    """16-hex-char sha256 of the query function's implementing source
    (wrapper + transitively referenced package modules)."""
    sources: list[str] = []
    seen_fns: set = set()
    modnames: set[str] = set()

    def visit(f) -> None:
        if f in seen_fns:
            return
        seen_fns.add(f)
        # honor the module exclusion at FUNCTION level too: without this,
        # visiting load_table (catalog) inlines its callees' sources and
        # a loader fix invalidates every TAIL pin — the exact cascade the
        # EXCLUDED_MODULES carve-out exists to prevent
        if getattr(f, "__module__", "") in EXCLUDED_MODULES:
            return
        try:
            sources.append(inspect.getsource(f))
        except (OSError, TypeError):
            return
        g = getattr(f, "__globals__", {})
        for name in f.__code__.co_names:
            v = g.get(name)
            if v is None:
                continue
            if inspect.ismodule(v) and v.__name__.startswith(_PKG):
                modnames.add(v.__name__)
            elif inspect.isfunction(v) and v.__module__.startswith(_PKG):
                # a helper defined in a plan module contributes its own
                # (and its callees') source, not the whole plan module:
                # editing a sibling row must not re-pin this one
                if not v.__module__.startswith(f"{_PKG}.plans"):
                    modnames.add(v.__module__)
                visit(v)

    visit(fn)
    # local `from package.x import y` imports resolve at call time, not
    # definition time, so they never appear in __globals__ — pick them
    # (and any other dotted package reference) out of the source text.
    for src in list(sources):
        modnames.update(_MODULE_RE.findall(src))

    for modname in sorted(modnames):
        src = _module_source(modname)
        if src is not None:
            sources.append(f"# module {modname}\n{src}")
    digest = hashlib.sha256("\n".join(sources).encode()).hexdigest()
    return digest[:16]


def current_fingerprints() -> dict[str, str]:
    import __spark_entry__ as entrymod

    return {
        name: tail_impl_fingerprint(entrymod.queries()[name])
        for name in entrymod.TAIL
    }


def infra_fingerprint() -> str:
    """Fingerprint of the shared loader/session semantics every TAIL
    query flows through. The EXCLUDED_MODULES carve-out keeps catalog/
    session edits from cascading into every per-query pin (most edits
    there are comment/conf-plumbing noise), but a SEMANTIC loader change
    (e.g. the r04 all-NTZ timestamp cast in catalog._normalize_nanos)
    still silently rides under old green verdicts. This separate pin
    covers exactly the semantics-bearing pieces: _normalize_nanos,
    load_table, ensure_session_confs, and SessionConfig.to_conf — a
    change here voids ALL TAIL evidence at once and must be accompanied
    by a full oracle sweep (tools/check_correctness.py) before re-pinning."""
    from sparkksqldbbenchmark_spark import catalog, session

    parts = [
        inspect.getsource(catalog._normalize_nanos),
        inspect.getsource(catalog.load_table),
        inspect.getsource(catalog.ensure_session_confs),
        inspect.getsource(session.SessionConfig.to_conf),
    ]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


if __name__ == "__main__":
    print("TAIL_SOURCE_SHA256 = {")
    for name, h in current_fingerprints().items():
        print(f'    "{name}": "{h}",')
    print("}")
    print(f'INFRA_SOURCE_SHA256 = "{infra_fingerprint()}"')
