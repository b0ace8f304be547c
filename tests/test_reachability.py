"""Every top-level package function or class is reachable from a product
surface, or is on the allowlist below with its reason.

The scan is a name-based AST closure (no Spark session). Roots:
- ``@register``-decorated functions, their decorator arguments included;
- the bodies of ``_register_*`` functions;
- every module-level statement that is not a def or class;
- each CLI's ``main`` (``__main__``, ``prep``, ``ann_prep``);
- all of ``__spark_entry__.py``.
From the roots it follows identifiers (``Name`` ids, ``Attribute``
attrs, and identifier-shaped words inside string constants, so a name
dispatched by string is kept) transitively into the top-level defs
they name. Matching is by bare name, so a name shared by two modules
keeps both alive: the scan can miss dead code but never flags live
code.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "flink_exercise_spark"
CLI_MODULES = ("__main__", "prep", "ann_prep")
_WORD = re.compile(r"[A-Za-z_]\w*")

# (module, name) -> why it stays although no product surface reaches it.
ALLOWED = {
    ("registry", "specs"): "public surface that perfbench/ and the tests call",
    ("clf", "invalid_lines"): "the reference's P5 corrupt-line channel; perfbench/ calls it",
    ("session", "cluster_conf"): "documented deployment profile (ROADMAP)",
    ("inspect", "assert_read_schema_only"): "plan-assertion library of the plan tests",
    ("aggregates", "windowed_floor_avg"): "reference side of the Q3 batch/stream tests",
    ("ingest", "neardup_flags_batch"): "batch reference of the streaming near-dup tests",
    ("ingest", "resolve_canonical"): "read-side reference of the stateful canonical-doc tests",
    ("text", "clf_hashed_weights"): "reference side of the joined-classifier tests",
    ("text", "scrub_pii"): "standalone form of the scrub q_fingerprints inlines; pins its patterns",
    ("image_dedup", "phash_margin"): "fixture-health guard for the frozen image oracles",
    ("incremental", "read_band_index_versioned"): "manifest crash-safety/vacuum tests drive it",
    ("incremental", "read_fingerprint_index_versioned"): "manifest crash-safety/vacuum tests drive it",
    ("incremental", "write_band_index_versioned"): "manifest crash-safety/vacuum tests drive it",
    ("incremental", "write_fingerprint_index_versioned"): "manifest crash-safety/vacuum tests drive it",
    ("pipeline", "stratified_sample"): "tests pin its agreement with the registered profile",
    ("pipeline", "temperature_mix_sample"): "tests pin its agreement with the registered profile",
}


def _is_register(dec: ast.expr) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(target, ast.Name) and target.id == "register") or (
        isinstance(target, ast.Attribute) and target.attr == "register"
    )


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_WORD.findall(n.value))
    return out


def scan() -> list[tuple[str, str]]:
    """Return the sorted (module, name) pairs of unreached top-level defs."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[ast.AST] = [ast.parse((ROOT / "__spark_entry__.py").read_text())]
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.stem
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                roots.append(node)
            elif (
                any(_is_register(d) for d in node.decorator_list)
                or node.name.startswith("_register_")
                or (module in CLI_MODULES and node.name == "main")
            ):
                roots.append(node)
            else:
                defs.setdefault(node.name, []).append((module, node))
    reached: set[str] = set()
    pending = set().union(*(_names(r) for r in roots))
    while pending:
        name = pending.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            pending |= _names(node) - reached
    return sorted(
        (module, name)
        for name, sites in defs.items()
        if name not in reached
        for module, _ in sites
    )


def test_every_package_def_is_reached_or_allowed():
    unreached = [site for site in scan() if site not in ALLOWED]
    assert not unreached, (
        "unreached package code (delete it, wire it to a product surface, "
        f"or allowlist it with a reason): {unreached}"
    )


def test_allowlist_has_no_stale_entries():
    assert set(ALLOWED) <= set(scan()), set(ALLOWED) - set(scan())
