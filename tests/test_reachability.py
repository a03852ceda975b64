"""Reachability lock for the engine package (static, no Spark session).

The package keeps only what its product surface reaches: the registered
queries, ``bench.py``, ``__spark_entry__.py``, ``tools/`` and
``perfbench/``. A helper that only its own unit tests call is deleted
together with those tests, not kept.

(a) Every top-level ``def``/``class``/assignment in
    ``codex_africanus_spark/`` that is not an ``@register``-decorated
    query is referenced, as a whole word, either from its own module
    outside its own body, or from another package module or entry file
    that also names the defining module.
(b) No module-level import in the package is unused. ``__init__.py``
    re-exports and optional-dependency probes (an import inside a
    ``try`` that catches ImportError) are exempt.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "codex_africanus_spark"

# Kept although only tests reach them: reference oracles that tests
# compare live code against, and public streaming surface.
ALLOWED_UNREACHED = {
    "operators/fft_imaging.py:dirty_image_direct":
        "direct-DFT oracle for dirty_image",
    "functions/jones.py:jones_chain":
        "oracle for polarization_leakage_apply's hand expansion",
    "operators/zernike.py:zernike_eval":
        "NumPy oracle for zernike_dde and ZernikeTerm",
    "streaming/windowed.py:read_events_stream":
        "event stream that feeds the sliding-window parity test",
    "streaming/gapfill.py:streaming_gap_fill_sink":
        "public foreachBatch wiring of the gap-fill streaming twin",
}

WORD = re.compile(r"\w+")


def _package_modules() -> list[Path]:
    return sorted(PKG.rglob("*.py"))


def _entry_files() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _top_level(body):
    """Module-level statements, looking inside top-level if/try blocks."""
    for node in body:
        yield node
        if isinstance(node, (ast.If, ast.Try)):
            yield from _top_level(node.body)
            yield from _top_level(node.orelse)
            for h in getattr(node, "handlers", []):
                yield from _top_level(h.body)
            yield from _top_level(getattr(node, "finalbody", []))


def _is_registered(node) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def _definitions(tree):
    """(name, node) for every top-level definition except registered
    queries and dunder assignments."""
    for node in _top_level(tree.body):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_registered(node):
                yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node


def _module_key(path: Path) -> str:
    return path.relative_to(PKG).as_posix()


def _unreached() -> set[str]:
    modules = _package_modules()
    texts = {p: p.read_text() for p in modules + _entry_files()}
    words = {p: Counter(WORD.findall(t)) for p, t in texts.items()}
    out = set()
    for p in modules:
        lines = texts[p].splitlines()
        stem = p.parent.name if p.name == "__init__.py" else p.stem
        for name, node in _definitions(ast.parse(texts[p])):
            start = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
            body = Counter(WORD.findall("\n".join(lines[start - 1:node.end_lineno])))
            if words[p][name] > body[name]:
                continue
            if any(
                words[q][name] and words[q][stem]
                for q in texts if q != p
            ):
                continue
            out.add(f"{_module_key(p)}:{name}")
    return out


def test_every_definition_is_reached():
    unreached = _unreached() - set(ALLOWED_UNREACHED)
    assert not unreached, (
        "top-level definitions no query, bench, tool or perfbench path "
        f"reaches (delete them with their tests): {sorted(unreached)}"
    )


def test_allowlist_is_current():
    stale = set(ALLOWED_UNREACHED) - _unreached()
    assert not stale, f"allowlisted names that are gone or now reached: {sorted(stale)}"


def _is_import_probe(node) -> bool:
    return isinstance(node, ast.Try) and any(
        h.type is not None and "ImportError" in ast.unparse(h.type)
        for h in node.handlers
    )


def test_no_unused_module_imports():
    unused = []
    for p in _package_modules():
        if p.name == "__init__.py":
            continue
        tree = ast.parse(p.read_text())
        probes = {
            id(n) for t in _top_level(tree.body) if _is_import_probe(t)
            for n in t.body
        }
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in _top_level(tree.body):
            if not isinstance(node, (ast.Import, ast.ImportFrom)) or id(node) in probes:
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                if bound not in used:
                    unused.append(f"{_module_key(p)}:{node.lineno} {bound}")
    assert not unused, f"unused module-level imports: {unused}"
