"""Reachability lock for the engine package (static, no Spark session).

The package keeps only what its product surface reaches: the registered
queries, ``bench.py``, ``__spark_entry__.py``, ``tools/`` and
``perfbench/``. A helper that only its own unit tests call is deleted
together with those tests, not kept.

(a) Every top-level ``def``/``class``/assignment in
    ``codex_africanus_spark/`` that is not an ``@register``-decorated
    query is referenced, as a whole word, either from its own module
    outside its own body, or from another package module or entry file
    that also names the defining module. Only code counts: comments
    and the docstrings of modules, classes and functions do not. Every
    other string literal does, because SQL templates and f-strings name
    Python objects.
(b) No module-level import in the package is unused. ``__init__.py``
    re-exports and optional-dependency probes (an import inside a
    ``try`` that catches ImportError) are exempt.

The allowlist holds three kinds of name that no product path reaches,
each with its reason:
- the only implementation of a SURVEY §2 capability (cited by line);
- a reference oracle that a test compares live code against;
- public streaming surface: a twin's foreachBatch wiring or its test
  feed.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "codex_africanus_spark"

# Kept although only tests reach them (see the module docstring).
ALLOWED_UNREACHED = {
    # SURVEY §2 capabilities with no other implementation
    "functions/linalg.py:kron_matmat":
        "SURVEY.md:263 Kronecker matmat (africanus/linalg)",
    "functions/linalg.py:kron_cholesky":
        "SURVEY.md:263 Kronecker Cholesky (africanus/linalg)",
    "functions/feeds.py:astropy_parallactic_angle_table":
        "SURVEY.md:245 astropy parallactic-angle backend",
    "sources/beams.py:beam_grids":
        "SURVEY.md:147 FITS beam-cube reader",
    "sources/beams.py:beam_filenames":
        "SURVEY.md:147 FITS beam-cube file-name schema",
    "operators/fft_imaging.py:residual_image":
        "SURVEY.md:189 residual imaging",
    "streaming/stateful.py:streaming_bda":
        "SURVEY.md:289 BDA bins per baseline as a stateful stream",
    "streaming/salted.py:streaming_salted_bda_sink":
        "SURVEY.md:294 skew-safe streaming BDA sink",
    "streaming/windowed.py:sliding_window_stats":
        "SURVEY.md:288 time binning as a watermarked window aggregate",
    # reference oracles that tests compare live code against
    "operators/fft_imaging.py:dirty_image_direct":
        "direct-DFT oracle for dirty_image",
    "functions/jones.py:jones_chain":
        "oracle for polarization_leakage_apply's hand expansion",
    "operators/zernike.py:zernike_eval":
        "NumPy oracle for zernike_dde and ZernikeTerm",
    "operators/bda.py:bda_average_quantized":
        "sequential oracle that test_salted_bda compares "
        "skew.salted_bda_average against",
    # public streaming surface
    "streaming/windowed.py:read_events_stream":
        "event stream that feeds the sliding-window parity test",
    "streaming/gapfill.py:streaming_gap_fill_sink":
        "public foreachBatch wiring of the gap-fill streaming twin",
    "streaming/cdc.py:streaming_cdc_dim_sink":
        "public foreachBatch wiring of the cdc twin, whose "
        "cdc_dim_increment tools/bench_streaming.py drives",
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


def _code_words(text: str) -> list[tuple[int, str]]:
    """(line, word) for every word of the module's code: comments and
    the docstrings of modules, classes and functions are dropped."""
    docstrings = {
        (n.body[0].lineno, n.body[0].col_offset)
        for n in ast.walk(ast.parse(text))
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                          ast.AsyncFunctionDef))
        and ast.get_docstring(n, clean=False) is not None
    }
    return [
        (tok.start[0], w)
        for tok in tokenize.generate_tokens(io.StringIO(text).readline)
        if tok.type != tokenize.COMMENT
        and not (tok.type == tokenize.STRING and tok.start in docstrings)
        for w in WORD.findall(tok.string)
    ]


def _unreached(texts: dict[Path, str] | None = None) -> set[str]:
    if texts is None:
        texts = {p: p.read_text() for p in _package_modules() + _entry_files()}
    modules = [p for p in texts if p.is_relative_to(PKG)]
    code = {p: _code_words(t) for p, t in texts.items()}
    words = {p: Counter(w for _, w in c) for p, c in code.items()}
    out = set()
    for p in modules:
        stem = p.parent.name if p.name == "__init__.py" else p.stem
        for name, node in _definitions(ast.parse(texts[p])):
            start = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
            body = sum(
                1 for line, w in code[p]
                if w == name and start <= line <= node.end_lineno
            )
            if words[p][name] > body:
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
    assert all(ALLOWED_UNREACHED.values()), "every allowlist entry needs a reason"


_READER_MODULE = '''"""Module docstring naming {name}."""

def {name}():
    return 1


def user():
    {use}
'''


@pytest.mark.parametrize("use, reached", [
    ("return 0  # {name}", False),
    ('"""Docstring naming {name}."""', False),
    ("return {name}()", True),
    ('return "SELECT * FROM {name}"', True),
    ('return f"{{{name}()}}"', True),
])
def test_reader_counts_code_only(use, reached):
    """A name mentioned only in a comment or a docstring is unreached; a
    name used in code, an SQL template or an f-string is reached."""
    name = "probe_fn"
    text = _READER_MODULE.format(name=name, use=use.format(name=name))
    unreached = _unreached({PKG / "probe.py": text})
    assert ("probe.py:" + name not in unreached) is reached


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
