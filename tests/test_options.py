"""Every on/off option of the package is used.

Each boolean parameter doubles the configurations the tests must cover,
so a public package function may default one only when some call
outside ``tests/`` sets it by keyword, or when it is listed in ALLOWED
with the reason it stays. A value forwarded under its own name
(``strict=strict``) is not a caller: it only passes the choice on."""

from __future__ import annotations

import ast
from collections import Counter

from test_imports import PKG, ROOT, _sources

ALLOWED = {
    ("video_fingerprints", "strict"): "fails loudly on unsupported containers",
    ("audio_fingerprints", "strict"): "fails loudly on unsupported containers",
    ("decontaminate", "broadcast_eval"): "tests pin the shuffled-join path",
    ("source_overlap_minhash", "agreement_only"): "tests pin the "
    "many-sources cutover",
    ("sorted_report", "hide_isolated"): "the reference's hide-isolated view "
    "mode (DuplicatesViewController.cs:32-59); tests pin both orders",
}


def _bool_options(tree: ast.Module) -> list[tuple[str, str, int]]:
    """(function, parameter, line) for each bool-defaulted parameter of
    a public function or public method of a public class."""
    funcs = []
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            funcs.append(node)
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            funcs.extend(n for n in node.body if isinstance(n, ast.FunctionDef))
    out = []
    for f in funcs:
        if f.name.startswith("_"):
            continue
        a = f.args
        pos = a.posonlyargs + a.args
        pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
        pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
        out.extend(
            (f.name, p.arg, p.lineno)
            for p, d in pairs
            if isinstance(d, ast.Constant) and isinstance(d.value, bool)
        )
    return out


def _keyword_settings(tree: ast.Module) -> Counter:
    """(called name, keyword) -> number of calls that set it to anything
    but a same-named variable."""
    seen = Counter()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
        for kw in node.keywords:
            forwarded = isinstance(kw.value, ast.Name) and kw.value.id == kw.arg
            if name and kw.arg and not forwarded:
                seen[name, kw.arg] += 1
    return seen


def test_every_bool_option_has_a_caller():
    options, settings = [], Counter()
    for path in _sources():
        rel = path.relative_to(ROOT)
        tree = ast.parse(path.read_text(), filename=str(path))
        if rel.parts[0] == PKG:
            options.extend((rel, *o) for o in _bool_options(tree))
        if rel.parts[0] != "tests":
            settings.update(_keyword_settings(tree))
    assert options
    unused = [
        f"{rel}:{line}: {fn}({param}=...) is set by no caller outside tests/"
        for rel, fn, param, line in options
        if not settings[fn, param] and (fn, param) not in ALLOWED
    ]
    assert not unused, "\n".join(unused)


def test_allowlist_names_live_options():
    """An allowlisted option whose parameter is gone must leave the list."""
    live = set()
    for path in _sources():
        rel = path.relative_to(ROOT)
        if rel.parts[0] == PKG:
            tree = ast.parse(path.read_text(), filename=str(path))
            live.update((fn, p) for fn, p, _ in _bool_options(tree))
    assert set(ALLOWED) <= live, set(ALLOWED) - live
