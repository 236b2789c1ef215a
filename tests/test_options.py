"""Every on/off option of the package, and every numeric knob of the
streams, is used.

Each boolean parameter doubles the configurations the tests must cover,
so a public package function may default one only when some call
outside ``tests/`` sets it by keyword, or when it is listed in ALLOWED
with the reason it stays. A value forwarded under its own name
(``strict=strict``) is not a caller: it only passes the choice on. The
same rule holds for numeric defaults (a number, an expression of
numbers, or an UPPER_CASE constant) of the public functions of
``streaming/`` and ``plans/incremental.py``, with ALLOWED_NUMERIC as
their list."""

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
_GEOMETRY = "tests use small blooms and the geometry-mismatch test"
ALLOWED_NUMERIC = {
    ("stream_near_dup_clusters", "prune_min_state_bytes"): "perfbench and "
    "tests set it",
    ("stream_media_novelty", "prune_min_index_bytes"): "perfbench and tests "
    "set it",
    **{(fn, p): _GEOMETRY
       for fn in ("stream_near_dup_clusters", "stream_media_novelty",
                  "stream_ingest_dedup")
       for p in ("n_shards", "bits_per_shard", "k_hashes")},
    ("incremental_caption_candidates", "bucket_cap"): "tests reach the cap "
    "paths",
    ("at", "nbytes"): "KeyIndex.at's index size, an input: the always-"
    "engaged indexes (ingest, offline prune) have none to pass",
}
NUMERIC_SCOPE = (("streaming",), ("plans", "incremental.py"))


def _is_bool(d: ast.expr) -> bool:
    return isinstance(d, ast.Constant) and isinstance(d.value, bool)


def _is_numeric(d: ast.expr) -> bool:
    if isinstance(d, ast.Constant):
        return isinstance(d.value, (int, float)) and not _is_bool(d)
    if isinstance(d, (ast.BinOp, ast.UnaryOp)):
        return all(_is_numeric(n) for n in ast.iter_child_nodes(d)
                   if isinstance(n, ast.expr))
    return isinstance(d, ast.Name) and d.id.isupper()


def _options(tree: ast.Module, kind=_is_bool) -> list[tuple[str, str, int]]:
    """(function, parameter, line) for each parameter of a public
    function or public method of a public class whose default is of
    ``kind``."""
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
        out.extend((f.name, p.arg, p.lineno) for p, d in pairs if kind(d))
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


def _unused(kind, allowed, in_scope) -> list[str]:
    options, settings = [], Counter()
    for path in _sources():
        rel = path.relative_to(ROOT)
        tree = ast.parse(path.read_text(), filename=str(path))
        if rel.parts[0] == PKG and in_scope(rel.parts[1:]):
            options.extend((rel, *o) for o in _options(tree, kind))
        if rel.parts[0] != "tests":
            settings.update(_keyword_settings(tree))
    assert options
    return [
        f"{rel}:{line}: {fn}({param}=...) is set by no caller outside tests/"
        for rel, fn, param, line in options
        if not settings[fn, param] and (fn, param) not in allowed
    ]


def _numeric_scope(parts: tuple[str, ...]) -> bool:
    return any(parts[: len(p)] == p for p in NUMERIC_SCOPE)


def test_every_bool_option_has_a_caller():
    unused = _unused(_is_bool, ALLOWED, lambda parts: True)
    assert not unused, "\n".join(unused)


def test_every_numeric_stream_option_has_a_caller():
    unused = _unused(_is_numeric, ALLOWED_NUMERIC, _numeric_scope)
    assert not unused, "\n".join(unused)


def test_allowlist_names_live_options():
    """An allowlisted option whose parameter is gone must leave the list."""
    live, numeric = set(), set()
    for path in _sources():
        rel = path.relative_to(ROOT)
        if rel.parts[0] == PKG:
            tree = ast.parse(path.read_text(), filename=str(path))
            live.update((fn, p) for fn, p, _ in _options(tree))
            if _numeric_scope(rel.parts[1:]):
                numeric.update(
                    (fn, p) for fn, p, _ in _options(tree, _is_numeric)
                )
    assert set(ALLOWED) <= live, set(ALLOWED) - live
    assert set(ALLOWED_NUMERIC) <= numeric, set(ALLOWED_NUMERIC) - numeric
