"""Every on/off option and every numeric knob of the package is used.

Each defaulted parameter multiplies the configurations the tests must
cover, so a public package function (a public method of a public
class, a dataclass field) may default a bool, or a number (a literal,
an expression of numbers, or an UPPER_CASE constant), only when some
call outside ``tests/`` sets it, or when it is allowlisted with the
reason it stays. A call sets a parameter by keyword or by position; a
``*sequence`` argument sets every positional parameter from its place
on. A value forwarded under its own name (``strict=strict``, or a
variable ``k`` passed in the place of ``k``) is not a caller: it only
passes the choice on.

Bool options are checked over the whole package; numeric knobs over
every module but ``oracles.py``, whose SQL builders mirror the
operators' constants. A numeric knob nothing sets is a module constant
instead, or a required parameter when every caller passes it. A
numeric knob stays for one of three reasons:

- ``bench.py``, ``tools/``, ``perfbench/`` or ``examples/`` set it:
  they are callers like the package itself, so this needs no entry;
- ``test:`` (an ALLOWED_NUMERIC entry) a named test sets it to reach a
  path or regime the default does not reach;
- ``recipe:`` (an ALLOWED_NUMERIC entry) it mirrors a cited published
  recipe (Gopher, C4, substring dedup, winnowing)."""

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
_GOPHER = "recipe: Gopher quality rules (Rae et al. 2021, Table A1)"
_SUBSTRING = "recipe: exact-substring dedup (Lee et al. 2022)"
_GEOMETRY = ("test: test_bloom_snapshot_covers_every_stored_key and "
             "test_restart_with_other_bloom_geometry_fails_loudly build "
             "small blooms and change the geometry between runs")
ALLOWED_NUMERIC = {
    ("encode_avi_rgb", "fps"): "test: test_video_dedup's corpus and "
    "test_segment_novelty_video re-mux the same frames at other rates",
    ("encode_wav", "sampwidth"): "test: test_audio_dedup's corpus and "
    "test_segment_novelty_audio re-encode a clip as 32-bit PCM",
    ("connected_components", "driver_threshold"): "test: "
    "test_cc_matches_union_find_oracle and test_random_graphs_match_"
    "union_find set 0 to run the distributed fixpoint on small graphs",
    ("cross_corpus_matches", "ref_bucket_cap"): "test: "
    "test_ref_bucket_cap_keeps_min_id_witness caps a 3-member bucket",
    ("c4_line_filter", "min_words"): "recipe: C4 (Raffel et al. 2020)",
    ("c4_line_filter", "bad_phrases"): "recipe: C4 (Raffel et al. 2020)",
    ("c4_line_filter", "drop_doc_markers"): "recipe: C4 (Raffel et al. "
    "2020)",
    ("c4_line_filter", "min_kept_lines"): "test: "
    "test_c4_line_filter_min_kept_lines_knob sets C4's 5 lines",
    **{("ivf_topk", p): "test: test_ivf_recall_on_clustered_corpus and "
       "test_ivf_recall_on_partition_correlated_layout size the index to "
       "their small corpora" for p in ("n_cells", "n_probe")},
    **{("ivf_pq_topk", p): "test: test_ivf_pq_recall_vs_exact sizes the "
       "index to its small corpus" for p in ("n_cells", "n_probe")},
    **{("lsh_topk", p): "test: test_lsh_finds_high_similarity_neighbors "
       "sketches 32 dims with 16 planes in 4 bands"
       for p in ("n_planes", "bands")},
    ("embedding_dup_pairs", "max_rows"): "test: "
    "test_embedding_dup_pairs_guard trips the size guard and turns it off",
    ("embedding_dedup_tiers", "bucket_cap"): "test: "
    "test_embedding_band_sizing_enforced sets 256 to reach the band "
    "widening",
    ("embedding_near_pairs_lsh", "bucket_cap"): "test: "
    "test_embedding_band_sizing_enforced sets it through "
    "embedding_dedup_tiers(bucket_cap=256)",
    ("semantic_dedup", "sample_size"): "test: "
    "test_semantic_dedup_greedy_rule trains on a 200-row sample",
    **{("token_gram_hits", p): _SUBSTRING for p in ("k", "min_docs")},
    ("exact_substring_spans", "min_docs"): _SUBSTRING,
    ("substring_dup_stats", "min_docs"): _SUBSTRING,
    **{("corpus_filter_decisions", p): _SUBSTRING
       for p in ("min_docs", "dup_num", "dup_den")},
    ("trim_duplicate_spans", "min_docs"): _SUBSTRING,
    **{("winnowing_fingerprints", p): "recipe: winnowing (Schleimer et al. "
       "2003)" for p in ("k", "window")},
    ("percentile_buckets", "n_buckets"): "test: "
    "test_percentile_buckets_label_mismatch asks for 4 buckets, 3 labels",
    **{("gopher_quality_filter", p): _GOPHER for p in (
        "min_tokens", "max_tokens", "min_mean_tok_len_x10",
        "max_mean_tok_len_x10", "top_ngram_num", "top_ngram_den",
        "dup_ngram_num", "dup_ngram_den", "n",
    )},
    **{("source_quality_rollup", p): "test: test_source_quality_rollup "
       "sets all three to split its hosts"
       for p in ("min_docs", "max_dup_rate", "min_avg_chars")},
    ("tfidf_keywords", "k"): "test: test_tfidf_keywords_hand_computed "
    "keeps 2 keywords",
    ("simhash_near_pairs", "hamming_threshold"): "test: "
    "test_simhash_near_pairs sets 8, past the pigeonhole-guaranteed 3",
    ("top_reclaimable_clusters", "k"): "test: "
    "test_top_reclaimable_clusters keeps the top 1",
    ("verify_phash_pairs", "hamming_threshold"): "test: "
    "test_verify_thresholds_render_as_numeric_sql sets int and float bounds",
    **{("verify_caption_pairs", p): "test: "
       "test_verify_thresholds_render_as_numeric_sql sets inclusive bounds"
       for p in ("jaccard_threshold", "lcs_ratio")},
    ("incremental_caption_candidates", "bucket_cap"): "test: "
    "test_incremental_caption_candidates_follow_the_bucket_rule reaches "
    "the cap paths",
    ("PipelineConfig", "bucket_cap"): "test: "
    "test_bad_config_raises_before_any_stage reaches the rejection",
    ("compact_stage", "target_bytes"): "test: "
    "test_compact_stage_respects_target_bytes sets a quarter of its stage",
    ("stream_media_novelty", "prune_min_index_bytes"): "test: "
    "test_pruned_verdicts_match_full_scan engages the prune at 0 and "
    "never at 1 << 60",
    **{(fn, p): _GEOMETRY
       for fn in ("stream_near_dup_clusters", "stream_media_novelty",
                  "stream_ingest_dedup")
       for p in ("n_shards", "bits_per_shard")},
}
REASONS = ("test:", "recipe:")


def _is_bool(d: ast.expr) -> bool:
    return isinstance(d, ast.Constant) and isinstance(d.value, bool)


def _is_numeric(d: ast.expr) -> bool:
    if isinstance(d, ast.Constant):
        return isinstance(d.value, (int, float)) and not _is_bool(d)
    if isinstance(d, (ast.BinOp, ast.UnaryOp)):
        return all(_is_numeric(n) for n in ast.iter_child_nodes(d)
                   if isinstance(n, ast.expr))
    return isinstance(d, ast.Name) and d.id.isupper()


def _is_dataclass(node: ast.ClassDef) -> bool:
    return any(
        "dataclass" in ast.unparse(d) for d in node.decorator_list
    )


def _signatures(tree: ast.Module):
    """(name, positional parameter names, [(parameter, default, line)])
    for each public function, public method of a public class (``self``
    and ``cls`` dropped) and public dataclass (its fields, the
    constructor's parameters)."""
    for node in tree.body:
        if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            if _is_dataclass(node):
                fields = [n for n in node.body if isinstance(n, ast.AnnAssign)]
                yield node.name, [f.target.id for f in fields], [
                    (f.target.id, f.value, f.lineno)
                    for f in fields
                    if f.value is not None and not isinstance(f.value, ast.Call)
                ]
            funcs = [n for n in node.body if isinstance(n, ast.FunctionDef)]
        elif isinstance(node, ast.FunctionDef):
            funcs = [node]
        else:
            continue
        for f in funcs:
            if f.name.startswith("_"):
                continue
            a = f.args
            pos = a.posonlyargs + a.args
            pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            if isinstance(node, ast.ClassDef) and pos and pos[0].arg in (
                "self", "cls"
            ):
                pos = pos[1:]
            yield f.name, [p.arg for p in pos], [
                (p.arg, d, p.lineno) for p, d in pairs
            ]


def _settings(tree: ast.Module, positional: dict) -> Counter:
    """(called name, parameter) -> number of calls that set it to
    anything but a same-named variable; ``positional`` maps a name to
    the positional parameter lists of the functions it may call."""
    seen = Counter()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
        if not name:
            continue
        for kw in node.keywords:
            forwarded = isinstance(kw.value, ast.Name) and kw.value.id == kw.arg
            if kw.arg and not forwarded:
                seen[name, kw.arg] += 1
        for params in positional.get(name, ()):
            for i, arg in enumerate(node.args[: len(params)]):
                if isinstance(arg, ast.Starred):
                    seen.update((name, p) for p in params[i:])
                    break
                if not (isinstance(arg, ast.Name) and arg.id == params[i]):
                    seen[name, params[i]] += 1
    return seen


def _numeric_scope(rel) -> bool:
    return rel.parts[0] == PKG and rel.name != "oracles.py"


def _package_options(kind, in_scope):
    """([(file, function, parameter, line)] for each public parameter
    whose default is of ``kind``, callers) where ``callers`` counts the
    settings made outside tests/."""
    trees = {p.relative_to(ROOT): ast.parse(p.read_text(), filename=str(p))
             for p in _sources()}
    options, positional = [], {}
    for rel, tree in trees.items():
        if rel.parts[0] != PKG:
            continue
        for name, params, defaults in _signatures(tree):
            positional.setdefault(name, []).append(params)
            if in_scope(rel):
                options.extend((rel, name, p, line)
                               for p, d, line in defaults if kind(d))
    callers = Counter()
    for rel, tree in trees.items():
        if rel.parts[0] != "tests":
            callers.update(_settings(tree, positional))
    assert options
    return options, callers


def _unused(kind, allowed, in_scope) -> list[str]:
    options, callers = _package_options(kind, in_scope)
    return [
        f"{rel}:{line}: {fn}({param}=...) is set by no caller outside tests/"
        for rel, fn, param, line in options
        if not callers[fn, param] and (fn, param) not in allowed
    ]


def test_every_bool_option_has_a_caller():
    unused = _unused(_is_bool, ALLOWED, lambda rel: rel.parts[0] == PKG)
    assert not unused, "\n".join(unused)


def test_every_numeric_option_has_a_caller():
    unused = _unused(_is_numeric, ALLOWED_NUMERIC, _numeric_scope)
    assert not unused, "\n".join(unused)


def test_allowlist_names_live_options():
    """An allowlisted option whose parameter is gone, or that a caller
    outside tests/ now sets, must leave the list; a numeric entry gives
    one of the REASONS."""
    for kind, allowed, in_scope in (
        (_is_bool, ALLOWED, lambda rel: rel.parts[0] == PKG),
        (_is_numeric, ALLOWED_NUMERIC, _numeric_scope),
    ):
        options, callers = _package_options(kind, in_scope)
        live = {(fn, p) for _, fn, p, _ in options}
        assert set(allowed) <= live, set(allowed) - live
        called = {o for o in allowed if callers[o]}
        assert not called, called
    bad = {o: r for o, r in ALLOWED_NUMERIC.items()
           if not r.startswith(REASONS)}
    assert not bad, bad
