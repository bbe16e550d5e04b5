"""Guard against regrowth of library twins and options.

Every public top-level function and class in ``graphsetintersection_spark/``
must be reached from outside ``tests/`` — from the library itself, the
driver entry module, the bench harnesses, the scripts or perfbench. A name
that only tests reach is a second form of something (an oracle belongs
under ``tests/``) or dead code; it fails here unless ``KEPT_TEST_ONLY``
names it with a reason.

References are counted by identifier (``Name``, ``Attribute`` and import
aliases), so a docstring or comment mention does not count, and a
function's references to itself inside its own body do not count.

``PARAMETERS`` pins the parameter names of every public library function
and public method, so a new option fails here until the list is updated
in the same change, with a comment on the line giving its reason."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIBRARY = ROOT / "graphsetintersection_spark"
PRODUCTION = [
    LIBRARY,
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "BENCH",
    ROOT / "scripts",
    ROOT / "perfbench",
]

# name → why a library name with no caller outside tests/ stays
KEPT_TEST_ONLY = {
    # reference file formats (smio/graphio): the reference's binaries and
    # scripts read and write these files; the readers, writers and
    # generators are kept for interchange with them
    "save_edge_text": "graphio: reference edge-list text (util.cpp:93-105)",
    "save_edges_parquet": "graphio: canonical persisted edge table",
    "load_edges_parquet": "graphio: canonical persisted edge table",
    "load_vertex_order": "graphio: reference permutation file (util.cpp:63-91)",
    "save_vertex_order": "graphio: reference permutation file (util.cpp:107-118)",
    "load_queries": "smio: reference sm query file",
    "save_queries": "smio: reference sm query file",
    "load_labels": "smio: reference label file (sm.cpp:45-58)",
    "save_labels": "smio: reference label file",
    "gen_labels": "smio: reference label generator",
    "load_sm_answers": "smio: reference sm answer file (sm.cpp:60-77)",
    "save_mc_answers": "smio: reference mc clique dump",
    "load_mc_answers": "smio: reference mc clique dump",
    "run_sm_batch": "smio: the reference sm binary's main loop",
    "gen_bfs_queries": "smio: gen_queries.py:5-13",
    "gen_shortest_distance_queries": "smio: gen_queries.py:15-27",
    "trans_newid_labels": "smio: gen_queries.py label rewrite",
    "trans_newid_query_ids": "smio: gen_queries.py:30-44 query rewrite",
    # porder.cpp orderings: each is the library's only form of one
    # reference ordering or ordering statistic
    "dfs_order": "porder.cpp:497-533 dfs_order",
    "bfsr_order": "porder.cpp:1116-1213 bfsr_order",
    "greedy_mheap_order": "porder.cpp:142-235 greedy_mheap (GRO)",
    "slashburn_order": "porder.cpp:1009-1114 slashburn",
    "hybrid_bfsdeg_order_exact": "porder.cpp:93-140 queue-BFS order",
    "graph_bisection_order": "porder.cpp:634-930 mloggapa_order",
    "leaf_node_count": "porder.cpp:82-91 leaf count",
    "continuous_ids": "trans_graph.py:3-22 id compaction",
    # streaming sinks: structured-streaming entry points a deployment
    # starts; no batch caller exists by construction
    "stream_pages": "streaming page source",
    "stream_link_edges": "streaming link extraction",
    "stream_link_rates": "streaming link-rate aggregate",
    "stream_sessionize": "streaming sessionization",
    "start_edge_sink": "streaming edge-log sink",
    "start_neardup_sink": "streaming near-duplicate sink",
    "write_band_index": "bucketed band index the streaming join reads",
    "read_band_index": "bucketed band index the streaming join reads",
    # reference headline outputs and pipeline ops with one form each
    "degeneracy_order_distributed": "the only degeneracy order "
    "(org_maximal_clique.cpp:316-370); maximal_cliques takes any order",
    "maximal_clique_count": "mc_num, the mc binary's headline (mc.cpp:39-47)",
    "embedding_neardup_pairs": "the only embedding near-duplicate op",
    "extract_text": "the batch (url, text) form of the pages extractor",
}


# module → public function or Class.method → its parameter names, in order
# (``self`` left out; ``*`` / ``**`` mark variadic ones)
PARAMETERS = {
    "functions.dedup": {
        "exact_dedup": "docs id_col text_col",
        "dedup_keep_first": "docs id_col text_col",
        "shingles": "docs n id_col text_col",
        "check_lsh_args": "n threshold num_perm bands",
        "ngram_jaccard_pairs": "docs n threshold id_col text_col max_shingle_df",
        "minhash_signatures": "docs num_perm n id_col text_col seed",
        "minhash_estimate": "sig_a sig_b num_perm",
        "banded_rows": "sigs num_perm bands carry",
        "minhash_lsh_pairs": (
            "docs num_perm bands n threshold id_col text_col verify verify_hashed "
            "est_prefilter_sigmas"
        ),
        "verified_pairs": "docs cand n threshold id_col text_col",
        "jaccard_for_pairs": "docs pairs n id_col text_col",
        "simhash_signatures": "docs id_col text_col",
        "simhash_pairs": "docs max_hamming id_col text_col",
        "simhash_neardup_pairs": "docs max_hamming n threshold id_col text_col",
    },
    "functions.similarity": {
        "cosine_topk_bruteforce": "queries candidates k id_col vec_col",
        "hyperplane_buckets": "vecs n_planes n_tables dim seed id_col vec_col",
        "lsh_ann_topk": "queries candidates k n_planes n_tables seed id_col vec_col",
        "ivf_train": "vecs n_cells sample_cap n_iters seed id_col vec_col",
        "ivf_assign": "vecs centroids id_col vec_col",
        "ivf_ann_topk": (
            "queries candidates k n_cells n_probe n_iters sample_cap seed id_col "
            "vec_col"
        ),
        "embedding_neardup_pairs": (
            "vecs threshold n_planes n_tables seed id_col vec_col"
        ),
    },
    "functions.text": {
        "token_count_ws": "text",
        "token_count_bpe": "text",
        "doc_stats": "docs id_col text_col",
        "quality_score": "docs id_col text_col",
        "lang_scores": "text",
        "lang_id": "docs id_col text_col",
        "fingerprint": "docs id_col text_col max_chars",
    },
    "kernels": {
        "intersect": "a b",
        "difference": "a b",
        "batch_intersect_count": "vals_a lens_a vals_b lens_b",
        "batch_bsr_intersect_count": "vals_a lens_a vals_b lens_b",
    },
    "operators.adjacency": {
        "lower_adjacency": "oriented",
        "driver_csr": "edges max_vertices opname undirected",
    },
    "operators.cliques": {
        "degeneracy_order_distributed": "edges max_rounds",
        "maximal_cliques": "edges order min_size max_group_deg use_pivot",
        "maximal_clique_count": "edges order",
    },
    "operators.components": {
        "cc_minlabel_round": "prep labels",
        "connected_components_minlabel": "edges max_rounds checkpointer",
        "connected_components_starcontraction": "edges max_rounds checkpointer",
        "connected_components_auto": "edges probe_rounds max_rounds",
    },
    "operators.edges": {
        "drop_nulls_and_loops": "edges",
        "canonicalize": "edges",
        "symmetrize": "edges",
        "orient": "edges",
        "degrees": "edges",
        "vertices": "edges",
    },
    "operators.hits": {
        "hits": "edges max_iter tol",
    },
    "operators.iterative": {
        "ships_state": "n",
        "PreparedGraph.unpersist": "",
        "stationary_edges": "edges verts n aggs",
        "prepare_undirected": "edges",
        "state_join": "prep state",
    },
    "operators.labelprop": {
        "lpa_round": "prep labels",
        "label_propagation": "edges max_rounds fixed_rounds checkpointer",
    },
    "operators.matching": {
        "subgraph_match": "edges labels query",
        "subgraph_match_count": "edges labels query",
    },
    "operators.pagerank": {
        "pagerank": "edges alpha max_iter tol checkpointer",
        "personalized_pagerank": (
            "edges seeds alpha max_iter tol weight_col checkpointer"
        ),
        "pagerank_df_prepare": "edges",
        "pagerank_df_iterate": "prep alpha max_iter tol checkpointer teleport",
    },
    "operators.relabel": {
        "degree_order": "edges descending deg",
        "continuous_ids": "edges id_col_name",
        "apply_order": "edges order",
        "comp_ratio": "edges pack_shift",
        "select_bignode": "edges deg_ratio deg",
        "hub_degree_threshold": "deg deg_ratio",
        "bfs_order": "edges max_levels",
        "rcm_order": "edges max_levels",
        "hybrid_bfsdeg_order": "edges max_levels",
        "hybrid_bfsdeg_order_exact": "edges max_driver_vertices",
        "leaf_node_count": "edges",
        "dfs_order": "edges max_driver_vertices",
        "bfsr_order": "edges min_part max_driver_vertices",
        "graph_bisection_order": (
            "edges min_part max_iters recompute_gains max_task_vertices max_levels"
        ),
        "greedy_mheap_order": "edges window max_driver_vertices",
        "slashburn_order": "edges k_div k_cap max_rounds",
    },
    "operators.triangle": {
        "triangle_count_arrays": "edges",
        "triangle_count_kernel_with_stats": "edges",
        "triangle_count_kernel": "edges",
        "triangles_per_edge": "edges",
    },
    "plans.assign": {
        "global_order_stats": (
            "df order_exprs rank_col cumsum_of cumsum_col approx_rows"
        ),
    },
    "plans.checkpoint": {
        "CheckpointManager.__init__": (
            "base_dir run_id algorithm params storage table_prefix"
        ),
        "CheckpointManager.committed": "",
        "CheckpointManager.latest_iteration": "",
        "CheckpointManager.commit": "df iteration metrics",
        "CheckpointManager.restore": "spark",
        "CheckpointManager.metrics_history": "",
        "check_round_args": "op rounds_name rounds tol minimum",
        "run_rounds": "state step max_rounds stop checkpointer record",
    },
    "plans.skew": {
        "hub_split_ratio": "rows mx av",
        "decide_hub_salting": "df key total_rows",
        "mark_hubs": "df key plan",
        "two_stage_agg": "df keys aggs salt_from plan",
        "content_signature": "df *cols",
        "signature_stop": "cols metrics",
    },
    "session": {
        "get_spark": "app_name master shuffle_partitions extra_conf",
        "ensure_min_parallelism": "df target",
        "table_path": "sf_dir name",
        "read_table": "spark sf_dir name",
    },
    "sources.extract": {
        "extract_text_col": "html",
        "extract_text": "pages",
        "extract_links": "pages",
        "link_edges": "pages",
    },
    "sources.graphio": {
        "lineitem_graph_sql": "v table",
        "lineitem_graph": "spark sf_dir v",
        "load_edge_text": "spark path",
        "save_edge_text": "edges path",
        "save_edges_parquet": "edges path buckets",
        "load_edges_parquet": "spark path",
        "load_vertex_order": "spark path",
        "save_vertex_order": "order path",
    },
    "sources.pages": {
        "read_pages": "spark source",
        "page_url": "page_id n_sites",
        "generate_pages": "spark n_pages avg_links gamma n_sites seed partitions",
    },
    "sources.smio": {
        "parse_queries_text": "text",
        "load_queries": "path",
        "save_queries": "queries path",
        "load_labels": "spark path",
        "save_labels": "labels path",
        "gen_labels": "edges num_labels seed",
        "trans_newid_labels": "labels order",
        "save_sm_answers": "counts path",
        "load_sm_answers": "path",
        "save_mc_answers": "cliques path",
        "load_mc_answers": "spark path",
        "gen_bfs_queries": "edges q_num seed",
        "gen_shortest_distance_queries": "edges q_num seed",
        "trans_newid_query_ids": "queries order id_cols",
        "run_sm_batch": "edges labels queries answers_path",
    },
    "streaming.dedup": {
        "minhash_band_index": "docs num_perm bands n id_col text_col",
        "write_band_index": "index table buckets",
        "read_band_index": "spark table",
        "stream_minhash_neardup": (
            "docs_stream index num_perm bands n threshold id_col text_col state_horizon "
            "validate"
        ),
        "batch_minhash_neardup": (
            "docs index num_perm bands n threshold id_col text_col exact_verify_docs"
        ),
        "start_neardup_sink": "matches out_dir checkpoint_dir",
    },
    "streaming.ingest": {
        "stream_pages": "spark pages_dir",
        "stream_link_edges": "pages_stream",
        "start_edge_sink": "edges_stream out_dir checkpoint_dir",
        "stream_sessionize": "events_stream gap_min watermark",
        "stream_link_rates": "edges_stream window slide watermark",
    },
}


def _py_files(path: Path):
    if path.is_file():
        return [path]
    return sorted(p for p in path.rglob("*.py") if "__pycache__" not in p.parts)


def _references(tree: ast.Module) -> set[str]:
    """Identifiers a module references, minus each top-level definition's
    references to its own name from inside its body."""
    refs: set[str] = set()

    def visit(node, owner):
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                name = sub.id
            elif isinstance(sub, ast.Attribute):
                name = sub.attr
            elif isinstance(sub, ast.alias):
                name = sub.name.rsplit(".", 1)[-1]
            else:
                continue
            if name != owner:
                refs.add(name)

    for stmt in tree.body:
        owner = (
            stmt.name
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            else None
        )
        visit(stmt, owner)
    return refs


def _public_definitions() -> dict[str, str]:
    out = {}
    for f in _py_files(LIBRARY):
        for stmt in ast.parse(f.read_text()).body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not stmt.name.startswith("_"):
                out[stmt.name] = str(f.relative_to(ROOT))
    return out


def _referenced_from(paths) -> set[str]:
    refs: set[str] = set()
    for path in paths:
        for f in _py_files(path):
            refs |= _references(ast.parse(f.read_text()))
    return refs


def test_every_public_library_name_has_a_production_caller():
    defs = _public_definitions()
    production = _referenced_from(PRODUCTION)
    test_refs = _referenced_from([ROOT / "tests"])
    test_only = {
        name: mod
        for name, mod in defs.items()
        if name not in production and name not in KEPT_TEST_ONLY
    }
    assert not test_only, (
        "public library names with no caller outside tests/ (delete them, "
        "move an oracle under tests/, or add a reason to KEPT_TEST_ONLY): "
        + ", ".join(
            f"{mod}:{name}{'' if name in test_refs else ' (no caller at all)'}"
            for name, mod in sorted(test_only.items())
        )
    )


def test_kept_test_only_names_are_still_test_only():
    """A KEPT_TEST_ONLY entry that gained a production caller, or whose
    definition left the library, is stale."""
    defs = _public_definitions()
    production = _referenced_from(PRODUCTION)
    stale = sorted(
        name for name in KEPT_TEST_ONLY
        if name not in defs or name in production
    )
    assert not stale, f"stale KEPT_TEST_ONLY entries: {stale}"


def _parameter_names(fn: ast.FunctionDef, method: bool) -> str:
    a = fn.args
    names = [x.arg for x in a.posonlyargs + a.args][1 if method else 0:]
    names += [f"*{a.vararg.arg}"] if a.vararg else []
    names += [x.arg for x in a.kwonlyargs]
    names += [f"**{a.kwarg.arg}"] if a.kwarg else []
    return " ".join(names)


def _signatures() -> dict[str, dict[str, str]]:
    out: dict[str, dict[str, str]] = {}
    for f in _py_files(LIBRARY):
        mod = ".".join(f.relative_to(LIBRARY).with_suffix("").parts)
        for stmt in ast.parse(f.read_text()).body:
            if isinstance(stmt, ast.FunctionDef) and not stmt.name.startswith("_"):
                out.setdefault(mod, {})[stmt.name] = _parameter_names(stmt, False)
            elif isinstance(stmt, ast.ClassDef) and not stmt.name.startswith("_"):
                for sub in stmt.body:
                    if isinstance(sub, ast.FunctionDef) and (
                        sub.name == "__init__" or not sub.name.startswith("_")
                    ):
                        out.setdefault(mod, {})[f"{stmt.name}.{sub.name}"] = (
                            _parameter_names(sub, True)
                        )
    return out


def test_public_signatures_match_the_parameter_census():
    """A parameter added to (or removed from) a public function, or a new
    public function, fails until ``PARAMETERS`` records it."""
    got = _signatures()
    drift = []
    for mod in sorted(set(got) | set(PARAMETERS)):
        have, want = got.get(mod, {}), PARAMETERS.get(mod, {})
        for name in sorted(set(have) | set(want)):
            if have.get(name) != want.get(name):
                drift.append(
                    f"{mod}.{name}: pinned ({want.get(name)}) now ({have.get(name)})"
                )
    assert not drift, (
        "public signatures differ from PARAMETERS (update it in the same "
        "change, with a reason for any added parameter): " + "; ".join(drift)
    )
