"""Guard against regrowth of library twins: every public top-level function
and class in ``graphsetintersection_spark/`` must be reached from outside
``tests/`` — from the library itself, the driver entry module, the bench
harnesses, the scripts or perfbench. A name that only tests reach is a
second form of something (an oracle belongs under ``tests/``) or dead
code; it fails here unless ``KEPT_TEST_ONLY`` names it with a reason.

References are counted by identifier (``Name``, ``Attribute`` and import
aliases), so a docstring or comment mention does not count, and a
function's references to itself inside its own body do not count."""

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
