"""Static source-hygiene guards (no Spark session needed).

Round-5 post-mortem: a second ``def prefix_filter_jaccard_pairs`` was
appended to operators/dedup.py and silently shadowed the first — 58
lines of dead code whose integer-arithmetic fix the live copy lacked.
Python raises nothing for duplicate top-level definitions, so this is
exactly the class of bug a 10-line AST walk closes for good.
"""
import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "aws_datalake_framework_ingestion_spark"
)


def _module_files():
    return sorted(PKG.rglob("*.py"))


def _duplicate_toplevel_defs(tree: ast.Module):
    """Names bound more than once at module top level by def/class.

    Plain assignments are excluded (rebinding a variable is normal);
    a name that is BOTH assigned and later def'd (or vice versa) is
    also flagged — that shadowing is just as silent.
    """
    def_seen: dict[str, int] = {}
    assign_seen: dict[str, int] = {}
    dups = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.name in def_seen:
                dups.append((node.name, def_seen[node.name], node.lineno))
            if node.name in assign_seen:  # assigned earlier, def'd now
                dups.append((node.name, assign_seen[node.name], node.lineno))
            def_seen[node.name] = node.lineno
        else:
            # plain assignments may rebind each other freely, but an
            # assignment shadowing an earlier def/class is flagged
            targets = []
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets = [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    if t.id in def_seen:
                        dups.append((t.id, def_seen[t.id], node.lineno))
                    assign_seen[t.id] = node.lineno
    return dups


def test_no_duplicate_toplevel_definitions():
    offenders = []
    for path in _module_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        for name, first, second in _duplicate_toplevel_defs(tree):
            offenders.append(f"{path}:{second} redefines {name} (first at :{first})")
    assert not offenders, "\n".join(offenders)


def test_duplicate_def_guard_has_teeth():
    """The guard must actually fire on a planted duplicate."""
    planted = ast.parse("def f():\n    pass\n\ndef f():\n    pass\n")
    assert _duplicate_toplevel_defs(planted) == [("f", 1, 4)]
    # cross-kind shadowing, both orders (r6 ADVICE: the docstring
    # claimed this and the walker didn't do it)
    assert _duplicate_toplevel_defs(
        ast.parse("def f():\n    pass\n\nf = 1\n")
    ) == [("f", 1, 4)]
    assert _duplicate_toplevel_defs(
        ast.parse("f = 1\n\ndef f():\n    pass\n")
    ) == [("f", 1, 3)]
    # plain rebinding of a variable stays allowed
    assert _duplicate_toplevel_defs(ast.parse("x = 1\nx = 2\n")) == []


def test_no_single_definition_is_vacuous():
    """Sanity: the walker sees a real number of definitions."""
    total = 0
    for path in _module_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        total += sum(
            isinstance(n, (ast.FunctionDef, ast.ClassDef)) for n in tree.body
        )
    assert total > 100


def test_operators_md_count_matches_registry():
    """OPERATORS.md's header count is GENERATED (r4/r5 verdicts: the
    hand count drifted twice); this pins doc == registry so the drift
    class is closed."""
    import re

    from aws_datalake_framework_ingestion_spark.plans import REGISTRY

    text = (PKG.parent / "OPERATORS.md").read_text()
    m = re.search(
        r"<!-- GENERATED COUNT --> (\d+) registered queries, (\d+) with",
        text,
    )
    assert m, "generated count line missing from OPERATORS.md"
    n_reg = len(REGISTRY)
    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    assert (int(m.group(1)), int(m.group(2))) == (n_reg, n_oracle), (
        "OPERATORS.md header drifted — rerun scratch/gen_operators_md.py"
    )


def test_operators_md_regeneration_is_marker_safe(tmp_path, monkeypatch):
    """The table generator must replace ONLY the span between its
    BEGIN/END markers (VERDICT r13 #1: the single-marker version
    truncated to EOF and destroyed the hand-written double-exactness
    policy section).  Pins: hand-written sections above BEGIN and
    below END survive regeneration, and regeneration is idempotent."""
    import importlib.util
    import shutil

    spec = importlib.util.spec_from_file_location(
        "gen_operators_md", PKG.parent / "scratch" / "gen_operators_md.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    real = (PKG.parent / "OPERATORS.md").read_text()
    assert gen.BEGIN_MARKER in real and gen.END_MARKER in real
    assert "double-exactness" in real.split(gen.BEGIN_MARKER)[0], (
        "the restored round-13 policy section must live ABOVE the "
        "generated span"
    )

    shutil.copy(PKG.parent / "OPERATORS.md", tmp_path / "OPERATORS.md")
    doc = (tmp_path / "OPERATORS.md").read_text()
    doc += "\n## Hand-written trailer sentinel\n\nkeep-me-below-end\n"
    (tmp_path / "OPERATORS.md").write_text(doc)
    monkeypatch.chdir(tmp_path)

    gen.main()
    once = (tmp_path / "OPERATORS.md").read_text()
    assert "keep-me-below-end" in once
    assert "double-exactness" in once.split(gen.BEGIN_MARKER)[0]
    assert once.count(gen.BEGIN_MARKER) == 1
    assert once.count(gen.END_MARKER) == 1
    gen.main()
    assert (tmp_path / "OPERATORS.md").read_text() == once


# --------------------------------------------------------------------
# Driver-collect discipline (VERDICT r8 item 2): every .collect() in
# the package must sit inside a function whose row bound is a
# documented constant (a limit(cap)/limit(cap+1)+raise, a per-round
# batch_top, a per-partition count map, a scalar agg) or be an
# explicit caller-facing retrieval API.  A NEW collect site fails this
# test until it is adjudicated and added here WITH its bound.
# --------------------------------------------------------------------

# (module-relative path, enclosing function) -> documented bound
_ADJUDICATED_COLLECTS = {
    # scalar: single-row aggregate feeding a literal
    ("plans/streaming_queries.py", "stream_exec_cdc_upsert"): "1-row agg",
    # format gate: one aggregate row per format (3), materialized
    # before the temp dir is reaped
    ("plans/governance_queries.py", "maint_format_roundtrip"): "3 rows",
    # parity gate: limit(65537)+raise (vocab cap, r9)
    ("plans/northstar_queries.py", "ns_bpe_train_merges"): "65536+raise",
    # micro-batch JSON merge: row-capped before collect
    ("streaming/merge.py", "merge_json_array_file"): "max_rows cap",
    # BPE trainer: one batch_top row-set per round
    ("operators/text.py", "bpe_train"): "limit(batch_top)/round",
    # distributed prefix sums: one count/sum row per partition
    ("operators/ranking.py", "_ranked_with_sizes"): "1 row/partition",
    ("operators/ranking.py", "global_running_sum"): "1 row/partition",
    # sketch/codebook trainers: limit(max_train) sample
    ("operators/similarity.py", "train_ivf_centroids"): "limit(max_train)",
    ("operators/similarity.py", "train_pq_codebooks"): "limit(max_train)",
    # PQ query set: limit(max_queries+1)+raise
    ("operators/similarity.py", "pq_topk"): "max_queries+raise",
    ("operators/similarity.py", "pq_index_topk"): "max_queries+raise",
    # Arrow brute-force top-k query matrix: limit(max_queries+1)+raise
    ("operators/similarity.py", "cosine_topk_kernel"): "max_queries+raise",
    # persisted-index search query matrix: limit(max_queries+1)+raise
    ("operators/similarity.py", "ivf_index_topk"): "max_queries+raise",
    # clusteredness probe: limit(sample) (default 256) vectors
    ("operators/similarity.py", "jl_shortlist_fraction"): "limit(sample)",
    # curation resume: succeeded-stage rows for ONE run_id (≤ 6 by
    # construction — the pipeline has 6 stages)
    ("curation.py", "run_curation"): "≤6 ledger rows/run",
    # incremental curation replay check: ≤6 succeeded rows per
    # committed batch of ONE pipeline (control-plane-sized)
    ("curation.py", "run_curation_incremental"): "≤6 rows/batch",
    # fixed-window packer: length histogram, len clamped to
    # [1, context] so ≤ context rows by construction
    ("operators/text.py", "pack_fixed_windows"): "≤context-row histogram",
    # manifest commit/read: one row per data FILE in one snapshot
    # (file count is the manifest's own content — reading it back is
    # the operation; bounded by target_files at write time)
    ("sources/manifest.py", "write_manifest"): "files/snapshot",
    ("sources/manifest.py", "update_manifest"): "files/snapshot",
    # caller-facing DAL retrieval (reference R18 fetch contract:
    # result size is the caller's query, same as any DB cursor)
    ("dal.py", "rows"): "caller API",
    ("dal.py", "dict_rows"): "caller API",
    # z-order block-id bijection LUT: n_files rows per iteration
    ("sinks.py", "write_zordered"): "n_files LUT",
}


def _collect_sites():
    """(relpath, enclosing function, lineno) for every .collect()."""
    out = []
    for path in _module_files():
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())

        class V(ast.NodeVisitor):
            def __init__(self):
                self.stack = []

            def visit_FunctionDef(self, node):
                self.stack.append(node.name)
                self.generic_visit(node)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                f = node.func
                if isinstance(f, ast.Attribute) and f.attr == "collect":
                    out.append((rel, self.stack[0] if self.stack else "<module>", node.lineno))
                self.generic_visit(node)

        V().visit(tree)
    return out


def test_every_collect_site_has_a_documented_bound():
    sites = _collect_sites()
    assert sites, "AST scan found no collect() sites — scanner broken?"
    undocumented = [
        s for s in sites if (s[0], s[1]) not in _ADJUDICATED_COLLECTS
    ]
    assert not undocumented, (
        "collect() sites without a documented row bound (adjudicate and "
        f"add to _ADJUDICATED_COLLECTS with the bound): {undocumented}"
    )


def test_collect_guard_has_teeth():
    src = "def f(df):\n    return df.collect()\n"
    tree = ast.parse(src)

    class V(ast.NodeVisitor):
        found = False

        def visit_Call(self, node):
            if isinstance(node.func, ast.Attribute) and node.func.attr == "collect":
                V.found = True
            self.generic_visit(node)

    V().visit(tree)
    assert V.found


# --------------------------------------------------------------------
# Pool-thread job attribution: under PySpark's pinned-thread mode a
# pool thread inherits none of the caller's local properties, so jobs
# it launches carry no job group and escape every per-group job count
# (the construction pins, CURATE_BATCH_JOBS).  Every callable handed
# to an executor must be wrapped by ``inheritable_thread_target``.
# --------------------------------------------------------------------

_WRAPPER = "inheritable_thread_target"


def _mentions(node: ast.AST, names: set[str]) -> bool:
    return any(
        (isinstance(n, ast.Name) and n.id in names)
        or (isinstance(n, ast.Attribute) and n.attr in names)
        for n in ast.walk(node)
    )


def _unwrapped_pool_submits(tree: ast.Module) -> list[int]:
    """Line numbers of ``.submit``/``.map`` calls on an executor (a name
    bound to a ``...Executor(...)`` call, by ``with ... as`` or by
    assignment) whose callable is not wrapped by
    ``inheritable_thread_target`` — directly, or through a name bound to
    ``inheritable_thread_target(...)``."""
    pools: set[str] = set()
    wrappers = {_WRAPPER}

    def _is_executor(call: ast.AST) -> bool:
        if not isinstance(call, ast.Call):
            return False
        f = call.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
        return name.endswith("Executor")

    for node in ast.walk(tree):
        if isinstance(node, ast.withitem) and _is_executor(node.context_expr):
            if isinstance(node.optional_vars, ast.Name):
                pools.add(node.optional_vars.id)
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if not isinstance(t, ast.Name):
                    continue
                if _is_executor(node.value):
                    pools.add(t.id)
                elif _mentions(node.value, {_WRAPPER}):
                    wrappers.add(t.id)
    out = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("submit", "map")
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in pools
        ):
            continue
        fn = node.args[0] if node.args else None
        if not (isinstance(fn, ast.Call) and _mentions(fn.func, wrappers)):
            out.append(node.lineno)
    return sorted(out)


def test_pool_callables_inherit_the_job_group():
    offenders, n_submits = [], 0
    for path in _module_files():
        src = path.read_text()
        n_submits += src.count(".submit(")
        for line in _unwrapped_pool_submits(ast.parse(src)):
            offenders.append(f"{path}:{line}")
    assert n_submits, "no executor submit in the package — scanner stale?"
    assert not offenders, (
        "pool callables without inheritable_thread_target (their jobs "
        f"lose the caller's job group): {offenders}"
    )


def test_pool_guard_has_teeth():
    """The guard must fire on a planted plain submit and map, and pass
    both wrapped forms."""
    planted = ast.parse(
        "from concurrent.futures import ThreadPoolExecutor\n"
        "def f(spark, g, xs):\n"
        "    with ThreadPoolExecutor(2) as pool:\n"
        "        a = pool.submit(g)\n"
        "        b = list(pool.map(g, xs))\n"
        "    ex = ThreadPoolExecutor(2)\n"
        "    ex.submit(lambda: g(1))\n"
    )
    assert _unwrapped_pool_submits(planted) == [4, 5, 7]
    wrapped = ast.parse(
        "from concurrent.futures import ThreadPoolExecutor\n"
        "from pyspark import inheritable_thread_target\n"
        "def f(spark, g, xs, series):\n"
        "    inherit = inheritable_thread_target(spark)\n"
        "    with ThreadPoolExecutor(2) as pool:\n"
        "        a = pool.submit(inheritable_thread_target(spark)(g))\n"
        "        b = list(pool.map(inherit(g), xs))\n"
        "    return series.map(len)\n"
    )
    assert _unwrapped_pool_submits(wrapped) == []
