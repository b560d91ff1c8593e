"""The command-line tools and benchmark scripts stay runnable, and the
engine holds no code they and the registry do not run.

The engine's own tests do not run ``tools/``, ``faersbench/`` or
``bench.py``, so an engine refactor could silently break one.  Every such
script is parsed (not executed) and each engine import it makes must
resolve.  The profiling CLI and ``bench.py`` also get one end-to-end
smoke run each, and ``bench.py``'s headline-series fold is pinned
without Spark.  In the other direction, every package definition must
have a caller outside ``tests/`` or be a declared law reference.
"""

import ast
import importlib
import json
import os
import subprocess
import sys
from pathlib import Path
from types import ModuleType

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "platform_etl_openfda_faers_spark"
TOOLS = sorted(
    [*REPO.glob("tools/*.py"), *REPO.glob("faersbench/*.py"), REPO / "bench.py"]
)
PKG_FILES = sorted((REPO / PKG).rglob("*.py"))
# Everything outside tests/ that may call into the package.
CALLERS = [
    *PKG_FILES, *REPO.glob("tools/**/*.py"), *REPO.glob("faersbench/*.py"),
    REPO / "bench.py", REPO / "__spark_entry__.py",
]

# Package definitions that nothing outside tests/ calls, kept on purpose:
# each is the simple form a test pins a live operator against.
# (module, name, the test that pins it)
LAW_REFERENCES = (
    ("operators.dedup", "distinct_tokens",
     "test_index_rowlocal_dedup_equals_global_distinct"),
    ("operators.dedup", "prune_df_above",
     "test_prune_df_window_equals_join_form_law"),
    ("operators.dedup", "minhash_signatures",
     "test_minhash_local_equals_index_route"),
    ("operators.dedup", "simhash_portable", "test_simhash_local_equals_exploded"),
    ("operators.dedup", "_simhash_sig_counts",
     "test_simhash_sql_matches_columnwise"),
    ("operators.dedup", "jaccard_for_pairs", "test_array_verify_matches_index_verify"),
    ("operators.graph", "connected_components",
     "test_twophase_matches_min_label_on_mixed_graph"),
    ("operators.multimodal", "dequantize_idct", "test_jpeg_entropy_layer_is_lossless"),
)


def _engine_bindings(tree: ast.Module):
    """(line, local name, dotted target) for every engine import."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node.lineno, a.asname or a.name.split(".")[0], a.name
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PKG:
            for a in node.names:
                yield node.lineno, a.asname or a.name, f"{node.module}.{a.name}"


def _references(paths) -> list[tuple[str, str, tuple[str, ...], ast.AST | None]]:
    """(name, file, enclosing definitions, use) for every code reference
    in ``paths``: each ``Name`` and ``Attribute`` read, and each
    ``ImportFrom`` alias.  ``file`` is relative to the repo, the
    enclosing definitions run outermost first from ``"<module>"``, and
    ``use`` is the ``Call`` whose function the reference is, the
    ``ImportFrom`` of an import alias, or ``None`` for a read as a value.
    Docstrings and other strings are not references."""
    refs = []

    class Visitor(ast.NodeVisitor):
        def __init__(self, path: str) -> None:
            self.path, self.stack, self.calls = path, ["<module>"], {}

        def visit_FunctionDef(self, node) -> None:
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_ClassDef = visit_FunctionDef

        def visit_Call(self, node: ast.Call) -> None:
            self.calls[id(node.func)] = node
            self.generic_visit(node)

        def _ref(self, node, name: str, use=None) -> None:
            refs.append((name, self.path, tuple(self.stack), use or self.calls.get(id(node))))

        def visit_Name(self, node: ast.Name) -> None:
            if isinstance(node.ctx, ast.Load):
                self._ref(node, node.id)

        def visit_Attribute(self, node: ast.Attribute) -> None:
            if isinstance(node.ctx, ast.Load):
                self._ref(node, node.attr)
            self.generic_visit(node)

        def visit_ImportFrom(self, node: ast.ImportFrom) -> None:
            for a in node.names:
                self._ref(node, a.name, node)

    for path in paths:
        Visitor(str(path.relative_to(REPO))).visit(ast.parse(path.read_text()))
    return refs


def _definitions(path: Path):
    """(name, registered) for each module-level ``def``, ``class`` and
    assigned name in ``path``, dunders excluded.  ``registered`` marks a
    definition that a decorator defined in the same module registers
    (the query registry's ``@query``)."""
    tree = ast.parse(path.read_text())
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    local = {node.name for node in tree.body if isinstance(node, defs)}
    for node in tree.body:
        if isinstance(node, defs):
            decorators = {
                getattr(d.func if isinstance(d, ast.Call) else d, "id", None)
                for d in node.decorator_list
            }
            yield node.name, bool(decorators & local)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name) and not (
                        n.id.startswith("__") and n.id.endswith("__")
                    ):
                        yield n.id, False


def _resolve(dotted: str):
    """The object ``dotted`` names: a module, or an attribute of one."""
    try:
        return importlib.import_module(dotted)
    except ModuleNotFoundError:
        mod, _, attr = dotted.rpartition(".")
        return getattr(importlib.import_module(mod), attr)


@pytest.mark.parametrize("path", TOOLS, ids=[p.name for p in TOOLS])
def test_tool_engine_imports_resolve(path):
    """Each engine import in the tool names a real module or attribute,
    and each ``module.attr`` read through an imported engine module
    exists (``benchmarks.SPARK_QUERIES``, ``multimodal.synthetic_…``)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    modules: dict[str, ModuleType] = {}
    missing = []
    for line, name, dotted in _engine_bindings(tree):
        try:
            obj = _resolve(dotted)
        except (ImportError, AttributeError) as exc:
            missing.append(f"line {line}: {dotted} ({exc})")
            continue
        if isinstance(obj, ModuleType) and name != PKG:
            modules[name] = obj
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"line {node.lineno}: {node.value.id}.{node.attr}")
    assert not missing, f"{path.name}: " + "; ".join(missing)


def test_every_package_definition_has_a_caller():
    """Each module-level definition in the package has a code reference
    outside ``tests/`` and outside its own body — from the package,
    ``tools/``, ``faersbench/``, ``bench.py`` or ``__spark_entry__.py``
    — unless it is one of the ``LAW_REFERENCES``.  A law reference in
    turn has no such caller, and the test it names references it.
    Names are matched without their module, so a name two modules share
    can hide dead code; the test never flags live code."""
    refs: dict[str, set[tuple[str, str]]] = {}
    for name, path, stack, _ in _references(CALLERS):
        refs.setdefault(name, set()).add((path, stack[1] if len(stack) > 1 else ""))
    laws = {(mod, name): test for mod, name, test in LAW_REFERENCES}
    dead, defined = [], set()
    for path in PKG_FILES:
        rel = str(path.relative_to(REPO))
        mod = ".".join(path.relative_to(REPO / PKG).with_suffix("").parts)
        for name, registered in _definitions(path):
            defined.add((mod, name))
            called = registered or any(
                (p, top) != (rel, name) for p, top in refs.get(name, ())
            )
            if (mod, name) in laws:
                assert not called, (
                    f"law reference {mod}.{name} has a caller outside tests/: "
                    "drop it from LAW_REFERENCES"
                )
            elif not called:
                dead.append(f"{mod}.{name}")
    assert not dead, "no caller outside tests/: " + ", ".join(dead)
    assert set(laws) <= defined, set(laws) - defined
    test_refs = {
        (name, stack[1])
        for name, _, stack, _ in _references(sorted(REPO.glob("tests/*.py")))
        if len(stack) > 1
    }
    unpinned = [
        f"{mod}.{name} ({test})"
        for (mod, name), test in laws.items()
        if (name, test) not in test_refs
    ]
    assert not unpinned, "law references their test does not name: " + ", ".join(
        unpinned
    )


def _functions(path: Path):
    """(function, is_method) for each module-level function in ``path``
    and each function defined in a module-level class; ``is_method``
    marks a class-level one whose first parameter the call supplies
    (``self``/``cls``), i.e. anything but a ``staticmethod``."""
    defs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, defs):
            yield node, False
        elif isinstance(node, ast.ClassDef):
            for fn in node.body:
                if isinstance(fn, defs):
                    static = {getattr(d, "id", None) for d in fn.decorator_list}
                    yield fn, "staticmethod" not in static


def test_every_option_has_two_values():
    """Each keyword option (a parameter with a default) of a package
    function receives a second value somewhere in the repository: some
    call from the package, ``tools/``, ``faersbench/``, ``bench.py``,
    ``__spark_entry__.py`` or ``tests/`` passes an expression whose
    source text differs from the default.  Positional arguments map to
    parameter names; a variable counts as a second value.  An option
    every caller leaves at one value is a constant.  Out of scope: the
    ``LAW_REFERENCES``, names defined twice in the package, functions
    some call passes ``*args``/``**kwargs``, and functions referenced as
    a value (passed to a tracer or kept in a table), whose calls the AST
    does not all show."""
    calls: dict[str, list[ast.Call]] = {}
    as_value = set()
    for name, _, _, use in _references([*CALLERS, *sorted(REPO.glob("tests/*.py"))]):
        if isinstance(use, ast.Call):
            calls.setdefault(name, []).append(use)
        elif use is None:
            as_value.add(name)
    funcs: dict[str, list[tuple[str, ast.FunctionDef, bool]]] = {}
    for path in PKG_FILES:
        mod = ".".join(path.relative_to(REPO / PKG).with_suffix("").parts)
        for fn, is_method in _functions(path):
            funcs.setdefault(fn.name, []).append((mod, fn, is_method))
    laws = {(mod, name) for mod, name, _ in LAW_REFERENCES}
    one_value = []
    for name, defs in funcs.items():
        if len(defs) > 1 or name in as_value:
            continue
        [(mod, fn, is_method)] = defs
        sites = calls.get(name, [])
        if (mod, name) in laws or any(
            isinstance(a, ast.Starred) for c in sites for a in c.args
        ) or any(k.arg is None for c in sites for k in c.keywords):
            continue
        a = fn.args
        positional = a.posonlyargs + a.args
        params = [p.arg for p in positional][is_method:]
        passed: dict[str, set[str]] = {}
        for c in sites:
            for p, v in [*zip(params, c.args), *((k.arg, k.value) for k in c.keywords)]:
                passed.setdefault(p, set()).add(ast.unparse(v))
        defaults = [
            *zip(positional[len(positional) - len(a.defaults):], a.defaults),
            *((p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None),
        ]
        for p, d in defaults:
            if passed.get(p.arg, set()) <= {ast.unparse(d)}:
                one_value.append(f"{mod}.{name}({p.arg}={ast.unparse(d)})")
    assert not one_value, (
        f"{len(one_value)} options every caller leaves at one value "
        "(make each a constant): " + ", ".join(one_value)
    )


def test_profile_query_cli_reports_every_layer(sf_dir):
    """One cheap query through the profiling CLI: the construction line
    (seconds + py4j trips), the warm run's job count and a stage table
    whose rows carry tasks and bytes."""
    out = subprocess.run(
        [sys.executable, "tools/profile_query.py", "q1_pricing_summary",
         "--sf", sf_dir, "--partitions", "4"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    head = next(ln for ln in lines if ln.startswith("q1_pricing_summary @"))
    fields = head.split()
    construct_s = float(fields[fields.index("construct") + 1].rstrip("s"))
    trips = int(fields[fields.index("send_command") + 1])
    jobs = int(fields[fields.index("jobs") + 1])
    assert construct_s > 0 and trips > 0 and jobs > 0, head
    start = lines.index(head) + 2  # skip the column header
    total = next(i for i, ln in enumerate(lines) if ln.startswith("total executor run"))
    stage_rows = [ln.split() for ln in lines[start:total]]
    assert stage_rows, out.stdout
    for r in stage_rows:  # stage, tasks, six metrics, then the name
        assert len(r) > 8 and int(r[0]) >= 0 and int(r[1]) >= 0, r
        assert all(float(x) >= 0 for x in r[2:8]), r
    assert sum(int(r[1]) for r in stage_rows) > 0, out.stdout
    assert lines[total].endswith(f"stages {len(stage_rows)}"), lines[total]


def test_check_correctness_rejects_unknown_query(sf_dir):
    """A mistyped query name is an error, not an empty green run."""
    out = subprocess.run(
        [sys.executable, "tools/check_correctness.py", sf_dir,
         "q1_pricing_summary", "no_such_query"],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 2, out.stdout[-2000:]
    assert "no_such_query" in out.stderr
    assert "q1_pricing_summary" not in out.stderr


@pytest.mark.parametrize(
    "args, queries, named",
    [
        ([], "q1_pricing_summary,no_such_query", "no_such_query"),
        (["--iters", "0"], "q1_pricing_summary", "--iters"),
    ],
    ids=["unknown_query", "iters_0"],
)
def test_bench_rejects_unknown_query_before_spark(args, queries, named):
    """``SPARK_GRAFT_BENCH_QUERIES`` names and the flags are checked
    before the JVM starts: an unknown query or a bad ``--iters`` exits 2
    naming it, also under ``python -O``."""
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_BENCH_QUERIES": queries,
    }
    out = subprocess.run(
        [sys.executable, "-O", "bench.py", *args],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 2, out.stderr[-2000:]
    assert named in out.stderr
    assert "q1_pricing_summary" not in out.stderr


def test_bench_headline_summary_fold():
    """The stdout line's series fold, with every query at 1.0 s and every
    serve leg at 0.25 s.  By hand: legacy 20 queries = 20.0; v2 adds 4
    extras = 24.0; v3 adds 3 = 27.0 (its stored-index serve query counts
    in full); v4 adds one full query and two serve-only legs = 28.5.  An
    errored legacy member is named in every block; a failed serve split
    counts the full query time and is named in ``serve_leg_missing``."""
    import bench
    from platform_etl_openfda_faers_spark.plans import benchmarks as b

    series = (b.HEADLINE, b.HEADLINE_V2_EXTRA, b.HEADLINE_V3_EXTRA,
              b.HEADLINE_V4_EXTRA)
    assert [len(s) for s in series] == [20, 4, 3, 3]
    timings = {n: 1.0 for s in series for n in s}
    legs = {n: {"build_s": 3.0, "serve_only_s": 0.25} for n in b.BUILD_SERVE}
    assert set(b.HEADLINE_V4_EXTRA) & set(b.BUILD_SERVE) == {
        "multimodal_video_stored_serve", "dedup_compacted_serve"}

    def ones(names, drop=()):
        return {n: 1.0 for n in names if n not in drop}

    assert bench.headline_summary(timings, legs, None) == {
        "metric": "headline-queries wall time",
        "value": 20.0,
        "unit": "sec",
        "queries": ones(b.HEADLINE),
        "headline_v2": {"value": 24.0, "extra_queries": ones(series[1])},
        "headline_v3": {"value": 27.0, "extra_queries": ones(series[2])},
        "headline_v4": {
            "value": 28.5,
            "extra_queries": ones(series[3]),
            "contrib": {
                "corpus_curriculum_packing": 1.0,
                "multimodal_video_stored_serve": 0.25,
                "dedup_compacted_serve": 0.25,
            },
        },
    }

    del timings["faers_llr"]
    del legs["dedup_compacted_serve"]
    gone = ["faers_llr"]
    assert bench.headline_summary(timings, legs, None) == {
        "metric": "headline-queries wall time",
        "value": 19.0,
        "unit": "sec",
        "queries": ones(b.HEADLINE, gone),
        "missing_members": gone,
        "headline_v2": {"value": 23.0, "extra_queries": ones(series[1]),
                        "missing_members": gone},
        "headline_v3": {"value": 26.0, "extra_queries": ones(series[2]),
                        "missing_members": gone},
        "headline_v4": {
            "value": 28.25,
            "extra_queries": ones(series[3]),
            "contrib": {
                "corpus_curriculum_packing": 1.0,
                "multimodal_video_stored_serve": 0.25,
                "dedup_compacted_serve": 1.0,
            },
            "serve_leg_missing": ["dedup_compacted_serve"],
            "missing_members": gone,
        },
    }

    subset = ["dedup_stored_index_serve", "q1_pricing_summary"]
    assert bench.headline_summary(ones(subset), legs, subset) == {
        "metric": "headline-queries wall time",
        "value": 2.0,
        "unit": "sec",
        "queries": ones(subset),
        "subset": subset,
    }


def test_bench_smoke_run(sf_dir, tmp_path):
    """One ``bench.py`` run on a cheap query and a build/serve query:
    exit 0, a complete subset line last on stdout, and the build/serve
    split in the detail file, written under ``tmp_path`` so the committed
    ``BENCH_DETAIL.json`` is never overwritten."""
    names = ["q1_pricing_summary", "dedup_stored_index_serve"]
    detail = tmp_path / "detail.json"
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_BENCH_QUERIES": ",".join(names),
        "SPARK_GRAFT_BENCH_DETAIL": str(detail),
    }
    out = subprocess.run(
        [sys.executable, "bench.py", "--iters", "1"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = json.loads(out.stdout.splitlines()[-1])
    assert line["complete"] is True, line
    assert line["subset"] == names
    assert set(line["queries"]) == set(names)
    split = json.loads(detail.read_text())["queries_build_serve"]
    assert split["dedup_stored_index_serve"]["serve_only_s"] > 0


def _call_sites(names: set[str]) -> dict[str, list[tuple[str, str]]]:
    """name -> [(module file, innermost enclosing definition)] for every
    call of ``names`` in the engine package."""
    sites: dict[str, list[tuple[str, str]]] = {n: [] for n in names}
    for name, path, stack, use in _references(PKG_FILES):
        if isinstance(use, ast.Call) and name in names:
            sites[name].append((str(Path(path).relative_to(PKG)), stack[-1]))
    return sites


def test_stored_serve_core_is_the_only_occupancy_caller():
    """The sidecar staleness guard and the sidecar cap are applied in one
    place, the stored-index serve core every near-dup family calls — a
    family that copies the serve logic instead shows up here."""
    names = {"guard_occupancy_fresh", "kept_keys_with_stored_occupancy"}
    core = [("operators/dedup.py", "_serve_rows")]
    assert _call_sites(names) == {n: core for n in names}


def test_capture_plans_writes_physical_plan(spark, sf_dir, tmp_path, monkeypatch):
    """The plan-capture CLI, run in-process on the test session, writes
    the formatted physical plan into the directory it is given."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "capture_plans", REPO / "tools" / "capture_plans.py"
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    monkeypatch.setattr(
        sys, "argv",
        ["capture_plans.py", "smoke", "q1_pricing_summary",
         "--sf", sf_dir, "--out", str(tmp_path)],
    )
    tool.main()
    assert "Physical Plan" in (tmp_path / "q1_pricing_summary_smoke.txt").read_text()
