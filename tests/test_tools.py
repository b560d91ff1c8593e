"""The command-line tools and benchmark scripts stay runnable.

No test imports ``tools/``, ``faersbench/`` or ``bench.py``, so an engine
refactor could silently break one.  Every such script is parsed (not
executed) and each engine import it makes must resolve; the profiling
CLI also gets one end-to-end smoke run.
"""

import ast
import importlib
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
