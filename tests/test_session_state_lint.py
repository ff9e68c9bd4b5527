"""One session-state registry (``sources/tables.py``): the engine keeps
per-application state — cached frames, drained replay tables, fitted
models, written fixtures — only through ``session_memo`` and its
scratch only under ``session_scratch``. A module-level memo dict keyed
on ``applicationId`` never evicts and keeps whatever a failed build
left behind; a ``tempfile.gettempdir()`` scratch root is never
removed. This lint keeps both from coming back, and the stub tests
pin the registry's contract without starting Spark."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
from types import SimpleNamespace

import pytest

from end2end_data_pipeline_spark.sources import tables

SRC = pathlib.Path(__file__).resolve().parent.parent / "end2end_data_pipeline_spark"
REGISTRY_HOME = SRC / "sources" / "tables.py"
QUERY_REGISTRY = SRC / "registry.py"  # QUERIES / ORACLE are the query registry


def _modules():
    return sorted(p for p in SRC.rglob("*.py") if p != REGISTRY_HOME)


def _is_empty_container(node: ast.expr) -> bool:
    """``{}``, ``dict()``, ``set()`` or an id counter
    (``itertools.count()``) — the shapes of a module-level memo."""
    if isinstance(node, ast.Dict) and not node.keys:
        return True
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        f = node.func
        if isinstance(f, ast.Name) and f.id in ("dict", "set"):
            return True
        if isinstance(f, ast.Attribute) and f.attr == "count":
            return True
    return False


def test_no_module_level_memo_outside_the_registry():
    found = []
    for path in _modules():
        if path == QUERY_REGISTRY:
            continue
        tree = ast.parse(path.read_text())
        for stmt in tree.body:
            if isinstance(stmt, ast.Assign):
                value = stmt.value
            elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
                value = stmt.value
            else:
                continue
            if _is_empty_container(value):
                found.append(f"{path.relative_to(SRC)}:{stmt.lineno}")
    assert not found, f"module-level memo state outside sources/tables.py: {found}"


def test_no_application_id_or_shared_tempdir_outside_the_registry():
    found = []
    for path in _modules():
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else None
            )
            if name in ("applicationId", "gettempdir"):
                found.append(f"{path.relative_to(SRC)}:{node.lineno} {name}")
    assert not found, found


def test_each_frame_memo_tag_name_is_spelled_at_one_site():
    """A shared frame has one accessor: a name literal passed to
    ``frame_memo_tag`` at two call sites is one typo away from
    building and pinning a second copy of the frame."""
    sites: dict[str, list[str]] = {}
    for path in sorted(SRC.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            fname = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if fname != "frame_memo_tag":
                continue
            args = node.args[1:2] + [k.value for k in node.keywords if k.arg == "name"]
            for arg in args:
                if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                    sites.setdefault(arg.value, []).append(
                        f"{path.relative_to(SRC)}:{node.lineno}"
                    )
    assert sites, "no frame_memo_tag call found"
    repeated = {name: where for name, where in sites.items() if len(where) > 1}
    assert not repeated, repeated


def _app(app_id: str):
    """Just enough of a SparkSession for the registry: an applicationId."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def fresh_registry(monkeypatch):
    """An empty registry for the test; the live session's state is
    put back afterwards."""
    monkeypatch.setattr(tables, "_SESSION", tables._AppState(""))


def test_build_that_raises_stores_nothing(fresh_registry):
    spark = _app("app-1")
    calls = []

    def failing():
        calls.append("fail")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        tables.session_memo(spark, "k", failing)
    assert "k" not in tables._app_state(spark).entries
    assert tables.session_memo(spark, "k", lambda: calls.append("ok") or 7) == 7
    assert calls == ["fail", "ok"]


def test_hit_does_not_call_build(fresh_registry):
    spark = _app("app-1")
    assert tables.session_memo(spark, "k", lambda: 1) == 1

    def must_not_run():
        raise AssertionError("build called on a hit")

    assert tables.session_memo(spark, "k", must_not_run) == 1
    # session_cached and session_checkpointed share the registry but
    # not a namespace: the same tag is two entries
    assert tables.session_memo(spark, ("cached", "k"), lambda: 2) == 2
    assert tables.session_memo(spark, "k", must_not_run) == 1


def test_hit_that_fails_valid_is_rebuilt(fresh_registry):
    spark = _app("app-1")
    tables.session_memo(spark, "k", lambda: "gone")
    assert tables.session_memo(spark, "k", lambda: "new", valid=lambda v: v != "gone") == "new"
    assert tables.session_memo(spark, "k", lambda: "other", valid=lambda v: v != "gone") == "new"


def test_new_application_drops_old_entries(fresh_registry):
    one, two = _app("app-1"), _app("app-2")
    tables.session_memo(one, "k", lambda: "from app-1")
    scratch_one = tables.session_scratch(one, "x")
    assert tables.session_memo(two, "k", lambda: "from app-2") == "from app-2"
    assert list(tables._app_state(two).entries) == ["k"]
    # each application gets its own scratch root
    assert os.path.dirname(tables.session_scratch(two, "x")) != os.path.dirname(
        scratch_one
    )


def test_session_scratch_root_is_removed_at_exit(tmp_path):
    """A process that writes under ``session_scratch`` leaves nothing
    behind once it exits."""
    script = (
        "import os, sys\n"
        "from types import SimpleNamespace\n"
        "from end2end_data_pipeline_spark.sources import tables\n"
        "spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId='a'))\n"
        "d = tables.session_scratch(spark, 'ckpt')\n"
        "os.makedirs(os.path.join(d, 'offsets'))\n"
        "print(os.path.dirname(d))\n"
    )
    env = dict(os.environ, PYTHONPATH=str(SRC.parent))
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        env=env, check=True, cwd=tmp_path,
    )
    root = out.stdout.strip()
    assert root and not os.path.exists(root)
