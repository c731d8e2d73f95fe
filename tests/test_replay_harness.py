"""Spark-free checks on the streaming twins' replay harness in
plans/queries.py: the staging cache and the module's import hygiene."""

from __future__ import annotations

import ast
import os
import shutil
import tempfile

from kafka_streams_in_action_spark.plans import queries as Q


def _fake_source(tmp_path):
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    (sf_dir / "events.parquet").write_bytes(b"v1")
    return str(sf_dir)


def _counting_writer(calls):
    def write(d):
        calls.append(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write("slice")
    return write


def test_staged_restages_a_reaped_directory(tmp_path, monkeypatch):
    """A cache hit whose directory was removed (a same-prefix reap in a
    process older than the reap cutoff) must re-stage, not hand back a
    missing path."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf_dir = _fake_source(tmp_path)
    calls: list[str] = []
    write = _counting_writer(calls)

    first = Q._staged("stagetest_", sf_dir, ("events",), write)
    assert Q._staged("stagetest_", sf_dir, ("events",), write) == first
    assert len(calls) == 1, "a live hit must not re-stage"

    shutil.rmtree(first)
    second = Q._staged("stagetest_", sf_dir, ("events",), write)
    assert len(calls) == 2
    assert os.listdir(second) == ["part-0.parquet"]


def test_staged_restages_a_rewritten_source(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf_dir = _fake_source(tmp_path)
    calls: list[str] = []
    write = _counting_writer(calls)

    first = Q._staged("stagetest_", sf_dir, ("events",), write)
    with open(os.path.join(sf_dir, "events.parquet"), "wb") as f:
        f.write(b"version 2")  # different size, so a different key
    second = Q._staged("stagetest_", sf_dir, ("events",), write)
    assert second != first and len(calls) == 2


def test_queries_has_no_unused_function_local_imports():
    """No linter runs in CI, so this walks queries.py itself: every
    import inside a function must be referenced by that function."""
    with open(Q.__file__) as f:
        tree = ast.parse(f.read())
    unused = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        used = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
        for node in fn.body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    name = a.asname or a.name.split(".")[0]
                    if name not in used:
                        unused.append(f"{fn.name}:{node.lineno} {name}")
    assert not unused, unused
