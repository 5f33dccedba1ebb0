"""Structural rule for ``experts_etl_spark/streaming/``: ``stores.py``
owns the streaming I/O path.  No other module builds a Hadoop ``Path``,
calls ``getFileSystem``, probes with ``os.path.exists``/``os.listdir``
(always False/absent on ``hdfs://``, ``s3a://`` and ``file://``
targets), or starts its own ``foreachBatch`` query; in ``stores.py``
itself ``foreachBatch`` appears only inside :func:`drain`.  No other
module starts a thread either (``threading.Thread``,
``ThreadPoolExecutor``, ``InheritableThread``): concurrent legs go
through ``stores._concurrently``, which hands every thread the
micro-batch's Spark job properties.  ``stores.drain`` has three
callers: the curation tick, the IVFADC probe runner and the CDC
consume; a curation stage runs inside the tick, not beside it in a
runner of its own."""

from __future__ import annotations

import ast
import glob
import os

import experts_etl_spark.streaming as streaming_pkg

PKG_DIR = os.path.dirname(streaming_pkg.__file__)
FORBIDDEN_CALLS = {"os.path.exists", "os.listdir", "org.apache.hadoop.fs.Path"}
FORBIDDEN_ATTRS = {"getFileSystem", "foreachBatch"}
THREAD_NAMES = {"Thread", "ThreadPoolExecutor", "InheritableThread"}
DRAIN_CALLERS = {
    "run_streaming_tick", "run_streaming_ivfpq_search",
    "run_incremental_consume",
}


def _violations(path: str) -> list[str]:
    tree = ast.parse(open(path).read(), path)
    is_stores = os.path.basename(path) == "stores.py"
    allowed: set[int] = set()  # node ids inside stores.drain
    if is_stores:
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "drain":
                allowed |= {id(n) for n in ast.walk(fn)}
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        name = ast.unparse(node)
        if is_stores:
            if node.attr == "foreachBatch" and id(node) not in allowed:
                out.append(f"{path}:{node.lineno} {name}")
            continue
        if node.attr in FORBIDDEN_ATTRS or any(
            name.endswith(c) for c in FORBIDDEN_CALLS
        ):
            out.append(f"{path}:{node.lineno} {name}")
    return out


def test_streaming_io_goes_through_stores():
    modules = sorted(glob.glob(os.path.join(PKG_DIR, "*.py")))
    assert os.path.join(PKG_DIR, "stores.py") in modules
    bad = [v for m in modules for v in _violations(m)]
    assert not bad, "streaming I/O outside stores.py:\n" + "\n".join(bad)


def _thread_uses(path: str) -> list[str]:
    """Every mention of a thread class: a name, an attribute or an
    imported name."""
    out = []
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
        else:
            continue
        if name in THREAD_NAMES:
            out.append(f"{path}:{getattr(node, 'lineno', '?')} {name}")
    return out


def test_streaming_threads_start_only_in_stores():
    modules = sorted(glob.glob(os.path.join(PKG_DIR, "*.py")))
    stores_py = os.path.join(PKG_DIR, "stores.py")
    assert _thread_uses(stores_py), "stores.py no longer starts the legs"
    bad = [v for m in modules if m != stores_py for v in _thread_uses(m)]
    assert not bad, "threads started outside stores.py:\n" + "\n".join(bad)


def _drain_callers(path: str) -> list[tuple[str, int]]:
    """(top-level function, line) of every call to ``drain``."""
    tree = ast.parse(open(path).read(), path)
    out = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                if name == "drain":
                    out.append((owner, node.lineno))
    return out


def test_drain_has_only_the_three_runners():
    modules = sorted(glob.glob(os.path.join(PKG_DIR, "*.py")))
    calls = {
        f"{m}:{line} {owner}": owner
        for m in modules
        for owner, line in _drain_callers(m)
    }
    bad = [k for k, owner in calls.items() if owner not in DRAIN_CALLERS]
    assert not bad, "stores.drain called outside the runners:\n" + "\n".join(
        bad
    )
    assert set(calls.values()) == DRAIN_CALLERS
