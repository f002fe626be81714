"""The session-scoped state registry (bensp_suite_spark/state.py): one home
for cross-call state, and the lifetime rule it applies to every entry.

The lifetime tests run in subprocesses with a temp cwd and TMPDIR, because
the suite shares one session and one warehouse directory."""

from __future__ import annotations

import ast
import glob
import json
import os
import pathlib
import re
import subprocess
import sys
import threading
from types import SimpleNamespace

import pytest

import bensp_suite_spark

from .conftest import REPO, SF_SMOKE

#: Session A runs one build-once ANN query, the kept-dir scan three times,
#: a docs_from_documents consumer that pins through pooled_persist and the
#: bucketed join, then stops; session B runs one query.
_LIFETIME = r"""
import glob, json, os, sys, tempfile
from bensp_suite_spark import queries as Q
from bensp_suite_spark.session import get_spark

sf_dir, mode = sys.argv[1], sys.argv[2]


def run(spark, name):
    Q.QUERIES[name](spark, sf_dir).collect()


def kept():
    return sorted(
        os.path.basename(p.rstrip("/"))
        for p in glob.glob(os.path.join(tempfile.gettempdir(), "bensp_*/"))
    )


def registry_apps():
    try:
        from bensp_suite_spark import state
    except ImportError:
        return None
    return sorted({k[0] for k in state._entries})


spark = get_spark("bensp-lifetime-a", shuffle_partitions=2)
if mode == "bucketed":
    run(spark, "layout_bucketed_join")
    sys.exit(0)
for name in (
    "ann_ivf_prebuilt_topk",
    *["cdc_ddp_datasource_scan"] * 3,
    "cdc_round_trip_check",
    "layout_bucketed_join",
):
    run(spark, name)
report = {
    "app_a": spark.sparkContext.applicationId,
    "apps_a": registry_apps(),
    "dirs_a": kept(),
}
spark.stop()
spark = get_spark("bensp-lifetime-b", shuffle_partitions=2)
run(spark, "q1_pricing_summary")
report["apps_b"] = registry_apps()
report["dirs_b"] = kept()
print("REPORT " + json.dumps(report))
"""


@pytest.fixture(scope="module")
def lifetime(tmp_path_factory):
    """Two processes at once in one cwd, each with its own TMPDIR: the
    two-session script above, and one that only runs
    ``layout_bucketed_join``."""
    cwd = tmp_path_factory.mktemp("lifetime")
    script = cwd / "lifetime.py"
    script.write_text(_LIFETIME)
    procs = []
    for mode in ("sessions", "bucketed"):
        (cwd / mode).mkdir()
        env = dict(
            os.environ, PYTHONPATH=REPO, TMPDIR=str(cwd / mode),
            SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
        )
        procs.append(subprocess.Popen(
            [sys.executable, str(script), SF_SMOKE, mode],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env, cwd=cwd,
        ))
    outs = [p.communicate() for p in procs]
    for p, (_, err) in zip(procs, outs):
        assert p.returncode == 0, err[-3000:]
    return json.loads(outs[0][0].split("REPORT ", 1)[1]), cwd


def test_a_stopped_session_leaves_no_entry_and_no_kept_dir(lifetime):
    report, _ = lifetime
    assert any(d.startswith("bensp_ann_idx_") for d in report["dirs_a"]), report
    assert report["dirs_b"] == [], report
    assert report["apps_a"] == [report["app_a"]]
    assert report["apps_b"] is not None and report["app_a"] not in report["apps_b"]


def test_repeated_calls_keep_one_generation_of_a_kept_dir(lifetime):
    report, _ = lifetime
    ddp = [d for d in report["dirs_a"] if d.startswith("bensp_ddp_q_")]
    assert len(ddp) == 1, report["dirs_a"]


def test_bucketed_tables_do_not_outlive_their_process(lifetime):
    _, cwd = lifetime
    assert os.path.isdir(cwd / "spark-warehouse")
    assert glob.glob(str(cwd / "spark-warehouse" / "bensp_q_*")) == []


def _module_bindings(body):
    """Names bound at module level, including inside module-level
    if/try/with blocks."""
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            yield from ((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                yield from (n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        else:
            for field in ("body", "orelse", "finalbody", "handlers"):
                yield from _module_bindings(getattr(node, field, []))


def test_state_registry_is_the_one_home_for_cross_call_state():
    """Cross-call state lives in state.py: no other package module names
    an applicationId or registers an atexit hook, and none binds a
    module-level cache, pool or kept-dir store of its own."""
    pkg = pathlib.Path(bensp_suite_spark.__file__).parent
    store = re.compile(r"_\w*(CACHE|POOL)\w*|_KEPT_\w*")
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "state.py":
            continue
        text = path.read_text()
        for word in ("applicationId", "atexit"):
            assert word not in text, (rel, word)
        bound = [n for n in _module_bindings(ast.parse(text).body) if store.fullmatch(n)]
        assert bound == [], (rel, bound)


def test_threads_keep_one_generation_per_key(monkeypatch):
    """Eight threads get, rebuild and replace four keys at once (no Spark:
    a stand-in session). Every value built is either the key's one live
    entry or dropped exactly once."""
    from bensp_suite_spark import state

    monkeypatch.setattr(state, "_entries", {})
    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    built, dropped = [], []
    lock = threading.Lock()

    def build():
        with lock:
            built.append(object())
            return built[-1]

    def drop(value):
        with lock:
            dropped.append(value)

    def worker(i):
        for n in range(300):
            fresh = None if (i + n) % 3 else (lambda _v: False)
            state.get(spark, "stress", n % 4, build, fresh, drop)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    live = [value for value, _ in state._entries.values()]
    assert sorted(key for _app, _kind, key in state._entries) == [0, 1, 2, 3]
    assert len(set(map(id, dropped))) == len(dropped)
    assert {id(v) for v in built} == {id(v) for v in dropped} | {id(v) for v in live}
    assert not {id(v) for v in dropped} & {id(v) for v in live}
