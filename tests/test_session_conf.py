"""``session.scoped_conf``: the one way the engine scopes a session conf.

Scopes are reentrant across driver threads (refcounted per session and
key), conflicting values fail loudly, and the prior value -- or the
absence of one -- comes back when the last scope closes.  A static
guard keeps hand-rolled save/set/restore blocks from coming back.
"""

from __future__ import annotations

import ast
import sys
import threading
from contextlib import contextmanager
from pathlib import Path

import pytest

from data_integration_with_pseudoweights_and_survey_calibration_spark.session import (
    ConfScopeConflict,
    scoped_conf,
)

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "data_integration_with_pseudoweights_and_survey_calibration_spark"


@contextmanager
def _save_set_restore(spark, settings):
    """The non-reentrant per-site pattern ``scoped_conf`` replaced."""
    saved = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def _interleave(spark, scope):
    """Thread A opens a scope, thread B opens one for the same value,
    A closes while B is still inside.  Returns (value B reads after A
    closed, value after both closed)."""
    key = "spark.graft.test.interleave"
    spark.conf.set(key, "orig")
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen = {}

    def a():
        with scope(spark, {key: "scoped"}):
            a_in.set()
            assert b_in.wait(60)
        a_out.set()

    def b():
        assert a_in.wait(60)
        with scope(spark, {key: "scoped"}):
            b_in.set()
            assert a_out.wait(60)
            seen["inside"] = spark.conf.get(key)

    threads = [threading.Thread(target=a), threading.Thread(target=b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not any(t.is_alive() for t in threads)
    try:
        return seen.get("inside"), spark.conf.get(key)
    finally:
        spark.conf.unset(key)


def test_interleaved_thread_scopes_restore_original(spark):
    assert _interleave(spark, scoped_conf) == ("scoped", "orig")


def test_interleaving_breaks_save_set_restore(spark):
    """The same interleaving leaks through the replaced pattern: B's
    body sees the restored value and the session keeps the scoped
    one -- so the case above really tests reentrancy."""
    assert _interleave(spark, _save_set_restore) == ("orig", "scoped")


def test_many_threads_keep_the_scoped_value(spark):
    """More threads than cores open and close same-value scopes at a
    short switch interval: every body reads the scoped value, and the
    original comes back once all have closed."""
    key = "spark.graft.test.stress"
    spark.conf.set(key, "orig")
    bad = []

    def worker():
        for _ in range(20):
            with scoped_conf(spark, {key: "scoped"}):
                if spark.conf.get(key) != "scoped":
                    bad.append(1)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old_interval)
    try:
        assert not any(t.is_alive() for t in threads)
        assert not bad
        assert spark.conf.get(key) == "orig"
    finally:
        spark.conf.unset(key)


def test_conflicting_value_raises_and_changes_nothing(spark):
    key, other = "spark.graft.test.conflict", "spark.graft.test.untouched"
    spark.conf.set(key, "orig")
    try:
        with scoped_conf(spark, {key: "a"}):
            with scoped_conf(spark, {key: "a"}):  # same value joins
                assert spark.conf.get(key) == "a"
            assert spark.conf.get(key) == "a"  # still open
            with pytest.raises(ConfScopeConflict):
                with scoped_conf(spark, {other: "x", key: "b"}):
                    pass  # pragma: no cover
            assert spark.conf.get(key) == "a"
            assert spark.conf.get(other, None) is None
        assert spark.conf.get(key) == "orig"
    finally:
        spark.conf.unset(key)


def test_raising_body_restores(spark):
    key = "spark.graft.test.raises"
    spark.conf.set(key, "orig")
    try:
        with pytest.raises(RuntimeError):
            with scoped_conf(spark, {key: "scoped"}):
                raise RuntimeError("boom")
        assert spark.conf.get(key) == "orig"
        # the key is free again: another value may now open it
        with scoped_conf(spark, {key: "other"}):
            assert spark.conf.get(key) == "other"
        assert spark.conf.get(key) == "orig"
    finally:
        spark.conf.unset(key)


def test_unset_key_is_unset_again(spark):
    key = "spark.graft.test.unset"
    assert spark.conf.get(key, None) is None
    with scoped_conf(spark, {key: True}):
        assert spark.conf.get(key) == "True"
    assert spark.conf.get(key, None) is None


def _finally_conf_writes(path: Path) -> list[str]:
    hits = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if not isinstance(node, ast.Try):
            continue
        for stmt in node.finalbody:
            for call in ast.walk(stmt):
                f = getattr(call, "func", None)
                if (
                    isinstance(call, ast.Call)
                    and isinstance(f, ast.Attribute)
                    and f.attr in ("set", "unset")
                    and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "conf"
                ):
                    hits.append(f"{path.relative_to(ROOT)}:{call.lineno}")
    return hits


def test_no_hand_rolled_conf_restore_outside_session():
    """Conf restores live in ``session.scoped_conf`` only: no
    ``finally:`` block elsewhere writes ``.conf.set``/``.conf.unset``."""
    files = [p for p in PACKAGE.rglob("*.py") if p != PACKAGE / "session.py"]
    files.append(ROOT / "__spark_entry__.py")
    hits = [h for p in sorted(files) for h in _finally_conf_writes(p)]
    assert not hits, f"use session.scoped_conf instead: {hits}"
