"""JVM handles: the package resolves every JVM class, static method and
static field through ``session.jvm_handle``, once per py4j gateway. A
``jvm.org.apache...`` walk at the call site costs one reflection round
trip per dotted segment on every call."""

import glob
import os
import re

from duckdb_robust_predicate_transfer_spark.session import jvm_handle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "duckdb_robust_predicate_transfer_spark")

#: a package walk from a JVM view, written out or folded with getattr
WALK = re.compile(r"jvm\.(?:org|scala|java|javax|com)\.|getattr,.*jvm\)")


def test_no_jvm_package_walk_outside_the_handle_helper():
    hits = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"),
                                 recursive=True)):
        with open(path) as fh:
            for no, line in enumerate(fh, 1):
                if WALK.search(line):
                    rel = os.path.relpath(path, REPO)
                    hits.append(f"{rel}:{no}: {line.strip()}")
    assert hits == []


def test_a_handle_resolves_once_per_gateway(spark, monkeypatch):
    client = spark._jvm._gateway_client
    sent = []
    send = client.send_command
    monkeypatch.setattr(client, "send_command",
                        lambda *a, **k: sent.append(a) or send(*a, **k))
    first = jvm_handle(spark._jvm, "java.lang.Math.floorMod")
    walked = len(sent)
    assert walked >= 4  # java, lang, Math, floorMod
    assert jvm_handle(spark._jvm, "java.lang.Math.floorMod") is first
    assert len(sent) == walked
    assert first(-7, 3) == 2


class _Client:
    pass


class _Node:
    """A stand-in JVM view that counts the lookups it answers."""

    def __init__(self, client, log, name=""):
        self._gateway_client, self._log, self._name = client, log, name

    def __getattr__(self, part):
        self._log.append(part)
        return _Node(self._gateway_client, self._log, f"{self._name}.{part}")


def test_handles_are_keyed_by_gateway():
    log = []
    a, b = _Node(_Client(), log), _Node(_Client(), log)
    assert jvm_handle(a, "x.Y")._name == ".x.Y"
    jvm_handle(a, "x.Y")
    assert log == ["x", "Y"]
    jvm_handle(b, "x.Y")  # another gateway resolves its own
    assert log == ["x", "Y", "x", "Y"]
