"""pq_spark.held — the one owner of materialized frames. A static guard
that nothing else in the package persists, checkpoints or releases a
frame, and the scope rules checked on stand-in frames (no Spark)."""

import re
from pathlib import Path

import pytest

from pq_spark import held

PKG = Path(__file__).resolve().parents[1] / "pq_spark"
_MATERIALIZE = re.compile(
    r"(?<!held)\.(persist|unpersist|localCheckpoint|checkpoint)\(|\.cache\(\)"
)


def test_only_the_owner_materializes():
    hits = [
        f"{path.relative_to(PKG.parent)}:{i}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "held.py" or path.parent != PKG
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if _MATERIALIZE.search(line)
    ]
    assert not hits, "materialize through pq_spark.held:\n" + "\n".join(hits)


class _Frame:
    """Stands in for a DataFrame and logs what is done to it."""

    def __init__(self, log):
        self.log = log

    def persist(self):
        self.log.append(("persist", self))
        return self

    def unpersist(self):
        self.log.append(("unpersist", self))
        return self

    def localCheckpoint(self, eager):
        self.log.append(("checkpoint", self))
        return _Frame(self.log)


class _Result:
    pass


def _unpersisted(log):
    return [f for op, f in log if op == "unpersist"]


def test_scope_releases_on_raise():
    log = []
    with pytest.raises(ValueError):
        with held.scope():
            f = held.persist(_Frame(log))
            raise ValueError
    assert _unpersisted(log) == [f]


def test_checkpoint_needs_no_scope_and_is_never_freed():
    log = []
    c = held.checkpoint(_Frame(log), eager=True)
    with held.scope():
        held.release(c)  # not held: nothing to release
    assert [op for op, _ in log] == ["checkpoint"]


def test_release_one_frame_early():
    log = []
    with held.scope() as s:
        a, b = held.persist(_Frame(log)), held.persist(_Frame(log))
        held.release(a)
        assert _unpersisted(log) == [a] and s.frames == [b]
    assert _unpersisted(log) == [a, b]


def test_materialize_outside_a_scope_raises():
    with pytest.raises(RuntimeError, match=r"held\.scope"):
        held.persist(_Frame([]))


def test_owned_result_carries_the_release():
    log = []

    @held.owned
    def build():
        f = held.persist(_Frame(log))
        return _Result(), f

    @held.owned
    def outer():
        inner, f = build()  # joins outer's scope: nothing released here
        assert _unpersisted(log) == []
        out = _Result()
        out.f = f
        return out

    r = outer()
    assert _unpersisted(log) == []
    f = r.f
    del r
    assert _unpersisted(log) == [f]


def test_owned_raise_releases_at_once():
    log = []

    @held.owned
    def build():
        held.persist(_Frame(log))
        raise KeyError

    with pytest.raises(KeyError):
        build()
    assert len(_unpersisted(log)) == 1
