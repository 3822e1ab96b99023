"""The shared segment-stack lifecycle (index/stack.py) under both stack
kinds: a publish that dies between its history write and its pointer
swap leaves readers on the old generation, and the next writer
recovers."""

from __future__ import annotations

import os

import pytest

from prosearch_spark.index import stack as stack_mod


def _lexical(spark, root):
    from prosearch_spark.index.segments import SegmentedIndex

    si = SegmentedIndex(spark, root)

    def commit(i, name=None):
        si.commit(spark.createDataFrame(
            [(i * 10 + j, f"alpha doc{j} wave{i}", "en") for j in range(10)],
            "doc_id long, text string, lang string"), name=name,
            n_buckets=4)

    def read(view):
        return (sorted(r["doc_id"] for r in view.doc_stats().collect()),
                tuple(view.stats().collect()[0]))

    return si, commit, lambda: read(si.as_artifact()), \
        lambda g: read(si.as_of(g))


def _vector(spark, root):
    from prosearch_spark.index.vectors import VectorSegments

    segs = VectorSegments(spark, root)

    def commit(i, name=None):
        segs.commit(spark.createDataFrame(
            [(i * 10 + j, [float(i), float(j)]) for j in range(10)],
            "vec_id long, embedding array<float>"), name=name)

    def read(view):
        return sorted((r["vec_id"], tuple(r["embedding"]))
                      for r in view.live().collect())

    return segs, commit, lambda: read(segs), lambda g: read(segs.as_of(g))


@pytest.mark.parametrize("kind", [_lexical, _vector],
                         ids=["lexical", "vector"])
def test_publish_dies_before_pointer_swap(spark, tmp_path, monkeypatch,
                                          kind):
    stack, commit, current, as_of = kind(spark, str(tmp_path / "root"))
    commit(0)
    g = stack._pointer()["gen"]
    seen, snap = current(), as_of(g)

    pointer = os.path.join(stack.root, stack.POINTER)
    real_replace = os.replace

    def dying_replace(src, dst):
        if os.path.abspath(dst) == os.path.abspath(pointer):
            raise OSError("injected: died before the pointer swap")
        return real_replace(src, dst)

    def dies(publish):
        with monkeypatch.context() as m:
            m.setattr(stack_mod.os, "replace", dying_replace)
            with pytest.raises(OSError, match="injected"):
                publish()

    dies(lambda: commit(1))
    # the history file of the never-published gen was written ...
    stale = stack._read_snapshot(g + 1)
    assert stale["gen"] == g + 1
    # ... but readers and the snapshot of gen g are untouched, and the
    # dead gen is no readable snapshot
    assert stack._pointer()["gen"] == g
    assert current() == seen
    assert as_of(g) == snap
    assert stack.history()[-1] == g
    with pytest.raises(ValueError, match="no snapshot recorded"):
        as_of(g + 1)

    # the next commit publishes g+1 over the stale history file
    commit(2)
    p = stack._pointer()
    assert p["gen"] == g + 1
    assert stack._read_snapshot(g + 1) == p
    assert stale["segments"] != p["segments"]
    assert as_of(g + 1) == current() != seen
    assert as_of(g) == snap

    # a streamed batch whose publish died is adopted on replay — the
    # stale history file naming it is no proof it was published
    name = "seg-b000000003"
    dies(lambda: stack.seal_once(name, lambda: commit(3, name)))
    assert stack._read_snapshot(g + 2)["segments"][-1]["name"] == name
    assert stack.seal_once(name, lambda: pytest.fail("upsert re-ran"))
    assert stack._pointer()["gen"] == g + 2
    assert stack.segment_names()[-1] == name
