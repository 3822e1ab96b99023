"""The segment-stack lifecycle shared by the lexical and vector stacks.

A stack is a set of immutable segment dirs published by ONE atomic
pointer swap (Tantivy index.rs:191 commit -> new segment, merge.rs:18-31
merge -> pointer swap; the Delta Lake / Iceberg commit-log model):

    <root>/<POINTER>                 {"segments": [...], "gen": g, ...}
    <root>/history/<STEM>-<g>.json   the snapshot every publish records
    <root>/segments/<name>/          one immutable segment each
    <root>/WRITER.lock               one writer per stack (locks.py)

``SegmentStack`` owns every format-free step of that protocol — pointer
read/publish, writer lock, auto-naming, snapshot history, the gc sweep
and the streaming seal-once rule. Subclasses set the pointer file name
and the marker file a fully written segment dir carries, and keep only
their format-specific parts (segment write, tombstones, views, merge).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from prosearch_spark.index.locks import exclusive_writer_lock


def seg_tag(sub: str = ""):
    """The ``seg`` column of a multi-path scan over segment trees: the
    segment name recovered from each row's file path, so one scan tags
    every segment's rows without a stored column."""
    return F.regexp_extract(F.col("_metadata.file_path"),
                            rf"segments/([^/]+)/{sub}", 1).alias("seg")


class SegmentStack:
    """Pointer / naming / history / gc / seal-once core of a stack."""

    POINTER = ""     # pointer file name; its stem names history files
    COMPLETE = ""    # marker file a fully written segment dir carries

    def __init__(self, root: str):
        self.root = root
        self._lock_held = [False]  # reentrancy cell (see locks.py)
        os.makedirs(os.path.join(root, "segments"), exist_ok=True)
        if not os.path.exists(os.path.join(root, self.POINTER)):
            self._publish([], gen=0)

    # -- pointer ---------------------------------------------------------------

    def _pointer(self) -> dict:
        with open(os.path.join(self.root, self.POINTER)) as f:
            return json.load(f)

    def _history_file(self, gen: int) -> str:
        return os.path.join(self.root, "history",
                            f"{self.POINTER[:-len('.json')]}-{gen:06d}.json")

    def _publish(self, segs: list[dict], gen: int, **extra) -> None:
        """Swap the pointer to ``segs`` at ``gen``. The snapshot history
        file is written FIRST and the pointer ``os.replace``d last: a
        crash between the two leaves the current pointer authoritative
        and at worst a history file for a gen that never published
        (harmless — as_of reads are explicit by gen, and the next
        publish of that gen overwrites it). Any other pointer key (the
        vector stack's ``deletes``) carries forward unless ``extra``
        sets it."""
        cur = (self._pointer() if os.path.exists(
            os.path.join(self.root, self.POINTER)) else {})
        payload = {**cur, "segments": segs, "gen": gen, **extra}
        tmp = os.path.join(self.root, self.POINTER + ".tmp")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.makedirs(os.path.join(self.root, "history"), exist_ok=True)
        with open(self._history_file(gen), "w") as f:
            json.dump(payload, f)
        os.replace(tmp, os.path.join(self.root, self.POINTER))

    # -- writer lock (Tantivy INDEX_WRITER_LOCK analog) ------------------------

    def writer_lock(self):
        """Exclusive-writer guard (see locks.exclusive_writer_lock:
        flock, kernel-released on holder death, reentrant per
        instance). Every mutating call acquires it implicitly; hold it
        explicitly around multi-step admin sequences."""
        return exclusive_writer_lock(self.root, self._lock_held)

    # -- membership and naming -------------------------------------------------

    def segment_names(self) -> list[str]:
        return [e["name"] for e in self._pointer()["segments"]]

    def has_segment(self, name: str) -> bool:
        return name in self.segment_names()

    def _seg_path(self, name: str) -> str:
        return os.path.join(self.root, "segments", name)

    def _complete(self, name: str) -> bool:
        """The segment dir is fully written (its marker file exists)."""
        return os.path.exists(os.path.join(self._seg_path(name),
                                           self.COMPLETE))

    def _next_name(self) -> str:
        """The next auto-generated segment name: ``seg-<gen+1>``,
        skipping names whose dir already exists. A crash between a
        segment write and its publish leaves an orphan dir at gen+1
        while gen is unchanged; without the skip every later
        default-named commit or merge would collide with it. The orphan
        stays adopt()/gc() fodder either way."""
        n = self._pointer()["gen"]
        while True:
            n += 1
            name = f"seg-{n:06d}"
            if not os.path.exists(self._seg_path(name)):
                return name

    # -- snapshots (Iceberg time travel over the pointer history) --------------

    def history(self) -> list[int]:
        """Generations with a recorded snapshot, ascending. A history
        file past the pointer's gen is a publish that died before its
        pointer swap: never published, so not listed (the next publish
        of that gen overwrites it)."""
        hdir = os.path.join(self.root, "history")
        if not os.path.isdir(hdir):
            return []
        stem = self.POINTER[:-len(".json")] + "-"
        top = self._pointer()["gen"]
        return sorted(
            g for g in (int(f[len(stem):-len(".json")])
                        for f in os.listdir(hdir)
                        if f.startswith(stem) and f.endswith(".json"))
            if g <= top)

    def _read_snapshot(self, gen: int) -> dict:
        with open(self._history_file(gen)) as f:
            return json.load(f)

    def _readable(self, p: dict) -> dict:
        """``p`` if every segment it names is still fully on disk."""
        for e in p["segments"]:
            if not self._complete(e["name"]):
                raise ValueError(
                    f"segment {e['name']} of gen {p['gen']} no longer "
                    "exists — gc() expired this snapshot (retain more "
                    "history or re-read the current pointer)")
        return p

    def _snapshot(self, gen: int) -> dict:
        """The pointer payload recorded for ``gen``, checked readable —
        the read behind ``as_of``."""
        if gen not in self.history():
            raise ValueError(
                f"no snapshot recorded for gen {gen}; "
                f"available: {self.history()}")
        return self._readable(self._read_snapshot(gen))

    # -- gc --------------------------------------------------------------------

    def gc(self, retain_history: int = 0) -> list[str]:
        """Remove segment dirs no longer referenced by the current
        pointer (merged-away inputs, orphaned crash leftovers). A
        deployment age-gates this behind its slowest reader's pointer;
        here it is an explicit sweep, never run by commit/merge.

        ``retain_history=N`` additionally keeps every segment
        referenced by the last N recorded snapshots (Iceberg snapshot
        expiry): those generations stay ``as_of``-readable; older
        history files are pruned so the history listing matches what
        is actually readable."""
        with self.writer_lock():
            p = self._pointer()
            alive = {e["name"] for e in p["segments"]}
            gens = self.history()
            keep_gens = gens[-retain_history:] if retain_history > 0 else []
            for g in keep_gens:
                alive |= {e["name"]
                          for e in self._read_snapshot(g)["segments"]}
            for g in gens:
                if g not in keep_gens and g != p["gen"]:
                    os.unlink(self._history_file(g))
            segdir = os.path.join(self.root, "segments")
            removed = sorted(set(os.listdir(segdir)) - alive)
            for d in removed:
                shutil.rmtree(os.path.join(segdir, d))
            self._swept(p, alive, removed)
            return removed

    def _swept(self, p: dict, alive: set[str], removed: list[str]) -> None:
        """Per-format cleanup after a gc sweep (none by default)."""

    # -- streaming: seal a named segment exactly once --------------------------

    def seal_once(self, name: str, upsert, **adopt_kwargs) -> bool:
        """Idempotent publish of segment ``name`` under at-least-once
        delivery (segment name = batch id; Delta Lake's idempotent
        stream write by batch version). Returns True when this call
        published it.

        - in the current pointer: done;
        - dir on disk and named by a recorded snapshot: done — the
          segment was published, then merged away (not yet gc'd);
          re-adopting it would count its docs twice;
        - dir fully written but never published (crash before the
          pointer swap): ``adopt(name, **adopt_kwargs)``;
        - otherwise ``upsert()`` — after removing an incomplete,
          never-published dir (crash mid-write), which no pointer or
          snapshot names, so no reader can see it.

        The history scan runs only when the dir exists outside the
        pointer, so the normal path reads no snapshot."""
        with self.writer_lock():
            if self.has_segment(name):
                return False
            path = self._seg_path(name)
            if os.path.exists(path):
                if any(name in {e["name"] for e in
                                self._read_snapshot(g)["segments"]}
                       for g in self.history()):
                    return False
                if self._complete(name):
                    self.adopt(name, **adopt_kwargs)
                    return True
                shutil.rmtree(path)
            upsert()
            return True
