"""In-memory spans for the traced run.

A span is ``{run, id, parent, name, start, end, groups, counts}``; times
are epoch seconds. A span opened with ``group=True`` runs its Spark work
under a job group of its own, and when it closes the tracer attaches
that group's Spark counts (see ``sparkstats``). Group spans nest: a
job belongs to the innermost one, and the enclosing group is restored
when an inner span closes. Spans are written out once, when the run
ends. With no ``SparkStats`` the tracer records nothing and sets no job
group, which is how the timed runs use it.

``calls`` opens a span around every call of named module functions,
so the program's own code runs unchanged and still reports its layers.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self, run_id: str, stats=None):
        self.run_id = run_id
        self.stats = stats
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[tuple[str, str]] = []

    @property
    def enabled(self) -> bool:
        return self.stats is not None

    def _new(self, name: str, parent, start: float, end=None) -> dict:
        rec = {
            "run": self.run_id, "id": len(self.spans), "parent": parent,
            "name": name, "start": start, "end": end, "groups": [], "counts": None,
        }
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, group: bool = False):
        if not self.enabled:
            yield {"groups": []}
            return
        parent = self._stack[-1] if self._stack else None
        rec = self._new(name, parent, time.time())
        self._stack.append(rec["id"])
        sc = self.stats.sc
        if group:
            rec["groups"].append(f"bench-{self.run_id}-{rec['id']}")
            self._groups.append((rec["groups"][0], name))
            sc.setJobGroup(rec["groups"][0], name)
        mark = self.stats.execution_mark()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group:
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(*self._groups[-1])
                else:
                    sc._jsc.clearJobGroup()
            if rec["groups"]:
                rec["counts"] = self.stats.counts(rec["groups"], mark)

    @contextmanager
    def calls(self, targets):
        """While open, each ``"package.module.function"`` of ``targets``
        runs inside a group span named after it, ``datas_spark.`` left
        off. The module attribute is swapped for a wrapper, so callers
        that look the function up on its module (``C.kmeans_lloyd(...)``,
        or an import inside the calling function) are traced; a call
        made while the same span is open is not traced again."""
        if not self.enabled:
            yield
            return
        saved = []
        try:
            for target in targets:
                mod_name, attr = target.rsplit(".", 1)
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(fn, target.removeprefix("datas_spark.")))
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if any(self.spans[i]["name"] == name for i in self._stack):
                return fn(*args, **kwargs)
            with self.span(name, group=True):
                return fn(*args, **kwargs)

        return traced

    def add_child(self, parent: dict, name: str, progress: dict) -> None:
        """A finished micro-batch, from ``StreamingQuery.recentProgress``."""
        start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
        dur = progress["durationMs"]
        rec = self._new(
            name, parent["id"], start.timestamp(),
            start.timestamp() + dur["triggerExecution"] / 1e3,
        )
        rec["counts"] = {
            "batch_id": progress["batchId"],
            "rows": progress["numInputRows"],
            "add_batch_s": dur.get("addBatch", 0) / 1e3,
            "wal_commit_s": dur.get("walCommit", 0) / 1e3,
        }

    def descendants(self, root: int) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], list(kids.get(root, ()))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], ()))
        return out

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            lo, hi = max(lo, span["start"]), min(hi, span["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return span["end"] - span["start"] - covered

    def write(self, path: str) -> None:
        for s in self.spans:
            s["self_s"] = self.self_time(s)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, indent=1)
