"""In-memory spans around the benchmark's calls into ``kgw_spark``.

A span records name, start, end, parent span and run id. Entering a
span also sets the Spark job group to the span's id, so the jobs and
stages the call submits can be read back from the UI REST API and
attributed to it. Spans stay in memory and are written once, when the
run ends. Nothing is added inside ``kgw_spark`` itself.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def group(self, span_id: int) -> str:
        return f"{self.run_id}.{span_id}"

    def _set_group(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(self.group(sid), self.spans[sid]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    # -- analysis ---------------------------------------------------------
    def children(self) -> dict[int | None, list[int]]:
        kids: dict[int | None, list[int]] = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s["id"])
        return kids

    def subtree(self, span_id: int) -> set[int]:
        kids = self.children()
        out, todo = set(), [span_id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(kids.get(sid, []))
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name, summed self time: duration minus the time its
        child spans cover (children of one span never overlap)."""
        kids = self.children()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = sum(
                self.spans[c]["end"] - self.spans[c]["start"] for c in kids.get(s["id"], [])
            )
            out[s["name"]] += dur - covered
        return dict(out)

    def jobs_in(self, span_id: int, jobs: list) -> list:
        """Jobs submitted while ``span_id`` or one of its descendants
        was the innermost span."""
        groups = {self.group(s) for s in self.subtree(span_id)}
        return [j for j in jobs if j.group in groups]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
