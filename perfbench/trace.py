"""Spans for the traced pass, with per-span Spark jobs and shuffle bytes.

A span records (name, layer, start, end, parent, run id) in memory. Each
span sets its own job group, so ``statusTracker`` lists the jobs it
started. Jobs submitted from threads the library starts itself (the
state appends) carry no job group; they are charged to the innermost span
open when they were submitted. Shuffle bytes per stage come from the
driver's UI REST API on localhost once the pass is over.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

LAYERS = (
    "sources",
    "sketch",
    "sig_reps",
    "blocking",
    "pairs",
    "scoring",
    "clustering",
    "resolve",
    "state",
    "checkpoint",
    "cache",
)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._open: list[dict] = []

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        rec = {
            "id": len(self.spans),
            "name": name or layer,
            "layer": layer,
            "parent": self._open[-1]["id"] if self._open else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}:{len(self.spans)}",
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["group"], rec["name"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1]["group"], self._open[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, value: float) -> None:
        """Accumulate a domain counter (e.g. ``scoring.candidates``)."""
        self.counts[name] = self.counts.get(name, 0) + value

    def rows(self, rec: dict, n: int) -> None:
        rec["rows_out"] = rec.get("rows_out", 0) + int(n)

    # -- after the pass ---------------------------------------------------

    def _rest(self, path: str):
        base = self.sc.uiWebUrl.rstrip("/")
        url = f"{base}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self, timeout: float = 30.0) -> list[dict]:
        """All jobs from the status store, once none is still running (the
        listener bus is asynchronous, so the store may lag the actions)."""
        deadline = time.time() + timeout
        while True:
            jobs = self._rest("jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def attribute(self) -> None:
        """Attach job ids and shuffle-write bytes to every span (self
        only: a child's jobs are not its parent's)."""
        jobs = self._settled_jobs()
        by_group = {
            s["group"]: set(self.sc.statusTracker().getJobIdsForGroup(s["group"]))
            for s in self.spans
        }
        stage_bytes = {
            s["stageId"]: s.get("shuffleWriteBytes", 0)
            for s in self._rest("stages?status=complete")
        }
        for s in self.spans:
            s["jobs"] = sorted(by_group[s["group"]])
        ungrouped = [j for j in jobs if not j.get("jobGroup")]
        for j in ungrouped:
            t = _rest_time(j["submissionTime"])
            open_spans = [s for s in self.spans if s["start"] <= t < s["end"]]
            if open_spans:
                innermost = max(open_spans, key=lambda s: s["start"])
                innermost["jobs"].append(j["jobId"])
        stages_of = {j["jobId"]: j.get("stageIds", []) for j in jobs}
        seen: set[int] = set()
        for s in sorted(self.spans, key=lambda s: s["start"]):
            total = 0
            for jid in sorted(s["jobs"]):
                for sid in stages_of.get(jid, []):
                    if sid not in seen:
                        seen.add(sid)
                        total += stage_bytes.get(sid, 0)
            s["shuffle_write_bytes"] = total

    def self_seconds(self, span: dict) -> float:
        kids = [c for c in self.spans if c["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(c["end"] - c["start"] for c in kids)

    def layer_metrics(self) -> dict[str, float]:
        """``L.busy_s``, ``L.rows_out``, ``L.jobs``, ``L.shuffle_write_mb``
        for every layer (0 where the layer did not run)."""
        out = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s["layer"] == layer]
            out[f"{layer}.busy_s"] = sum(self.self_seconds(s) for s in spans)
            out[f"{layer}.rows_out"] = sum(s.get("rows_out", 0) for s in spans)
            out[f"{layer}.jobs"] = sum(len(s.get("jobs", [])) for s in spans)
            out[f"{layer}.shuffle_write_mb"] = (
                sum(s.get("shuffle_write_bytes", 0) for s in spans) / 1e6
            )
        return out

    def top_level_seconds(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)


def _rest_time(stamp: str) -> float:
    """UI REST timestamps (``2026-01-01T00:00:00.000GMT``) → epoch seconds."""
    from datetime import datetime, timezone

    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()
