"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side only: around each call it makes
into the engine, and (traced run only) around a few lower public functions
patched at their module boundary. Each span carries the Spark work done
while it was open, read from ``statusTracker()`` through a per-span job
group, and the ``CDC_TIMING`` stage lines ``streaming.replay`` already emits
are harvested from stderr as child spans of the epoch that printed them.

With tracing off every method is a cheap no-op, so the timed runs execute
the same benchmark code with nothing patched.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import sys
import time
import uuid

_TIMING_LINE = re.compile(r"\[cdc-timing\] e\d+ (.+): ([0-9.]+)s")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float | None, int | None]:
    """(value, percentile) of the highest percentile that still has at least
    ten samples beyond it; (None, None) when fewer than 20 samples leave no
    such percentile at or above the median."""
    n = len(xs)
    if n < 20:
        return None, None
    i = n - 11
    return sorted(xs)[i], int(100 * (i + 1) / n)


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of its interval covered by children."""
    ivs = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span["end"] - span["start"] - covered


class _StderrTap:
    """Stands in for sys.stderr while tracing: ``[cdc-timing]`` lines become
    spans, everything else passes through unchanged."""

    def __init__(self, tracer: "Tracer", real):
        self._tracer, self._real, self._buf = tracer, real, ""

    def write(self, s: str) -> int:
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            m = _TIMING_LINE.match(line)
            if m:
                self._tracer.harvest(m.group(1), float(m.group(2)))
            else:
                self._real.write(line + "\n")
        return len(s)

    def flush(self) -> None:
        self._real.flush()

    def __getattr__(self, name):
        return getattr(self._real, name)


class Tracer:
    """In-memory span store; ``enabled=False`` records nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counters: dict[str, int] = {}
        self._stack: list[dict] = []
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []
        self._real_stderr = None

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "group": f"perfbench-{self.run_id}-{self._next_id}",
            "children": [],
            **attrs,
        }
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(rec["group"], name)
        if self._stack:
            self._stack[-1]["children"].append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if prev_group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev_group, prev_desc or "")
            self._count_work(rec)
            self.spans.append(rec)

    def harvest(self, label: str, dur: float) -> None:
        """One ``CDC_TIMING`` stage line, printed as the stage ended."""
        end = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": None,
            "name": "replay.stage." + re.sub(r"[^a-z0-9]+", "_", label).strip("_"),
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": end - dur,
            "end": end,
            "children": [],
            "harvested": True,
        }
        self._next_id += 1
        rec["id"] = self._next_id
        if parent is not None:
            parent["children"].append(rec)
        self.spans.append(rec)

    def _count_work(self, rec: dict) -> None:
        """Jobs/stages/tasks run under this span's own job group, plus the
        inclusive totals over its (already closed) child spans."""
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(rec["group"]):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        rec["self_work"] = {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
        work = dict(rec["self_work"])
        for c in rec["children"]:
            for k, v in c.get("work", {}).items():
                work[k] += v
        rec["work"] = work

    # -- boundary patches (traced run only) --------------------------------

    def wrap(self, owner, attr: str, span_name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``close``.
        ``on_call(rec, args, kwargs, result)`` may add attributes."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as rec:
                out = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(rec, args, kwargs, out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def count_calls(self, owner, attr: str, counter: str) -> None:
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            tracer.counters[counter] = tracer.counters.get(counter, 0) + 1
            for rec in tracer._stack:
                rec[counter] = rec.get(counter, 0) + 1
            return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def harvest_stage_timings(self, replay_module) -> None:
        """Turn on the engine's opt-in stage timing and tap its stderr."""
        if not self.enabled:
            return
        self._patches.append((replay_module, "_TIMING", replay_module._TIMING))
        replay_module._TIMING = True
        self._real_stderr = sys.stderr
        sys.stderr = _StderrTap(self, sys.stderr)

    def close(self) -> None:
        if self._real_stderr is not None:
            sys.stderr.flush()
            sys.stderr = self._real_stderr
            self._real_stderr = None
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- queries over the recorded spans -----------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def self_times(self, name: str) -> list[float]:
        return [self_time(s, s["children"]) for s in self.named(name)]

    def dump(self, path: str) -> None:
        """Write every span (children by id) once the run has ended."""
        out = []
        for s in self.spans:
            rec = {k: v for k, v in s.items() if k != "children"}
            rec["self_s"] = self_time(s, s["children"])
            out.append(rec)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": out, "counters": self.counters}, f)
