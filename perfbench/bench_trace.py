"""Spans, Spark job accounting and small statistics for the benchmark.

Spans are recorded only by the benchmark's own code, around calls into
the engine's public API. Each span carries its name, start, end, parent
span, run id and the Spark job group its jobs ran under; job, stage and
task counts come from ``SparkContext.statusTracker()`` (works with the
UI disabled). Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Iterable, List, Optional


# --------------------------------------------------------------- stats
def summarize(values: Iterable[float]) -> dict:
    """Median, extremes and sample count of a list of measurements."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("summarize() needs at least one sample")
    return {
        "median": statistics.median(xs),
        "min": xs[0],
        "max": xs[-1],
        "n": len(xs),
    }


# ------------------------------------------------- engine step lines
# CrawlEngine prints one line per superstep under
# SPARK_GRAFT_STEP_TIMING=1:
#   [step 3] empty=0.14/2j bundle=2.07/12j frontier=2.07/12j state=2.74/17j total=7.02/43j
_STEP_RE = re.compile(r"^\[step (\d+)\]((?:\s+[a-z_]+=\d+(?:\.\d+)?/\d+j)+)\s*$")
_PHASE_RE = re.compile(r"([a-z_]+)=(\d+(?:\.\d+)?)/(\d+)j")


def parse_step_lines(text: str) -> List[dict]:
    """Parse the engine's per-superstep timing lines out of captured
    stdout. Returns one dict per line: ``step`` plus ``<phase>_s`` and
    ``<phase>_jobs`` for every phase printed; other lines are ignored."""
    out = []
    for line in text.splitlines():
        m = _STEP_RE.match(line.strip())
        if not m:
            continue
        rec: dict = {"step": int(m.group(1))}
        for phase, secs, jobs in _PHASE_RE.findall(m.group(2)):
            rec[f"{phase}_s"] = float(secs)
            rec[f"{phase}_jobs"] = int(jobs)
        out.append(rec)
    return out


# ------------------------------------------------------------- spans
@dataclass
class Span:
    id: int
    name: str
    run_id: str
    parent: Optional[int]
    group: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled tracers cost one branch per
    span and set no job group, so untraced runs are the plain program."""

    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        # seconds spent in the tracer's own Spark bookkeeping
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, run_id: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), name=name, run_id=run_id,
            parent=parent.id if parent else None,
            group=f"perfbench-{len(self.spans)}", start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, name)
        t_in = time.perf_counter()
        self.overhead_s += t_in - sp.start
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self._count_jobs(sp)
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - sp.end

    def _count_jobs(self, sp: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(sp.group):
            sp.jobs += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                sp.stages += 1
                sp.tasks += stage.numCompletedTasks
                sp.failed_tasks += stage.numFailedTasks

    # -- derived views -------------------------------------------------
    def children(self, sp: Span) -> List[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it covered by child spans."""
        ivs = sorted((c.start, c.end) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, sp.start), min(e, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def subtree(self, sp: Span) -> List[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def totals(self, sp: Span) -> dict:
        """Jobs / tasks / failed tasks over a span and its descendants."""
        tree = self.subtree(sp)
        return {
            "jobs": sum(s.jobs for s in tree),
            "tasks": sum(s.tasks for s in tree),
            "failed_tasks": sum(s.failed_tasks for s in tree),
        }

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            rec = asdict(s)
            rec["dur_s"] = s.dur
            rec["self_s"] = self.self_time(s)
            rows.append(rec)
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1, default=str)
