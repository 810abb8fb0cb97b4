"""Tracing from outside the program: StateStore call timing and a parser
for Spark's event log.

Job counts come from the event log, not ``sc.statusTracker()``: the
tracker keeps only the last ``spark.ui.retainedJobs`` jobs, so a crawl
that launches hundreds of jobs would under-count.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict

# StateStore methods that write eagerly (Spark actions or files); the
# read_* methods return lazy DataFrames and are timed only as calls.
WRITE_METHODS = ("append", "write_snapshot", "write_bucketed", "write_keyed_bucketed")


class StoreTrace:
    """Times every public ``StateStore`` method by patching the class.

    Spans are kept in memory as (method, start, end, depth) in epoch
    seconds, the clock of the event log's millisecond stamps; depth > 0
    marks a call made from inside another StateStore call (``append``
    delegates to ``write_snapshot``), which seconds must not count twice.
    """

    def __init__(self):
        self.spans: list[tuple[str, float, float, int]] = []
        self._saved: dict[str, object] = {}
        self._depth = 0

    def install(self) -> None:
        from nightcrawlercmd_spark.sources.tableio import StateStore

        for name, fn in list(vars(StateStore).items()):
            if not name.startswith("_") and callable(fn):
                self._saved[name] = fn
                setattr(StateStore, name, self._wrap(name, fn))

    def uninstall(self) -> None:
        from nightcrawlercmd_spark.sources.tableio import StateStore

        for name, fn in self._saved.items():
            setattr(StateStore, name, fn)
        self._saved.clear()

    def _wrap(self, name, fn):
        trace = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            depth = trace._depth
            trace._depth += 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                trace._depth = depth
                trace.spans.append((name, t0, time.time(), depth))

        return timed

    def outer(self, names=None) -> list[tuple[str, float, float]]:
        return [(n, t0, t1) for n, t0, t1, d in self.spans
                if d == 0 and (names is None or n in names)]

    def summary(self) -> dict:
        """Calls and outermost seconds per method, plus the eager write
        seconds per committed round and the mean commit time."""
        out: dict = {}
        for name, t0, t1, depth in self.spans:
            d = out.setdefault(name, {"calls": 0, "s": 0.0})
            d["calls"] += 1
            if depth == 0:
                d["s"] += t1 - t0
        commits = out.get("commit", {"calls": 0, "s": 0.0})
        n = max(commits["calls"], 1)
        out["write_s_per_round"] = sum(t1 - t0 for _, t0, t1 in self.outer(WRITE_METHODS)) / n
        out["commit_ms"] = 1000.0 * commits["s"] / n
        return out


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """All events of application ``app_id``'s (non-rolling) log."""
    with open(os.path.join(log_dir, app_id)) as f:
        return [json.loads(line) for line in f if line.strip()]


class SparkRecords:
    """Jobs, stages and tasks from the event log, with epoch-ms times."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_names: dict[int, str] = {}  # completed stages only
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                self.jobs[jid] = {"start": e["Submission Time"], "end": None,
                                  "stages": e["Stage IDs"],
                                  "description": props.get("spark.job.description")}
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stage_names[info["Stage ID"]] = info["Stage Name"]
            elif kind == "SparkListenerTaskEnd":
                ti = e["Task Info"]
                tm = e.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                self.tasks[e["Stage ID"]].append({
                    "ms": ti["Finish Time"] - ti["Launch Time"],
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                })

    def jobs_in(self, t0_ms: float, t1_ms: float) -> list[int]:
        return [j for j, r in self.jobs.items() if t0_ms <= r["start"] < t1_ms]

    def window(self, t0: float, t1: float, cores: int) -> dict:
        """Counts and times for the jobs submitted in [t0, t1) (seconds)."""
        t0_ms, t1_ms = t0 * 1000.0, t1 * 1000.0
        jobs = self.jobs_in(t0_ms, t1_ms)
        stage_ids = [s for j in jobs for s in self.jobs[j]["stages"] if s in self.stage_names]
        tasks = [t for s in stage_ids for t in self.tasks.get(s, [])]
        busy_ms = sum(t["ms"] for t in tasks)
        # wall time with no job running: the driver-side gap
        spans = sorted((self.jobs[j]["start"], self.jobs[j]["end"] or t1_ms) for j in jobs)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            s, e = max(s, t0_ms), min(e, t1_ms)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        wall_ms = max(t1_ms - t0_ms, 1.0)
        heavy = max(stage_ids, key=lambda s: sum(t["ms"] for t in self.tasks.get(s, [])),
                    default=None)
        skew, heavy_ms = None, 0.0
        if heavy is not None:
            durs = [t["ms"] for t in self.tasks.get(heavy, [])]
            heavy_ms = sum(durs)
            if len(durs) > 1:
                skew = max(durs) / max(statistics.median(durs), 1.0)
        return {
            "wall_s": wall_ms / 1000.0,
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": len(tasks),
            "busy_frac": busy_ms / (cores * wall_ms),
            "driver_gap_s": (wall_ms - covered) / 1000.0,
            "shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / 1e6,
            "skew": skew,
            "exec_s": busy_ms / 1000.0,
            "heavy_stage_frac": heavy_ms / busy_ms if busy_ms else None,
        }

    def exec_s_by_site(self, t0: float, t1: float, store: StoreTrace) -> dict[str, float]:
        """Executor seconds of the jobs submitted in [t0, t1), grouped by
        the job description when the program sets one, else by the
        StateStore call the job ran inside, else by the action call site
        in the stage name."""
        out: dict[str, float] = defaultdict(float)
        calls = store.outer()
        for j in self.jobs_in(t0 * 1000.0, t1 * 1000.0):
            job = self.jobs[j]
            site = job["description"]
            if site is None:
                at = job["start"] / 1000.0
                site = next((f"StateStore.{n}" for n, s0, s1 in calls if s0 <= at <= s1), None)
            for s in job["stages"]:
                if s in self.stage_names:
                    key = site or self.stage_names[s].rsplit(" at ", 1)[-1]
                    out[key] += sum(t["ms"] for t in self.tasks.get(s, [])) / 1000.0
        return dict(sorted(out.items(), key=lambda kv: -kv[1]))
