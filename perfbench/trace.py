"""Span tracing from outside the engine, plus Spark's in-process status stores.

The tracer rebinds public engine functions and methods to wrappers that
record a span (name, start, end, parent) around each call.  Names the engine
imported into another module are rebound there too (``driver.merge_into``),
so the engine's own calls go through the wrapper.

Each wrapper also tags the Spark jobs that follow with the span's id as job
group.  The tag is not restored on exit: a lazy plan built by one call runs
inside a later one, so a job belongs to the most recently *entered* wrapped
call.  After each session the tracer reads both status stores, which work
with the UI off:

* ``sc._jsc.sc().statusStore()`` for jobs (group, stages, start and end) and
  stage metrics (task run/CPU/GC time, input, output and shuffle bytes);
* ``spark._jsparkSession.sharedState().statusStore()`` for the SQL metrics of
  each ``ArrowEvalPython`` node (time to start, initialize and run Python
  workers, bytes to and from Python, rows out).

Spans and metrics stay in memory until the run prints its result.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager

#: spans whose jobs the tracer reports, by layer (used for self times)
LAYER_OF = {
    "snapshot_load": "snapshot",
    "LakeTable.append": "snapshot",
    "prepare_changes": "lww",
    "merge_into": "merge",
    "LakeTable.append_delta": "write",
    "maybe_compact": "maintenance",
    "LakeTable.compact": "maintenance",
    "LakeTable.expire_snapshots": "maintenance",
    "LakeTable.read": "read",
    "CdcEngine.run": "driver",
    "CdcEngine.max_lsn": "driver",
    "CdcEngine.committed_hwm": "driver",
    "LakeTable.append_rows": "bookkeep",
    "LakeTable.add_column": "ddl",
    "LakeTable.rename_column": "ddl",
    "LakeTable.widen_column": "ddl",
    "ContentIndex.dedup_batch": "cindex",
    "ContentIndex.append": "cindex",
    "ContentIndex.compact": "cindex",
    "NearDupIndex.band_rows": "ndindex",
    "NearDupIndex.match_batch": "ndindex",
    "NearDupIndex.append": "ndindex",
    "NearDupIndex.compact": "ndindex",
}

_PY_METRICS = {
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_to",
    "data returned from Python workers": "bytes_from",
    "number of output rows": "rows",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_METRIC_RE = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric: '11 ms', '7.6 MiB', '3,000', or
    'total (min, med, max ...)\\n13.0 s (3.2 s, ...)'."""
    line = text.split("\n")[1] if "\n" in text else text
    parts = line.split("(")[0].strip().replace(",", "").split()
    value = float(parts[0])
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._by_id: dict[int, dict] = {}
        self._stack: list[dict] = []
        self.jobs: list[dict] = []  # {"group", "t0", "t1", "stages": [stage dicts]}
        self.python: list[dict] = []  # per ArrowEvalPython node, with its group
        self.collect_s = 0.0
        # perf_counter -> epoch seconds, for job times from the status store
        self._epoch = time.time() - time.perf_counter()

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        from pyspark import SparkContext

        rec = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else 0,
            "t0": time.perf_counter(),
            "t1": None,
            "info": {},
        }
        self.spans.append(rec)
        self._by_id[rec["id"]] = rec
        self._stack.append(rec)
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(f"pb-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        """Rebind owner.attr to a traced wrapper; post(rec, args, result,
        state) may record counts, with state = pre(args) when post has one."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            state = post.pre(args) if post is not None and hasattr(post, "pre") else None
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if post is not None:
                    post(rec, args, out, state)
                return out

        setattr(owner, attr, traced)

    # -- Spark status stores -------------------------------------------------
    def collect(self, spark) -> None:
        """Read jobs, stages and Python-node SQL metrics of the current
        session; call before the session stops."""
        t0 = time.perf_counter()
        jsc = spark.sparkContext._jsc.sc()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        owner: dict[int, int] = {}  # stage id -> lowest job id listing it
        raw = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            grp = j.jobGroup()
            sub, done = j.submissionTime(), j.completionTime()
            sids = [int(s) for s in j.stageIds().mkString(",").split(",") if s]
            jid = int(j.jobId())
            for s in sids:
                owner[s] = min(owner.get(s, jid), jid)
            raw.append(
                {
                    "id": jid,
                    "group": grp.get() if grp.isDefined() else None,
                    "t0": sub.get().getTime() / 1000 - self._epoch if sub.isDefined() else None,
                    "t1": done.get().getTime() / 1000 - self._epoch if done.isDefined() else None,
                    "stage_ids": sids,
                }
            )
        for job in raw:
            job["stages"] = []
            for sid in job["stage_ids"]:
                if owner[sid] != job["id"]:
                    continue  # counted with the job that ran it
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # a stage that never ran has no attempt
                    continue
                job["stages"].append(
                    {
                        "run_s": s.executorRunTime() / 1e3,
                        "cpu_s": s.executorCpuTime() / 1e9,
                        "gc_s": s.jvmGcTime() / 1e3,
                        "input_bytes": s.inputBytes(),
                        "output_bytes": s.outputBytes(),
                        "shuffle_read_bytes": s.shuffleReadBytes(),
                        "shuffle_write_bytes": s.shuffleWriteBytes(),
                    }
                )
        self.jobs.extend(raw)
        group_of_job = {j["id"]: j["group"] for j in raw}

        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            names = e.metrics().mkString("\n")
            if "Python workers" not in names:
                continue
            eid = e.executionId()
            job_ids = [int(x) for x in e.jobs().keys().mkString(",").split(",") if x]
            group = group_of_job.get(min(job_ids)) if job_ids else None
            values = {}
            for entry in sql.executionMetrics(eid).mkString("\u0001").split("\u0001"):
                if " -> " in entry:
                    k, v = entry.split(" -> ", 1)
                    values[int(k)] = v
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if node.name() != "ArrowEvalPython":
                    continue
                rec = {"group": group}
                for line in node.metrics().mkString("\n").split("\n"):
                    m = _METRIC_RE.match(line)
                    if m and m.group(1) in _PY_METRICS and int(m.group(2)) in values:
                        rec[_PY_METRICS[m.group(1)]] = parse_metric(values[int(m.group(2))])
                self.python.append(rec)
        self.collect_s += time.perf_counter() - t0

    # -- derived views --------------------------------------------------------
    def span_of_group(self, group: str | None) -> dict | None:
        """The span a job group names (None for jobs outside any span)."""
        if not group or not group.startswith("pb-"):
            return None
        return self._by_id.get(int(group[3:]))

    def ancestors(self, span: dict) -> list[str]:
        """Names of the span and of every span enclosing it."""
        out = []
        while span is not None:
            out.append(span["name"])
            span = self._by_id.get(span["parent"])
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover.
        Children run sequentially on one thread, so their durations add."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] in child:
                child[s["parent"]] += s["t1"] - s["t0"]
        return {s["id"]: (s["t1"] - s["t0"]) - child[s["id"]] for s in self.spans}
