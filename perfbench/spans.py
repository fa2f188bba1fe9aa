"""Spans around calls into the library's layers, with Spark job metrics.

A span records its name, start, end, parent and run id.  While a span is
open its calling thread carries a Spark job group named after the span, so
the jobs the layer submits can be read back from the application status
store (it works with ``spark.ui.enabled=false``).  From those jobs and
their stages each span gets:

* ``job_s``        — union of the wall intervals of its own jobs;
* ``self_s``       — span wall time minus its children and its job time
                     (the driver-side Python and Py4J part of the layer);
* ``executor_run_s`` / ``executor_cpu_s`` — summed over its stages; the CPU
                     figure is JVM task-thread CPU only;
* ``python_cpu_s`` — user+system CPU of the Python worker processes under
                     the JVM over the span (the part ``executor_cpu_s``
                     misses for Arrow/pandas UDFs);
* ``shuffle_write_bytes``, ``spill_bytes`` — summed over its stages;
* ``task_skew``    — max ÷ median task duration of its heaviest stage.

Spans stay in memory; :meth:`Tracer.dump` writes them out at the end.
Jobs submitted from threads the library starts itself (the pipeline's
branch pool) carry no job group and are not attributed to any span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


def proc_children(pid: int) -> list[int]:
    """Direct children of ``pid`` (forked by any of its threads), read from
    /proc (Linux only)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def _proc_cpu_s(pid: int) -> float:
    """utime + stime of one process in seconds (0 when it is gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.jvm_pid = int(self.sc._jvm.ProcessHandle.current().pid())
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    # ------------------------------------------------------------------
    def _worker_cpu_s(self) -> float:
        """CPU seconds of every Python process below the JVM (the pyspark
        daemon and its forked workers), alive at the time of the call."""
        total, todo = 0.0, list(proc_children(self.jvm_pid))
        while todo:
            pid = todo.pop()
            total += _proc_cpu_s(pid)
            todo.extend(proc_children(pid))
        return total

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer.  The caller forces the layer's output
        inside the ``with`` block and may add counts to the yielded dict."""
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "run_id": self.run_id, "id": self._seq,
               "parent": parent["id"] if parent else None,
               "group": f"{self.run_id}-{self._seq}", "children_s": 0.0,
               "counts": {}}
        self._stack.append(rec)
        self._set_group(rec)
        cpu0 = self._worker_cpu_s()
        rec["start"] = time.time()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            rec["python_cpu_s"] = self._worker_cpu_s() - cpu0
            self._stack.pop()
            self._set_group(parent)
            rec["wall_s"] = rec["end"] - rec["start"]
            rec.update(self._job_metrics(rec["group"]))
            rec["self_s"] = max(0.0, rec["wall_s"] - rec["children_s"]
                                - rec["job_s"])
            if parent is not None:
                parent["children_s"] += rec["wall_s"]
            self.spans.append(rec)

    # ------------------------------------------------------------------
    def _job_metrics(self, group: str) -> dict:
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        quant = self.sc._gateway.new_array(jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        intervals = []
        stage_ids = set()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            seq = job.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.length()))
        m = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
             "executor_run_s": 0.0, "executor_cpu_s": 0.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 1.0}
        heaviest = -1.0
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, True, jvm.java.util.ArrayList(),
                                       True, quant)
            for i in range(attempts.length()):
                st = attempts.apply(i)
                if st.numCompleteTasks() == 0:
                    continue            # skipped (reused shuffle output)
                run_s = st.executorRunTime() / 1e3
                m["stages"] += 1
                m["tasks"] += st.numCompleteTasks()
                m["executor_run_s"] += run_s
                m["executor_cpu_s"] += st.executorCpuTime() / 1e9
                m["shuffle_write_bytes"] += st.shuffleWriteBytes()
                m["spill_bytes"] += (st.memoryBytesSpilled()
                                     + st.diskBytesSpilled())
                dist = st.taskMetricsDistributions()
                if run_s > heaviest and dist.isDefined():
                    heaviest = run_s
                    dur = dist.get().duration()
                    med, top = float(dur.apply(0)), float(dur.apply(1))
                    m["task_skew"] = top / med if med > 0 else 1.0
        m["job_s"] = _union_length(intervals)
        return m

    # ------------------------------------------------------------------
    def layer(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].split(".")[0] == prefix]

    def totals(self) -> dict:
        """Run-wide figures over every span: summed driver self time and
        spill, and the worst task skew."""
        return {
            "driver.self_s": sum(s["self_s"] for s in self.spans),
            "spill_bytes": sum(s["spill_bytes"] for s in self.spans),
            "task_skew": max([s["task_skew"] for s in self.spans] or [1.0]),
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.spans, f, indent=1)
        os.replace(tmp, path)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
