"""Spans around the benchmark's calls into each layer, and the Spark
status store read that attributes jobs, stages, task CPU, input and
shuffle bytes to them.

Untraced runs still time every span (the end-to-end metrics are span
durations) but set no job group and never read the status store.  A
traced run gives each span its own job group; when the run ends, the
store's job and stage lists are read once and joined to the spans.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """Processor seconds (user + system, reaped children included) of
    this process and every live descendant: the driver, the JVM and its
    Python workers.  Unlike wall time, it leaves out time the host
    withheld from the machine (steal)."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return total / _TICK


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, name: str = ""):
        rec = {"layer": layer, "name": name, "group": None, "parent": None}
        if self._stack:
            rec["parent"] = self._stack[-1]["id"]
        rec["id"] = len(self.spans)
        self.spans.append(rec)
        if self.enabled:
            rec["group"] = f"tcbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], f"{layer}:{name}")
        self._stack.append(rec)
        rec["start"] = time.time()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    outer = self._stack[-1]
                    self.sc.setJobGroup(outer["group"], f"{outer['layer']}:{outer['name']}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def find(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer]

    # --- status store ------------------------------------------------------

    def attribute(self) -> None:
        """Read the status store once and attach to every span the Spark
        jobs run in its own job group (``jobs``) and in its subtree
        (``tree``: jobs, seconds with no job running, task CPU, bytes)."""
        sc = self.sc
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        # the store's job and stage lists as JSON, one py4j call each:
        # reading them attribute by attribute took about 25 s per traced
        # season_ticks run
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                              "DefaultScalaModule$"), "MODULE$"))
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stage_list = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)))
        job_list = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        by_stage: dict[int, list] = {}
        for sd in stage_list:
            by_stage.setdefault(sd["stageId"], []).append(
                (sd["executorCpuTime"] / 1e9, sd["inputBytes"], sd["shuffleWriteBytes"]))
        jobs_by_group: dict[str, list[dict]] = {}
        for j in job_list:
            if not j.get("jobGroup"):
                continue
            sub, done = j.get("submissionTime"), j.get("completionTime")
            cpu = inp = shw = 0.0
            for sid in j["stageIds"]:
                for c, i, w in by_stage.get(sid, []):
                    cpu, inp, shw = cpu + c, inp + i, shw + w
            jobs_by_group.setdefault(j["jobGroup"], []).append({
                "callsite": j["name"],
                "start": sub / 1e3 if sub is not None else None,
                "end": done / 1e3 if done is not None else None,
                "cpu_s": cpu, "input_b": inp, "shuffle_write_b": shw,
            })
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            s["jobs"] = jobs_by_group.get(s["group"], [])
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        def subtree_jobs(s):
            out = list(s["jobs"])
            for c in children.get(s["id"], []):
                out += subtree_jobs(c)
            return out

        for s in self.spans:
            jobs = s["tree_jobs"] = subtree_jobs(s)
            s["tree"] = {
                "spark_jobs": len(jobs),
                "outside_jobs_s": _uncovered(s["start"], s["end"], jobs),
                "task_cpu_s": sum(j["cpu_s"] for j in jobs),
                "input_mb": sum(j["input_b"] for j in jobs) / 1e6,
                "shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / 1e6,
            }

    def callsites(self) -> dict:
        """Per span layer: call site -> (jobs, seconds), as the status
        store records the call site of every job."""
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(s["layer"], {})
            for j in s["jobs"]:
                n, t = agg.get(j["callsite"], (0, 0.0))
                dur = (j["end"] - j["start"]) if j["end"] and j["start"] else 0.0
                agg[j["callsite"]] = (n + 1, round(t + dur, 4))
        return {k: v for k, v in out.items() if v}


def _uncovered(start: float, end: float, jobs: list[dict]) -> float:
    """Seconds of [start, end] during which none of ``jobs`` ran."""
    iv = sorted((max(start, j["start"]), min(end, j["end"])) for j in jobs
                if j["start"] is not None and j["end"] is not None)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
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
    return max(0.0, (end - start) - covered)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
