"""Timed operations and the Spark status-store layer trace.

Every operation the benchmark times goes through :meth:`Ops.run`. With
tracing off that is a wall-clock timer and nothing else. With tracing on,
the operation runs under its own Spark job group; after its timer stops
the job and stage data of that group are read from the driver's status
store (populated with the UI off) and kept as spans op → job → stage,
each with name, start, end, parent and op id. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from py4j.protocol import Py4JJavaError


@dataclass
class Op:
    op_id: str
    layer: str
    name: str
    start: float  # epoch seconds
    end: float
    wall_s: float
    harvest_s: float = 0.0
    plan_s: float = 0.0  # queries: until the lazy DataFrame is returned
    jobs: list[dict] = field(default_factory=list)

    def stages(self) -> list[dict]:
        """Distinct stages of the op's jobs (a stage id shared by two
        jobs, as AQE re-submission does, counts once)."""
        seen: dict[int, dict] = {}
        for j in self.jobs:
            for s in j["stages"]:
                if s["id"] not in seen or not s["skipped"]:
                    seen[s["id"]] = s
        return list(seen.values())

    def counters(self) -> dict[str, float]:
        ran = [s for s in self.stages() if not s["skipped"]]
        total = lambda key: float(sum(s[key] for s in ran))  # noqa: E731
        return {
            "jobs": float(len(self.jobs)),
            "stages": float(len(ran)),
            "skipped_stages": float(len(self.stages()) - len(ran)),
            "tasks": total("tasks"),
            "executor_run_s": total("run_ms") / 1e3,
            "executor_cpu_s": total("cpu_ns") / 1e9,
            "gc_s": total("gc_ms") / 1e3,
            "input_bytes": total("input_bytes"),
            "input_rows": total("input_rows"),
            "output_bytes": total("output_bytes"),
            "shuffle_bytes": total("shuffle_write_bytes"),
            "driver_s": self.wall_s - self._job_cover_s(),
        }

    def _job_cover_s(self) -> float:
        """Length of the union of the op's job intervals, clipped to
        the op's own interval."""
        iv = sorted(
            (max(j["start"], self.start), min(j["end"], self.end))
            for j in self.jobs if j["start"] is not None and j["end"] is not None
        )
        cover, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    cover += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            cover += cur_e - cur_s
        return cover


def _epoch(opt: Any) -> float | None:
    """scala Option[java.util.Date] → epoch seconds."""
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


class Ops:
    def __init__(self, spark: Any, trace: bool, tag: str) -> None:
        self.spark = spark
        self.trace = trace
        self.tag = tag
        self.ops: list[Op] = []
        # ids stay unique when a call raises and is not recorded, so a
        # failed call's jobs never land in the next call's job group
        self._ids = itertools.count()

    def run(self, layer: str, name: str, fn: Callable[[], Any]) -> tuple[Any, Op]:
        sc = self.spark.sparkContext
        op_id = f"{self.tag}:{next(self._ids)}"
        if self.trace:
            sc.setJobGroup(op_id, f"{layer}:{name}")
        start, t0 = time.time(), time.perf_counter()
        result = fn()
        wall = time.perf_counter() - t0
        op = Op(op_id, layer, name, start, start + wall, wall)
        if self.trace:
            h0 = time.perf_counter()
            op.jobs = self._harvest(op_id)
            sc.setLocalProperty("spark.jobGroup.id", None)
            op.harvest_s = time.perf_counter() - h0
        self.ops.append(op)
        return result, op

    def _harvest(self, op_id: str) -> list[dict]:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001
        # job/stage end events reach the status store on the listener
        # bus thread; drain it so the op's data is complete
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        jobs = []
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(op_id)):
            j = store.job(jid)
            ids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
            jobs.append({
                "id": jid, "name": j.name(),
                "start": _epoch(j.submissionTime()),
                "end": _epoch(j.completionTime()),
                "stages": [self._stage(store, sid) for sid in ids],
            })
        return jobs

    @staticmethod
    def _stage(store: Any, sid: int) -> dict:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted: the store has no attempt
            return {"id": sid, "skipped": True}
        return {
            "id": sid, "name": sd.name(),
            "skipped": sd.status().toString() == "SKIPPED",
            "start": _epoch(sd.submissionTime()),
            "end": _epoch(sd.completionTime()),
            "tasks": sd.numTasks(),
            "run_ms": sd.executorRunTime(),
            "cpu_ns": sd.executorCpuTime(),
            "gc_ms": sd.jvmGcTime(),
            "input_bytes": sd.inputBytes(),
            "input_rows": sd.inputRecords(),
            "output_bytes": sd.outputBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
        }

    def spans(self) -> list[dict]:
        out = []
        for op in self.ops:
            out.append({"id": op.op_id, "parent": None, "op": op.op_id,
                        "kind": "op", "name": f"{op.layer}:{op.name}",
                        "start": op.start, "end": op.end})
            for j in op.jobs:
                jid = f"{op.op_id}/job{j['id']}"
                out.append({"id": jid, "parent": op.op_id, "op": op.op_id,
                            "kind": "job", "name": j["name"],
                            "start": j["start"], "end": j["end"]})
                for s in j["stages"]:
                    if s["skipped"]:
                        continue
                    out.append({"id": f"{jid}/stage{s['id']}", "parent": jid,
                                "op": op.op_id, "kind": "stage",
                                "name": s["name"], "start": s["start"],
                                "end": s["end"], "tasks": s["tasks"]})
        return out

    def write_spans(self, path: str) -> int:
        spans = self.spans()
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        return len(spans)
