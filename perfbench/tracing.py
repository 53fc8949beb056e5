"""Per-layer measurement taken from outside the package.

``Recorder`` times every operation of a workload. With ``traced=False``
it keeps only what the end-to-end metrics need (operation wall times
and the resident-memory sampler). With ``traced=True`` it also, after
each operation and outside its timed span:

- flushes Spark's listener bus and reads the operation's jobs and
  stages from the status store (``statusStore().job`` /
  ``lastStageAttempt``), its SQL executions' final physical plans, and
  the streaming progress events a ``StreamingQueryListener`` received;
- reads ``/proc`` for the CPU time of the Python worker processes
  under the driver JVM;
- records spans (workload, operation, build, action, job, stage,
  streaming trigger), each with its parent, kept in memory and written
  out once at the end.

A job is parented to the build or action span its submission time
falls in: one client runs one operation at a time, so every job
submitted during an operation belongs to it.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak of (JVM RSS + this process's RSS), sampled every 20 ms on a
    daemon thread between ``start()`` and ``stop()``."""

    def __init__(self, pids: list[int], period: float = 0.02):
        self.pids, self.period = pids, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
        return self.peak / 2**20


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def python_workers(jvm_pid: int) -> dict[int, float]:
    """pid → CPU seconds (own + reaped children) of every PySpark
    daemon/worker process descending from the driver JVM."""
    parent: dict[int, int] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st:
                parent[int(name)] = int(st[1])
                stats[int(name)] = st
    out: dict[int, float] = {}
    for pid, st in stats.items():
        p, depth = parent.get(pid), 0
        while p and p != jvm_pid and depth < 8:
            p, depth = parent.get(p), depth + 1
        if p != jvm_pid:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark" not in fh.read():
                    continue
        except OSError:
            continue
        # fields after the comm: utime=11 stime=12 cutime=13 cstime=14
        out[pid] = sum(int(st[i]) for i in (11, 12, 13, 14)) / _TICK
    return out


_NODE = re.compile(r"^[\s+\-:*]*([A-Za-z]\w*) \(\d+\)")
_PY_NODE = re.compile(r"Python|InPandas|InArrow")


def plan_counts(description: str) -> dict[str, int]:
    """Exchange / broadcast / Python-node counts of a formatted physical
    plan, taken from the final plan when AQE re-planned it."""
    tree = description.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    names = [m.group(1) for line in tree.splitlines() if (m := _NODE.match(line))]
    return {
        "exchanges": sum(n == "Exchange" for n in names),
        "broadcasts": sum(n == "BroadcastExchange" for n in names),
        "python_nodes": sum(bool(_PY_NODE.search(n)) for n in names),
    }


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _clip(iv: list[tuple[float, float]], a: float, b: float) -> list[tuple[float, float]]:
    return [(max(x, a), min(y, b)) for x, y in iv if min(y, b) > max(x, a)]


def _streaming_listener(events: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            events.append(("start", str(event.id), time.time()))

        def onQueryProgress(self, event):
            p = event.progress
            events.append((
                "progress", str(p.id), time.time(), dict(p.durationMs),
                int(p.numInputRows), sum(int(s.commitTimeMs) for s in p.stateOperators),
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            events.append(("end", str(event.id), time.time()))

    return Listener()


# Per-operation counters, summed per run kind ("cold" / "warm").
LAYER_KEYS = (
    "contract.build_s contract.build_jobs driver.gap_s driver.gap_share "
    "scheduler.jobs scheduler.stages scheduler.skipped_stages scheduler.tasks "
    "scheduler.launch_wait_s scheduler.failed_tasks "
    "jvm.run_s jvm.cpu_s jvm.gc_s jvm.cpu_ratio jvm.input_bytes "
    "jvm.shuffle_read_bytes jvm.shuffle_write_bytes jvm.spill_bytes jvm.output_bytes "
    "pyworker.cpu_s pyworker.spawns plan.exchanges plan.broadcasts plan.python_nodes "
    "streaming.triggers streaming.empty_triggers streaming.trigger_s "
    "streaming.add_batch_s streaming.commit_s streaming.state_commit_s streaming.query_s "
    "runner.view_s runner.table_s runner.bytes_written runner.files_written "
    "runner.write_amp dq.test_s dq.violations metrics.s profile.s "
    "cache.storage_peak_mb cache.skipped_stage_ratio"
).split()
# Keys that are ratios or peaks, not sums over operations.
_DERIVED = {"driver.gap_share", "jvm.cpu_ratio", "runner.write_amp",
            "cache.skipped_stage_ratio", "cache.storage_peak_mb"}


class Recorder:
    """Operation timer and, when ``traced``, per-layer tracer."""

    def __init__(self, spark, traced: bool):
        self.spark, self.traced = spark, traced
        self.ops: list[dict] = []  # {"name", "kind", "s", "failed"}
        self.spans: list[dict] = []
        self.layers = {k: {key: 0.0 for key in LAYER_KEYS} for k in ("cold", "warm")}
        self.attribution: list[dict] = []
        self.collect_s = 0.0
        self._next_span = 0
        self._stack: list[int] = []
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        if traced:
            self._status = jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._events: list = []
            self._listener = _streaming_listener(self._events)
            spark.streams.addListener(self._listener)
            self._workers_seen: set[int] = set(python_workers(self.jvm_pid))
            self._sql_seen = -1
            self._flush()

    # -- spans ---------------------------------------------------------
    def _open(self, name: str, kind: str, t0: float | None = None, **attrs) -> dict:
        span = {"id": self._next_span, "parent": self._stack[-1] if self._stack else None,
                "name": name, "kind": kind, "start": t0 if t0 is not None else time.time(),
                "end": None, **attrs}
        self._next_span += 1
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        s = self._open(name, kind, **attrs)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()

    # -- operations ----------------------------------------------------
    def op(self, name: str, kind: str, build, execute, check=None, layer: str | None = None):
        """Run one operation: ``build()`` makes the plan, ``execute(df)``
        runs it; both are timed as the operation's latency. ``check``
        (untimed) gets the result and returns True when it is correct.
        ``layer`` names a runner-side bucket (``runner.view_s`` …) the
        latency is also added to. Returns ``(df, result)``; an error
        counts as a failed operation."""
        before = None
        if self.traced:
            t0 = time.perf_counter()
            before = self._snapshot()
            self._plans()  # mark earlier SQL executions (warm-up, canaries, digests) seen
            self.collect_s += time.perf_counter() - t0
        failed, df, result = False, None, None
        with self.span(name, "op", run=kind) as op_span:
            try:
                with self.span("build", "build") as b:
                    df = build()
                with self.span("action", "action") as a:
                    result = execute(df)
            except Exception as exc:  # noqa: BLE001 — count, report, continue
                failed = True
                op_span["error"] = f"{type(exc).__name__}: {exc}"[:300]
        wall = op_span["end"] - op_span["start"]
        if not failed and check is not None:
            try:
                failed = not check(df, result)
            except Exception as exc:  # noqa: BLE001
                op_span["error"] = f"check {type(exc).__name__}: {exc}"[:300]
                failed = True
            if failed and "error" not in op_span:
                op_span["error"] = "wrong output"
        self.ops.append({"name": name, "kind": kind, "s": wall, "failed": failed})
        if layer:
            self.layers[kind][layer] += wall
        if self.traced and not failed:
            t0 = time.perf_counter()
            self._collect(before, op_span, b, a, kind)
            self.collect_s += time.perf_counter() - t0
        return df, result

    def add(self, kind: str, key: str, value: float) -> None:
        self.layers[kind][key] += value

    # -- traced collection ---------------------------------------------
    def _flush(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _snapshot(self) -> dict:
        self._flush()
        return {
            "job": int(self._jsc.dagScheduler().nextJobId()),
            "workers": python_workers(self.jvm_pid),
            "events": len(self._events),
        }

    def _jobs(self, lo: int, hi: int) -> list[dict]:
        out = []
        for jid in range(lo, hi):
            try:
                jd = self._status.job(jid)
            except Exception:  # noqa: BLE001 — evicted or never posted
                continue
            if not jd.submissionTime().isDefined() or not jd.completionTime().isDefined():
                continue
            stages = []
            it = jd.stageIds().iterator()
            while it.hasNext():
                sd = self._status.lastStageAttempt(it.next())
                if sd.status().toString() == "SKIPPED" or not sd.submissionTime().isDefined():
                    continue
                sub = sd.submissionTime().get().getTime() / 1e3
                first = (sd.firstTaskLaunchedTime().get().getTime() / 1e3
                         if sd.firstTaskLaunchedTime().isDefined() else sub)
                end = (sd.completionTime().get().getTime() / 1e3
                       if sd.completionTime().isDefined() else first)
                stages.append({
                    "id": sd.stageId(), "start": sub, "first_task": first, "end": end,
                    "tasks": sd.numTasks(), "failed_tasks": sd.numFailedTasks(),
                    "run_s": sd.executorRunTime() / 1e3, "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3, "input_bytes": sd.inputBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "output_bytes": sd.outputBytes(),
                })
            out.append({
                "id": jid, "start": jd.submissionTime().get().getTime() / 1e3,
                "end": jd.completionTime().get().getTime() / 1e3,
                "skipped_stages": jd.numSkippedStages(), "stages": stages,
            })
        return out

    def _plans(self) -> dict[str, int]:
        totals = {"exchanges": 0, "broadcasts": 0, "python_nodes": 0}
        n = int(self._sql.executionsCount())
        lst = self._sql.executionsList(max(0, n - 200), 200).iterator()
        while lst.hasNext():
            e = lst.next()
            eid = int(e.executionId())
            if eid <= self._sql_seen:
                continue
            self._sql_seen = eid
            for k, v in plan_counts(e.physicalPlanDescription()).items():
                totals[k] += v
        return totals

    def _storage_mb(self) -> float:
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo()) / 2**20

    def _collect(self, before: dict, op: dict, build: dict, action: dict, kind: str) -> None:
        storage = self._storage_mb()
        after = self._snapshot()
        L = self.layers[kind]
        jobs = self._jobs(before["job"], after["job"])
        for j in jobs:
            parent = build if j["start"] < build["end"] else action
            jspan = self._open(f"job {j['id']}", "job", t0=j["start"])
            jspan.update(end=j["end"], parent=parent["id"])
            for s in j["stages"]:
                self.spans.append({
                    "id": self._next_span, "parent": jspan["id"], "name": f"stage {s['id']}",
                    "kind": "stage", "start": s["start"], "end": s["end"], "tasks": s["tasks"],
                })
                self._next_span += 1
            L["scheduler.jobs"] += 1
            L["scheduler.skipped_stages"] += j["skipped_stages"]
            if parent is build:
                L["contract.build_jobs"] += 1
            for s in j["stages"]:
                L["scheduler.stages"] += 1
                L["scheduler.tasks"] += s["tasks"]
                L["scheduler.failed_tasks"] += s["failed_tasks"]
                L["scheduler.launch_wait_s"] += s["first_task"] - s["start"]
                for key in ("run_s", "cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
                            "shuffle_write_bytes", "spill_bytes", "output_bytes"):
                    L[f"jvm.{key}"] += s[key]
        L["contract.build_s"] += build["end"] - build["start"]
        act_jobs = _clip([(j["start"], j["end"]) for j in jobs], action["start"], action["end"])
        gap = max(0.0, (action["end"] - action["start"]) - _union(act_jobs))
        L["driver.gap_s"] += gap
        L["cache.storage_peak_mb"] = max(L["cache.storage_peak_mb"], storage)
        for k, v in self._plans().items():
            L[f"plan.{k}"] += v

        workers = after["workers"]
        L["pyworker.cpu_s"] += max(0.0, sum(workers.values()) - sum(
            before["workers"].get(p, 0.0) for p in workers))
        L["pyworker.spawns"] += len(set(workers) - self._workers_seen)
        self._workers_seen |= set(workers)

        trig = []
        starts: dict[str, float] = {}
        for ev in self._events[before["events"]:after["events"]]:
            if ev[0] == "start":
                starts[ev[1]] = ev[2]
            elif ev[0] == "end":
                L["streaming.query_s"] += ev[2] - starts.pop(ev[1], ev[2])
            else:
                _, qid, t, dur, rows, state_ms = ev
                L["streaming.triggers"] += 1
                L["streaming.empty_triggers"] += rows == 0
                L["streaming.trigger_s"] += dur.get("triggerExecution", 0) / 1e3
                L["streaming.add_batch_s"] += dur.get("addBatch", 0) / 1e3
                L["streaming.commit_s"] += (dur.get("walCommit", 0) + dur.get("commitOffsets", 0)) / 1e3
                L["streaming.state_commit_s"] += state_ms / 1e3
                end = min(t, op["end"])
                trig.append((end - dur.get("triggerExecution", 0) / 1e3, end))
                self.spans.append({
                    "id": self._next_span, "parent": op["id"], "name": f"trigger {qid[:8]}",
                    "kind": "trigger", "start": trig[-1][0], "end": trig[-1][1],
                    "input_rows": rows,
                })
                self._next_span += 1

        # Attribution: the share of the operation's wall time covered by
        # named spans: the build, the jobs, and the streaming triggers.
        # What is left is driver-side time with no span of its own.
        wall = op["end"] - op["start"]
        covered = (build["end"] - build["start"]) + _union(
            act_jobs + _clip(trig, action["start"], action["end"]))
        self.attribution.append({
            "op": op["name"], "run": kind, "wall_s": round(wall, 6),
            "attributed_share": round(min(1.0, covered / wall) if wall > 0 else 1.0, 4),
            "driver_gap_s": round(gap, 6), "jobs": len(jobs),
        })

    # -- results -------------------------------------------------------
    def rounds(self, kind: str) -> int:
        """How many times each operation ran as ``kind`` (the most of any
        one operation name)."""
        counts: dict[str, int] = {}
        for o in self.ops:
            if o["kind"] == kind:
                counts[o["name"]] = counts.get(o["name"], 0) + 1
        return max(counts.values(), default=0)

    def per_layer(self) -> dict[str, float]:
        """Per-layer metrics, cold and warm, each averaged per round."""
        out: dict[str, float] = {}
        for kind, L in self.layers.items():
            n = max(1, self.rounds(kind))
            vals = {k: (v if k in _DERIVED else v / n) for k, v in L.items()}
            act = sum(o["s"] for o in self.ops if o["kind"] == kind) / n
            vals["driver.gap_share"] = vals["driver.gap_s"] / act if act else 0.0
            vals["jvm.cpu_ratio"] = vals["jvm.cpu_s"] / vals["jvm.run_s"] if vals["jvm.run_s"] else 0.0
            done = vals["scheduler.stages"] + vals["scheduler.skipped_stages"]
            vals["cache.skipped_stage_ratio"] = vals["scheduler.skipped_stages"] / done if done else 0.0
            for k, v in vals.items():
                out[f"{k}.{kind}"] = v
        shares = [a["attributed_share"] for a in self.attribution]
        out["trace.collect_s"] = self.collect_s
        out["trace.attributed_share_median"] = sorted(shares)[len(shares) // 2] if shares else 0.0
        out["trace.ops_below_90pct"] = sum(s < 0.9 for s in shares)
        return out

    def self_times(self) -> dict[str, float]:
        """Self time per span kind: duration minus the part its child
        spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            kids = _clip(children.get(s["id"], []), s["start"], s["end"])
            out[s["kind"]] = out.get(s["kind"], 0.0) + (s["end"] - s["start"]) - _union(kids)
        return {k: round(v, 6) for k, v in out.items()}

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "self_time_s": self.self_times(),
                       "attribution": self.attribution, "spans": self.spans}, fh)

    def close(self) -> None:
        if self.traced:
            try:
                self.spark.streams.removeListener(self._listener)
            except Exception:  # noqa: BLE001 — session already stopping
                pass
