"""Benchmark-side tracing: spans around calls into each program module,
py4j call counting, and Spark event-log attribution.

Nothing here changes the program. ``Tracer.install`` swaps module
attributes for timing wrappers and ``uninstall`` puts the originals
back, so a traced and an untraced unit can run in the same process.
Wrappers are installed on the name each caller resolves: a function a
caller imported at its own import time (``pipeline.chunk_text``,
``pipeline.knn_topk``) is wrapped in the caller's namespace; functions
looked up through their module at call time are wrapped in that module.

Spark jobs are charged after the run from the event log: a job belongs
to the unit, and to the span, open at its submission time, and its
stages and tasks follow it. Lazy functions (``chunk_text``,
``normalize_text``, ``embed_chunks``) only construct a plan, so their
spans time construction; their executor cost lands on the span that
runs the action.
"""

from __future__ import annotations

import contextvars
import functools
import importlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

PKG = "retrieval_augmented_generation_rag_data_pipeline_spark"

# (module under PKG, attribute, span name)
TARGETS = [
    ("plans.pipeline", "prepare_corpus", "pipeline.prepare_corpus"),
    ("plans.pipeline", "run_once", "pipeline.run_once"),
    ("plans.pipeline", "search", "pipeline.search"),
    ("plans.pipeline", "embed_chunks", "pipeline.embed_chunks"),
    # bound into pipeline's namespace at import: wrap the caller's name
    ("plans.pipeline", "chunk_text", "text.chunk_text"),
    ("plans.pipeline", "knn_topk", "vectors.knn_topk"),
    ("operators.text", "quality_filter", "text.quality_filter"),
    ("operators.text", "normalize_text", "text.normalize_text"),
    ("operators.dedup", "dedup_corpus", "dedup.dedup_corpus"),
    ("operators.dedup", "dedup_corpus_edges", "dedup.dedup_corpus_edges"),
    ("operators.dedup", "lsh_candidate_pairs", "dedup.lsh_candidate_pairs"),
    ("operators.dedup", "connected_components", "dedup.connected_components"),
    ("operators.dedup", "cc_first_round", "dedup.cc_round"),
    ("operators.dedup", "cc_jump_round", "dedup.cc_round"),
    ("operators.pinning", "pin", "pinning.pin"),
    ("operators.sampling", "assign_split", "sampling.assign_split"),
    ("sources.sinks", "write_vector_index", "sinks.write_vector_index"),
    ("sources.sinks", "read_vector_index", "sinks.read_vector_index"),
    ("sources.ledger", "load_ledger", "ledger.load_ledger"),
    ("sources.ledger", "pending", "ledger.pending"),
    ("sources.ledger", "append_processed", "ledger.append_processed"),
]


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    parent: int | None = None
    phase: str = ""


# spans whose last return value is kept for a check after the units
CAPTURE = ("dedup.lsh_candidate_pairs",)


@dataclass
class Tracer:
    """Records spans and py4j call commands while installed."""

    spans: list[Span] = field(default_factory=list)
    captured: dict[str, object] = field(default_factory=dict)
    phase: str = "setup"
    py4j_calls: int = 0
    # construct_all worker threads and the streaming callback call py4j
    # from other threads
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _saved: list[tuple[object, str, object]] = field(default_factory=list)
    _gateway_client: object = None
    _cur: contextvars.ContextVar = field(
        default_factory=lambda: contextvars.ContextVar("ragbench_span", default=None)
    )

    # -- spans -----------------------------------------------------------
    def begin(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append(Span(name, time.time(), parent=self._cur.get(), phase=self.phase))
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid].t1 = time.time()

    def call(self, name: str, fn, *args, **kwargs):
        sid = self.begin(name)
        token = self._cur.set(sid)
        try:
            out = fn(*args, **kwargs)
        finally:
            self._cur.reset(token)
            self.end(sid)
        if name in CAPTURE:
            self.captured[name] = out
        return out

    # -- install / uninstall -------------------------------------------
    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return wrapper

    def install(self, spark) -> None:
        if self._saved:
            return
        for mod_name, attr, name in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, name))
        # count py4j CALL commands only ('c'): memory-release commands
        # ('m') follow Python garbage collection and do not repeat
        gc = spark.sparkContext._gateway._gateway_client
        orig = gc.send_command

        def send_command(command, *a, **k):
            if command.startswith("c\n"):
                with self._lock:
                    self.py4j_calls += 1
            return orig(command, *a, **k)

        gc.send_command = send_command
        self._gateway_client = gc

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()
        if self._gateway_client is not None:
            del self._gateway_client.send_command  # back to the class method
            self._gateway_client = None

    def of(self, phase: str, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.phase == phase and (name is None or s.name == name)
        ]


# -- Spark event log ------------------------------------------------------

@dataclass
class Job:
    job_id: int
    t0: float
    t1: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    stage_tasks: dict[int, list[dict]]  # executed stage -> task metrics

    @classmethod
    def read(cls, events_dir: str) -> "EventLog":
        """Parse the (finished) event log of the one application that
        wrote into ``events_dir``."""
        files = [f for f in os.listdir(events_dir) if not f.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {events_dir}, got {files}")
        jobs: dict[int, Job] = {}
        stage_tasks: dict[int, list[dict]] = {}
        with open(os.path.join(events_dir, files[0])) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                        list(ev["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    stage_tasks.setdefault(ev["Stage ID"], []).append(
                        ev.get("Task Metrics") or {}
                    )
        return cls(sorted(jobs.values(), key=lambda j: j.job_id), stage_tasks)

    def jobs_in(self, t0: float, t1: float) -> list[Job]:
        return [j for j in self.jobs if t0 <= j.t0 <= t1]

    def stages_of(self, jobs: list[Job]) -> list[int]:
        """Stages that executed for these jobs (skipped stages never
        report a task; a stage shared with an earlier job ran there)."""
        first = min((j.job_id for j in jobs), default=0)
        seen = {s for j in self.jobs if j.job_id < first for s in j.stages}
        out = []
        for j in jobs:
            for s in j.stages:
                if s not in seen and s in self.stage_tasks:
                    out.append(s)
                seen.add(s)
        return out


def busy_seconds(jobs: list[Job], t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by at least one running job."""
    iv = sorted((max(j.t0, t0), min(j.t1, t1)) for j in jobs)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def spark_totals(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Stage, task and executor totals of these jobs."""
    stages = log.stages_of(jobs)
    tasks = [m for s in stages for m in log.stage_tasks[s]]

    def tot(key, sub=None):
        if sub:
            return sum((m.get(sub) or {}).get(key, 0) for m in tasks)
        return sum(m.get(key, 0) for m in tasks)

    return {
        "stages": len(stages),
        "tasks": len(tasks),
        "executor_run_s": tot("Executor Run Time") / 1e3,
        "executor_cpu_s": tot("Executor CPU Time") / 1e9,
        "shuffle_write_mb": tot("Shuffle Bytes Written", "Shuffle Write Metrics") / 2**20,
        "spill_mb": (tot("Memory Bytes Spilled") + tot("Disk Bytes Spilled")) / 2**20,
        "gc_s": tot("JVM GC Time") / 1e3,
    }
