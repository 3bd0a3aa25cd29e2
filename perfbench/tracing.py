"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Layers are the package's modules. Spans are recorded from this file
only, by wrapping the public functions that ``plans/pipeline.py`` and
``__main__.convert_bytes`` look up by name at call time, so no program
file changes:

- a *build* span times a public operator call (lazy DataFrame
  construction plus any eager checkpoint jobs it runs);
- an *exec* span times a stage's ``SnapshotStore.commit`` (write plus
  footer read) or, for the one-document surface, the rest of
  ``convert_bytes`` (the collect).

Each span sets a Spark job group ``<layer>.<phase>`` on its thread, so
executor figures (task run/CPU time, shuffle bytes, spill) are read
back per layer from ``statusTracker`` and the status store after the
operation. Thread pools started inside a span inherit its layer and job
group. A counter around ``GatewayClient.send_command`` charges every
py4j round trip to the innermost layer of the sending thread, except
object releases, which py4j sends from its own thread.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from py4j.java_gateway import GatewayClient
from py4j.protocol import Py4JJavaError

# the layers that own public operator calls; "pipeline" is the
# orchestration around them and "sources" the input read
LAYERS = ("sources", "parse", "assemble", "interactions", "triples",
          "linking", "canonicalize", "export")

# which layer produced each committed pipeline stage
STAGE_LAYER = {
    "mentions": "parse", "quarantine": "parse", "text": "parse",
    "nodes": "assemble", "edges": "assemble", "citations": "assemble",
    "vocabularies": "assemble", "pathways": "assemble",
    "interactions": "interactions", "triples": "triples",
    "linked": "linking", "canonical_triples": "canonicalize",
    "documents": "export",
}

EXECUTOR_FIELDS = ("task_run_s", "task_cpu_s", "shuffle_read_mb",
                   "shuffle_write_mb", "spill_mb")

_MB = float(1 << 20)

# py4j's "memory delete" command: a JavaObject proxy was collected
_RELEASE = "m\nd\n"


def _build_hooks():
    """(module, attribute, layer) for every public call to span."""
    from gpml2pvjson_js_spark.operators import assemble, export
    from gpml2pvjson_js_spark.plans import pipeline
    from gpml2pvjson_js_spark.sources import pages
    return [
        (pages, "read_pages", "sources"),
        (pipeline, "parse_gpml", "parse"),
        (pipeline, "extracted_text", "parse"),
        (assemble, "parse_gpml", "parse"),
        (pipeline, "build_document_model", "assemble"),
        (assemble, "build_document_model", "assemble"),
        (pipeline, "classify_interactions", "interactions"),
        (pipeline, "build_triples", "triples"),
        (pipeline, "xref_dictionary", "linking"),
        (pipeline, "link_entities", "linking"),
        (pipeline, "canonicalize_linked", "canonicalize"),
        (pipeline, "rewrite_triples", "canonicalize"),
        (export, "jsonld_documents", "export"),
    ]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Spans, job groups and py4j counts for one traced operation.

    Use as a context manager around the operation; it installs its
    patches on entry and removes them on exit."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._thread_counts: list[dict] = []
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._patches: list[tuple[object, str, object]] = []
        self._first_job = 0
        self._send_cost_s = 0.0

    # -- per-thread context ------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _counts(self) -> dict:
        c = getattr(self._tls, "counts", None)
        if c is None:
            c = self._tls.counts = {}
            with self._lock:
                self._thread_counts.append(c)
        return c

    def _count_send(self, command: str) -> None:
        st = getattr(self._tls, "stack", None)
        if command.startswith(_RELEASE):
            key = "release"
        elif getattr(self._tls, "internal", False):
            key = "trace"
        else:
            key = st[-1]["layer"] if st else "pipeline"
        c = self._counts()
        c[key] = c.get(key, 0) + 1

    def _set_group(self, group: str | None) -> None:
        """Point this thread's Spark job group at `group`; the round
        trips it costs are charged to the tracer, not a layer."""
        if getattr(self._tls, "group", None) == group:
            return
        self._tls.internal = True
        try:
            if group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(group, group)
        finally:
            self._tls.internal = False
        self._tls.group = group

    def _enter(self, layer: str, phase: str, record: bool) -> None:
        t = time.perf_counter()
        self._stack().append({"layer": layer, "phase": phase,
                              "t0": t, "child_s": 0.0, "record": record})
        self._set_group(f"{layer}.{phase}")
        self._add_bookkeeping(time.perf_counter() - t)

    def _exit(self) -> None:
        t1 = time.perf_counter()
        st = self._stack()
        top = st.pop()
        if top["record"]:
            dur = t1 - top["t0"]
            if st:
                st[-1]["child_s"] += dur
            span = {"layer": top["layer"], "phase": top["phase"],
                    "t0": top["t0"], "t1": t1,
                    "self_s": dur - top["child_s"],
                    "nested": any(s["record"] and s["layer"] != "pipeline"
                                  for s in st)}
            with self._lock:
                self.spans.append(span)
        self._set_group(f"{st[-1]['layer']}.{st[-1]['phase']}"
                        if st else None)
        self._add_bookkeeping(time.perf_counter() - t1)

    def _add_bookkeeping(self, dt: float) -> None:
        with self._lock:
            self.bookkeeping_s += dt

    @contextlib.contextmanager
    def span(self, layer: str, phase: str):
        self._enter(layer, phase, record=True)
        try:
            yield
        finally:
            self._exit()

    # -- patching ----------------------------------------------------

    def _patch(self, owner, name: str, replacement) -> None:
        self._patches.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, replacement)

    def _wrap(self, fn, layer: str, phase: str):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(layer, phase):
                return fn(*args, **kwargs)

        return wrapped

    def _install(self) -> None:
        from gpml2pvjson_js_spark.plans.pipeline import SnapshotStore
        tracer = self

        for module, attr, layer in _build_hooks():
            self._patch(module, attr,
                        self._wrap(getattr(module, attr), layer, "build"))

        commit = SnapshotStore.commit

        def traced_commit(store, df, stage, *args, **kwargs):
            with tracer.span(STAGE_LAYER.get(stage, "pipeline"), "exec"):
                return commit(store, df, stage, *args, **kwargs)

        self._patch(SnapshotStore, "commit", traced_commit)

        send = GatewayClient.send_command

        def counted_send(client, command, retry=True, binary=False):
            tracer._count_send(command)
            return send(client, command, retry, binary)

        self._patch(GatewayClient, "send_command", counted_send)

        submit = ThreadPoolExecutor.submit

        def inheriting_submit(executor, fn, /, *args, **kwargs):
            st = getattr(tracer._tls, "stack", None)
            if not st:
                return submit(executor, fn, *args, **kwargs)
            layer, phase = st[-1]["layer"], st[-1]["phase"]

            def run(*a, **k):
                tracer._enter(layer, phase, record=False)
                try:
                    return fn(*a, **k)
                finally:
                    tracer._exit()

            return submit(executor, run, *args, **kwargs)

        self._patch(ThreadPoolExecutor, "submit", inheriting_submit)

    def _calibrate_send_cost(self, n: int = 20000) -> float:
        """Seconds the send counter adds to one py4j round trip."""
        counts = self._counts()
        self._stack().append({"layer": "calibration", "record": False})
        t = time.perf_counter()
        for _ in range(n):
            self._count_send("c\n")
        cost = (time.perf_counter() - t) / n
        self._stack().pop()
        counts.pop("calibration", None)
        return cost

    def __enter__(self):
        self._first_job = self._job_count()
        self._send_cost_s = self._calibrate_send_cost()
        self._install()
        return self

    def __exit__(self, *exc):
        for owner, name, original in reversed(self._patches):
            setattr(owner, name, original)
        self._patches.clear()
        return False

    # -- read-back ---------------------------------------------------

    def _job_count(self) -> int:
        return self.sc._jsc.sc().statusStore().jobsList(None).size()

    def py4j_calls(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        with self._lock:
            for c in self._thread_counts:
                for k, v in c.items():
                    out[k] += v
        return dict(out)

    def overhead_s(self) -> float:
        """Time the tracing code itself added, summed over threads:
        span/job-group bookkeeping plus the calibrated cost of the
        send counter on every counted round trip."""
        sends = sum(self.py4j_calls().values())
        return self.bookkeeping_s + sends * self._send_cost_s

    def executor_metrics(self) -> dict[str, dict[str, float]]:
        """Jobs and completed-stage task metrics per layer, from the
        job groups the spans set. Jobs of this operation that carry no
        group are charged to "pipeline". Each stage counts once."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        groups = [(f"{layer}.{phase}", layer)
                  for layer in LAYERS for phase in ("build", "exec")]
        groups += [("pipeline.run", "pipeline"), (None, "pipeline")]
        out: dict[str, dict[str, float]] = {
            layer: dict.fromkeys(("jobs",) + EXECUTOR_FIELDS, 0.0)
            for layer in LAYERS + ("pipeline",)}
        seen: set[int] = set()
        for group, layer in groups:
            m = out[layer]
            for jid in sorted(tracker.getJobIdsForGroup(group)):
                if jid < self._first_job:
                    continue
                m["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    if sid in seen:
                        continue
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue  # skipped stage: never ran
                    if str(sd.status()) != "COMPLETE":
                        continue
                    seen.add(sid)
                    m["task_run_s"] += sd.executorRunTime() / 1e3
                    m["task_cpu_s"] += sd.executorCpuTime() / 1e9
                    m["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
                    m["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                    m["spill_mb"] += sd.diskBytesSpilled() / _MB
        return out

    def executor_busy_s(self) -> float:
        """Wall time during which at least one Spark job of this
        operation was running: the union of the jobs' submission to
        completion intervals."""
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        intervals = []
        for k in range(jobs.size()):
            jd = jobs.apply(k)
            if jd.jobId() < self._first_job:
                continue
            start, end = jd.submissionTime(), jd.completionTime()
            if start.isDefined() and end.isDefined():
                intervals.append((start.get().getTime() / 1e3,
                                  end.get().getTime() / 1e3))
        return union_s(intervals)

    def layer_times(self, wall_s: float) -> dict[str, float]:
        """build_s/exec_s self time per layer, plus the wall time no
        layer span covers and the time layer spans overlap. The
        pipeline's own span only waits on its stage threads, so it
        is not a layer span here."""
        out: dict[str, float] = {f"{layer}.{phase}_s": 0.0
                                 for layer in LAYERS
                                 for phase in ("build", "exec")}
        outer = []
        for s in self.spans:
            if s["layer"] == "pipeline":
                continue
            out[f"{s['layer']}.{s['phase']}_s"] += s["self_s"]
            if not s["nested"]:
                outer.append((s["t0"], s["t1"]))
        covered = union_s(outer)
        out["pipeline.overlap_s"] = sum(b - a for a, b in outer) - covered
        out["pipeline.unattributed_s"] = max(wall_s - covered, 0.0)
        return out
