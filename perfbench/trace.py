"""Spans around the benchmark's calls into the engine, with Spark deltas.

Every public call the workloads make runs in a span (name, start, end,
parent, request id). Each span runs its Spark jobs under a job group of
its own, so when it ends the tracer reads, from Spark's core status
store, exactly the jobs it caused: jobs, stages, tasks, executor
run/CPU time, input, output and shuffle bytes of every stage that ran.
The end-to-end work counts come from these, in every run; the reads
happen after the span's clock has stopped.

A detailed tracer (traced runs) adds:

* the Python-worker metrics (``PythonSQLMetrics``) of every SQL
  execution of the span's jobs, read from Spark's SQL status store,
  exactly from the live accumulators or, once Spark has dropped them,
  from the store's rendered totals;
* ``fsio`` call counts, from wrappers installed around the module's
  public functions;
* child spans from :meth:`Tracer.wrap`.

Spans are kept in memory; traced runs write them out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from search_engine_spark import fsio

STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}
PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
COUNTERS = (
    ["jobs", "stages", "tasks", "fsio_ops"]
    + list(STAGE_FIELDS)
    + list(PYTHON_METRICS.values())
)
FSIO_FUNCTIONS = (
    "exists", "mkdirs", "delete", "rename", "read_text", "write_text_atomic",
    "read_text_atomic", "read_json", "read_json_atomic", "write_json_atomic",
    "listdir", "tree_bytes", "has_file_with_suffix",
)


_UNITS = {
    "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def _parse_rendered(text: str) -> int:
    """Total of a rendered SQL metric (``"total (min, med, max ...)\n1.2 MiB
    (...)"`` or ``"1.2 MiB"``), in ms or bytes; 3 significant digits."""
    line = text.strip().split("\n")[-1].split(" (")[0].strip()
    parts = line.split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0
    return int(round(value * _UNITS.get(parts[1], 1) if len(parts) > 1 else value))


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark, detail: bool):
        self.detail = detail
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_execution = 0
        self._executions: dict[frozenset, dict] = {}
        self._fsio_depth = 0
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        if detail:
            self._install_fsio_counters()

    # -------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else len(self.spans),
            **attrs,
            **{c: 0 for c in COUNTERS},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-{rec['id']}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.self_s += time.perf_counter() - t_in
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException:
            # the call failed or the run is being stopped: leave the
            # counters at 0, and let no JVM error from restoring the job
            # group hide the original exception
            rec["end"] = time.perf_counter()
            self._stack.pop()
            with contextlib.suppress(Exception):
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            raise
        rec["end"] = time.perf_counter()
        t_out = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
        self._stack.pop()
        self._collect(rec, group)
        if parent is not None:
            for c in COUNTERS:
                parent[c] += rec[c]
        self.self_s += time.perf_counter() - t_out

    def wrap(self, obj, method: str, name: str) -> None:
        """Make ``obj.method`` open a span named ``name`` on every call
        (nested calls made by the engine itself included); detailed
        tracers only."""
        fn = getattr(obj, method, None)
        if fn is None or not self.detail:
            return

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, traced)

    # -------------------------------------------------------------- fsio
    def _install_fsio_counters(self) -> None:
        for fname in FSIO_FUNCTIONS:
            fn = getattr(fsio, fname, None)
            if fn is None or getattr(fn, "_perfbench", False):
                continue
            setattr(fsio, fname, self._count_fsio(fn))

    def _count_fsio(self, fn):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            # count the outermost call only (helpers call each other)
            if self._fsio_depth == 0 and self._stack:
                self._stack[-1]["fsio_ops"] += 1
            self._fsio_depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                self._fsio_depth -= 1

        counted._perfbench = True
        return counted

    # -------------------------------------------------------------- Spark
    def _collect(self, rec: dict, group: str) -> None:
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        rec["jobs"] += len(job_ids)
        if not job_ids:
            return
        # the status listener runs asynchronously: wait until it has
        # seen every job of this span finish
        deadline = time.perf_counter() + 10.0
        stage_ids: set[int] = set()
        for jid in sorted(job_ids):
            while True:
                job = self.store.job(jid)
                if str(job.status()) != "RUNNING" or time.perf_counter() > deadline:
                    break
                time.sleep(0.005)
            stage_ids.update(int(s) for s in _scala_iter(job.stageIds()))
        for sid in sorted(stage_ids):
            st = self.store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += int(st.numTasks())
            for key, getter in STAGE_FIELDS.items():
                rec[key] += int(getattr(st, getter)())
        if self.detail:
            self._collect_python_metrics(rec, job_ids)

    def _collect_python_metrics(self, rec: dict, job_ids: set[int]) -> None:
        """Add the PythonSQLMetrics of the SQL executions that ran the
        span's jobs. Execution ids are dense: each finished execution is
        read once into ``_executions`` and claimed by the span that owns
        its jobs."""
        acc_ctx = self.jvm.org.apache.spark.util.AccumulatorContext
        deadline = time.perf_counter() + 10.0
        while True:
            opt = self.sql_store.execution(self._next_execution)
            if not opt.isDefined():
                break
            ex = opt.get()
            ex_jobs = frozenset(int(j) for j in _scala_iter(ex.jobs().keys()))
            if not ex.completionTime().isDefined():
                # the end event of our own execution may still be queued
                if ex_jobs & job_ids and time.perf_counter() < deadline:
                    time.sleep(0.005)
                    continue
                break
            sums = dict.fromkeys(PYTHON_METRICS.values(), 0)
            rendered = None
            for node in _scala_iter(self.sql_store.planGraph(self._next_execution).allNodes()):
                for m in _scala_iter(node.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    if key is None:
                        continue
                    acc = acc_ctx.get(m.accumulatorId())
                    if acc.isDefined():
                        sums[key] += int(acc.get().value())
                        continue
                    # accumulators are weakly held: once the plan is
                    # collected, fall back to the store's rendered total
                    if rendered is None:
                        rendered = self.sql_store.executionMetrics(self._next_execution)
                    text = rendered.get(m.accumulatorId())
                    if text.isDefined():
                        sums[key] += _parse_rendered(text.get())
            if ex_jobs:
                self._executions[ex_jobs] = sums
            self._next_execution += 1
        for ex_jobs in [j for j in self._executions if j <= job_ids]:
            for key, value in self._executions.pop(ex_jobs).items():
                rec[key] += value

    # -------------------------------------------------------------- output
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
