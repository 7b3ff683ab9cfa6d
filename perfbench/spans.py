"""Traced runs: spans around the engine's layer entry points, plus the
work counts Spark and py4j expose from outside the program.

Nothing here is imported by an untraced run, so tracing off costs
nothing. A traced run installs a ``Tracer`` after the warm-up passes:

- every public function of the traced modules is wrapped *where it is
  looked up* (each module of the package that imported it gets the
  wrapper), so ``pipeline.write_table`` is traced, not only
  ``writers.write_table``. A wrapper calls the original and returns its
  result unchanged;
- each span tags its Spark jobs with a job group (``pb:<span id>``), so
  status-store jobs and stages attribute to spans; jobs started on other
  threads (streaming) attribute to the innermost span open when they
  were submitted;
- py4j commands from the client thread are counted by command type in
  the gateway client's ``send_command``; GC-release (``m``) commands are
  counted apart, because their number depends on when Python collects;
- construction time excludes the time in which Spark executed: a
  construction span that runs a job (an eager ``count``, a
  ``localCheckpoint``, an index probe) or drains a stream counts that
  time as execution, not as plan construction;
- Catalyst phases come from a ``QueryExecutionListener``, i.e. from the
  plans that actually executed;
- jobs, stages, SQL operator metrics and streaming progress are read
  from Spark's status store and the query objects after each traced
  pass, never inside it.

Spans stay in memory and are written out by ``Tracer.write`` at the end
of the run (see README.md, "Reading the span file").
"""

from __future__ import annotations

import bisect
import functools
import inspect
import json
import operator
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PACKAGE = "spotify_tracks_etl_portfolio_spark"

#: (module, layer) pairs whose public functions get spans. The layer is
#: the span-name prefix used by the per-layer metrics.
TRACED_MODULES = [
    ("sources.readers", "readers"),
    ("sources.writers", "writers"),
    ("sources.cowtable", "cowtable"),
    ("pipeline", "pipeline"),
    ("operators.medallion", "medallion"),
    ("operators.stats", "stats"),
    ("streaming.pipeline", "streaming"),
    ("streaming.stateful", "streaming"),
    ("operators.multimodal", "pyworker"),
    ("operators.similarity", "pyworker"),
]
#: Spans whose callee builds a DataFrame (or stream writer) rather than
#: running an action; the ``plans.*`` metrics count py4j traffic here.
CONSTRUCT_LAYERS = {"plans", "medallion"}
CONSTRUCT_FUNCS = {
    "readers.read_csv", "readers.read_parquet_table", "readers.read_parquet_memo",
    "streaming.read_events_stream", "streaming.streaming_silver_events",
    "streaming.streaming_sessionize", "cowtable.read_table",
}
SPAN_NAMES = {
    "pipeline.run_bronze_ingest": "pipeline.bronze",
    "pipeline.run_silver_transform": "pipeline.silver",
}
PYTHON_NODES = re.compile(
    r"^(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas|"
    r"MapInArrow|PythonMapInArrow|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|FlatMapGroupsInArrow|ArrowEvalPythonUDTF|BatchEvalPythonUDTF|"
    r"FlatMapGroupsInPandasWithState|TransformWithStateInPandas)"
)
_STAGE_REF = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    kind: str
    parent: int | None
    pass_id: int | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    py4j_s: float = 0.0
    py4j_gc_cmds: int = 0
    #: seconds of the span during which a Spark job or a stream drain ran
    exec_s: float = 0.0
    jobs: list[int] = field(default_factory=list)
    info: dict = field(default_factory=dict)


class Py4jCounter:
    """Counts commands the client thread sends through the py4j gateway,
    by command type (first protocol line: ``c`` call, ``r`` reflection,
    ``i`` constructor, ...), and their wall time. Calls made by the
    tracer itself are not counted. GC-release commands (``m``) are
    counted apart: py4j's finalizer thread sends them whenever Python
    collects a proxy, so their number does not repeat. While a pass is
    traced, each counted command's (start, end) is kept in ``calls``."""

    def __init__(self, client) -> None:
        self.client = client
        self.orig = client.send_command
        self.thread = threading.get_ident()
        self.by_type: dict[str, int] = {}
        self.gc = 0
        self.seconds = 0.0
        self.quiet = 0
        self.calls: list[tuple[float, float]] = []
        self.recording = False
        client.send_command = self._send

    def _send(self, command, *args, **kwargs):
        kind = command[:1]
        if kind == "m":
            self.gc += 1
            return self.orig(command, *args, **kwargs)
        if self.quiet or threading.get_ident() != self.thread:
            return self.orig(command, *args, **kwargs)
        t0 = time.time()
        try:
            return self.orig(command, *args, **kwargs)
        finally:
            t1 = time.time()
            self.seconds += t1 - t0
            self.by_type[kind] = self.by_type.get(kind, 0) + 1
            if self.recording:
                self.calls.append((t0, t1))

    def totals(self) -> tuple[int, int, float]:
        return sum(self.by_type.values()), self.gc, self.seconds

    def uninstall(self) -> None:
        self.client.send_command = self.orig


class _Traced:
    """Callable stand-in for a module-level function. Pickles as the
    original, so a UDF closure that references a traced function still
    ships to Python workers."""

    def __init__(self, tracer: "Tracer", fn, name: str, kind: str) -> None:
        functools.update_wrapper(self, fn)
        self._tracer, self._name, self._kind = tracer, name, kind

    def __call__(self, *args, **kwargs):
        if self._tracer.pass_id is None:  # an untraced pass of a traced run
            return self.__wrapped__(*args, **kwargs)
        with self._tracer.span(self._name, self._kind) as sp:
            out = self.__wrapped__(*args, **kwargs)
            if isinstance(out, dict) and "files_rewritten" in out:
                sp.info["files_rewritten"] = out["files_rewritten"]
            return out

    def __reduce__(self):
        return (operator.itemgetter(0), ((self.__wrapped__,),))


class _CatalystListener:
    """``QueryExecutionListener`` implemented over the py4j callback
    server: records the tracker phases of every executed plan."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        with self.tracer.lock:
            self.tracer.catalyst_events.append(phases)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.pass_id: int | None = None
        self.pass_metrics: dict[int, dict] = {}
        self.lock = threading.Lock()
        self.catalyst_events: list[dict] = []
        self.streams: list = []
        #: (start, end) of stream waits (awaitTermination, processAllAvailable)
        self.stream_waits: list[tuple[float, float]] = []
        #: span id -> slice of ``py4j.calls`` made inside the span
        self._call_range: dict[int, tuple[int, int]] = {}
        #: on-disk bytes of one cowtable update batch (set by the run)
        self.merge_update_bytes = 0
        self._patches: list[tuple[object, str, object]] = []
        self.py4j = Py4jCounter(self.sc._gateway._gateway_client)
        with self.quiet():
            jvm = self.sc._jvm
            self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self.mapper.registerModule(getattr(scala_module, "MODULE$"))
            self.status = self.sc._jsc.sc().statusStore()
            self.sql_status = spark._jsparkSession.sharedState().statusStore()
            self.gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.sc._gateway)
            self.listener = _CatalystListener(self)
            spark._jsparkSession.listenerManager().register(self.listener)

    # -- spans ------------------------------------------------------------

    @contextmanager
    def quiet(self):
        self.py4j.quiet += 1
        try:
            yield
        finally:
            self.py4j.quiet -= 1

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        parent = self.stack[-1] if self.stack else None
        sp = Span(
            id=len(self.spans), name=name, layer=name.split(".", 1)[0], kind=kind,
            parent=parent.id if parent else None, pass_id=self.pass_id,
            start=time.time(),
        )
        self.spans.append(sp)
        self.stack.append(sp)
        with self.quiet():
            self.sc.setJobGroup(f"pb:{sp.id}", name)
        calls0, gc0, s0 = self.py4j.totals()
        i0 = len(self.py4j.calls)
        try:
            yield sp
        finally:
            calls1, gc1, s1 = self.py4j.totals()
            self._call_range[sp.id] = (i0, len(self.py4j.calls))
            sp.py4j_calls, sp.py4j_gc_cmds, sp.py4j_s = calls1 - calls0, gc1 - gc0, s1 - s0
            sp.end = time.time()
            self.stack.pop()
            with self.quiet():
                if parent is not None:
                    self.sc.setJobGroup(f"pb:{parent.id}", parent.name)
                else:
                    self.sc._jsc.clearJobGroup()

    def install(self) -> None:
        """Wrap every public function of ``TRACED_MODULES`` in each
        package module that looks it up, ``Suite.run`` on its class,
        ``DataStreamWriter.start`` to capture streaming queries, and the
        ``StreamingQuery`` waits to time stream drains."""
        import importlib
        import sys

        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        targets: dict[int, tuple[object, str]] = {}
        for mod_name, layer in TRACED_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for attr, fn in vars(mod).items():
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != mod.__name__:
                    continue
                name = SPAN_NAMES.get(f"{layer}.{attr}", f"{layer}.{attr}")
                kind = "construct" if layer in CONSTRUCT_LAYERS or name in CONSTRUCT_FUNCS else "call"
                targets[id(fn)] = (_Traced(self, fn, name, kind), fn)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = targets.get(id(obj))
                if hit is not None and hit[1] is obj:
                    self._patch(mod, attr, hit[0])

        from spotify_tracks_etl_portfolio_spark.operators.dq import Suite

        run = Suite.run
        tracer = self

        @functools.wraps(run)
        def traced_run(suite, df):
            if tracer.pass_id is None:
                return run(suite, df)
            with tracer.span("dq.run"):
                return run(suite, df)

        self._patch(Suite, "run", traced_run)

        start = DataStreamWriter.start

        @functools.wraps(start)
        def traced_start(writer, *args, **kwargs):
            q = start(writer, *args, **kwargs)
            if tracer.pass_id is not None:
                tracer.streams.append((tracer.pass_id, q))
            return q

        self._patch(DataStreamWriter, "start", traced_start)

        for attr in ("awaitTermination", "processAllAvailable"):
            wait = getattr(StreamingQuery, attr)

            def traced_wait(query, *args, _wait=wait, **kwargs):
                if tracer.pass_id is None:
                    return _wait(query, *args, **kwargs)
                t0 = time.time()
                try:
                    return _wait(query, *args, **kwargs)
                finally:
                    tracer.stream_waits.append((t0, time.time()))

            self._patch(StreamingQuery, attr, functools.wraps(wait)(traced_wait))

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()
        with self.quiet():
            self.spark._jsparkSession.listenerManager().unregister(self.listener)
        self.py4j.uninstall()

    # -- passes -----------------------------------------------------------

    def _gc_ms(self) -> int:
        with self.quiet():
            return sum(b.getCollectionTime() for b in self.gc_beans)

    def begin_pass(self, pass_id: int) -> None:
        self._drain()
        with self.lock:
            self.catalyst_events.clear()
        self.stream_waits.clear()
        self.py4j.calls.clear()
        self.py4j.recording = True
        self.pass_id = pass_id
        self._pass_gc0 = self._gc_ms()
        self._pass_t0 = time.time()

    def end_pass(self) -> dict:
        t1 = time.time()
        gc_ms = self._gc_ms() - self._pass_gc0
        pid = self.pass_id
        self.pass_id = None
        self.py4j.recording = False
        self._drain()
        m = self._pass_metrics(pid, self._pass_t0, t1)
        m["jvm.driver_gc_s"] = gc_ms / 1000.0
        self.pass_metrics[pid] = m
        return m

    def _drain(self) -> None:
        with self.quiet():
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _json(self, jobj):
        with self.quiet():
            return json.loads(self.mapper.writeValueAsString(jobj))

    def _pass_metrics(self, pid: int, t0: float, t1: float) -> dict:
        lo, hi = int(t0 * 1000), int(t1 * 1000) + 1
        spans = [s for s in self.spans if s.pass_id == pid]
        by_id = {s.id: s for s in spans}
        jobs = [j for j in self._json(self.status.jobsList(None))
                if lo <= (j.get("submissionTime") or 0) <= hi]
        for j in jobs:
            sp = self._span_for_job(j, by_id, spans)
            if sp is not None:
                sp.jobs.append(j["jobId"])
        job_span = {jid: s for s in spans for jid in s.jobs}
        stage_job = {sid: j["jobId"] for j in jobs for sid in j["stageIds"]}
        with self.quiet():
            no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
            all_stages = self.status.stageList(None, False, False, no_quantiles, None)
        stages = [s for s in self._json(all_stages)
                  if s["stageId"] in stage_job and s["status"] == "COMPLETE"]

        def ancestors(sp):
            while sp is not None:
                yield sp
                sp = by_id.get(sp.parent)

        def in_layer(job_id, layer, name=None):
            sp = job_span.get(job_id)
            return any((a.name == name) if name else (a.layer == layer) for a in ancestors(sp))

        def top_spans(pred):
            out = []
            for s in spans:
                if pred(s) and not any(pred(a) for a in ancestors(by_id.get(s.parent))):
                    out.append(s)
            return out

        def wall(pred):
            return sum(s.end - s.start for s in top_spans(pred))

        def stage_sum(key, pred=lambda jid: True):
            return sum(s[key] for s in stages if pred(stage_job[s["stageId"]]))

        job_iv = [(j["submissionTime"] / 1000.0,
                   (j.get("completionTime") or j["submissionTime"]) / 1000.0) for j in jobs]
        # execution: any job running, or the client waiting on a stream
        busy = _merge(job_iv + self.stream_waits)
        for s in spans:
            s.exec_s = _overlap(busy, s.start, s.end)

        def construct_only(pred):
            """Wall time of the top spans matching ``pred``, less the time
            Spark executed inside them."""
            return sum(s.end - s.start - s.exec_s for s in top_spans(pred))

        construct = top_spans(lambda s: s.kind == "construct")
        calls = [c for s in construct for c in self.py4j.calls[slice(*self._call_range[s.id])]]
        m: dict[str, float] = {
            "plans.construct_s": construct_only(lambda s: s.kind == "construct"),
            "plans.py4j_calls": sum(s.py4j_calls for s in construct),
            "plans.py4j_s": sum(t1 - t0 - _overlap(busy, t0, t1) for t0, t1 in calls),
            "plans.py4j_gc_cmds": sum(s.py4j_gc_cmds for s in construct),
        }
        with self.lock:
            events = list(self.catalyst_events)
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = float(sum(e.get(phase, 0) for e in events))

        run_ms = stage_sum("executorRunTime")
        m.update({
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": stage_sum("numCompleteTasks"),
            "exec.run_s": run_ms / 1000.0,
            "exec.cpu_s": stage_sum("executorCpuTime") / 1e9,
            "exec.gc_s": stage_sum("jvmGcTime") / 1000.0,
            "exec.busy_frac": run_ms / 1000.0 / (self.cores * max(_length(_merge(job_iv)), 1e-9)),
            "exec.task_skew": self._task_skew(stages),
            "exec.shuffle_write_bytes": stage_sum("shuffleWriteBytes"),
            "exec.shuffle_read_bytes": stage_sum("shuffleReadBytes"),
            "exec.shuffle_fetch_wait_s": stage_sum("shuffleFetchWaitTime") / 1000.0,
            "exec.spill_bytes": stage_sum("memoryBytesSpilled") + stage_sum("diskBytesSpilled"),
            "scan.bytes_read": stage_sum("inputBytes"),
            "scan.rows_read": stage_sum("inputRecords"),
            "readers.s": wall(lambda s: s.layer == "readers"),
        })
        sql = self._sql_metrics(lo, hi)
        m["scan.files_read"] = sql["files_read"]
        m["scan.metadata_ms"] = sql["metadata_ms"]

        writer_jobs = lambda jid: in_layer(jid, "writers")  # noqa: E731
        m.update({
            "writers.s": wall(lambda s: s.layer == "writers"),
            "writers.files_written": sql["files_written_by_job"](writer_jobs),
            "writers.bytes_written": stage_sum("outputBytes", writer_jobs),
            "writers.rows_written": stage_sum("outputRecords", writer_jobs),
        })
        pipe_jobs = lambda jid: in_layer(jid, "pipeline")  # noqa: E731
        loaded = stage_sum("outputRecords", pipe_jobs)
        dq_jobs = [j for j in jobs if in_layer(j["jobId"], "dq")]
        m.update({
            "pipeline.bronze_s": wall(lambda s: s.name == "pipeline.bronze"),
            "pipeline.silver_s": wall(lambda s: s.name == "pipeline.silver"),
            "pipeline.rows_read_per_row_loaded":
                stage_sum("inputRecords", pipe_jobs) / loaded if loaded else 0.0,
            "dq.s": wall(lambda s: s.layer == "dq"),
            "dq.jobs": len(dq_jobs),
            "medallion.construct_s": construct_only(lambda s: s.layer == "medallion"),
        })
        merges = [s for s in spans if s.name == "cowtable.merge_into"]
        merge_jobs = lambda jid: in_layer(jid, None, "cowtable.merge_into")  # noqa: E731
        update_bytes = self.merge_update_bytes * len(merges)
        m.update({
            "cowtable.merge_s": sum(s.end - s.start for s in merges),
            "cowtable.files_rewritten": sum(s.info.get("files_rewritten", 0) for s in merges),
            "cowtable.bytes_rewritten_per_update_byte":
                stage_sum("outputBytes", merge_jobs) / update_bytes if update_bytes else 0.0,
        })
        m.update(self._stream_metrics(pid))
        m.update(self._pyworker_metrics(sql["python_nodes"], stages))
        return m

    def _span_for_job(self, job, by_id, spans):
        group = job.get("jobGroup") or ""
        if group.startswith("pb:") and int(group[3:]) in by_id:
            return by_id[int(group[3:])]
        t = job["submissionTime"] / 1000.0
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def _task_skew(self, stages) -> float:
        """max/median task run time in the stage with the most executor
        run time among stages of at least two tasks."""
        multi = [s for s in stages if s["numCompleteTasks"] >= 2]
        if not multi:
            return 1.0
        worst = max(multi, key=lambda s: (s["executorRunTime"], s["stageId"]))
        with self.quiet():
            qs = self.sc._gateway.new_array(self.sc._jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            summary = self.status.taskSummary(worst["stageId"], worst["attemptId"], qs)
            if summary.isEmpty():
                return 1.0
            med, mx = self._json(summary.get())["executorRunTime"]
        return mx / med if med > 0 else 1.0

    def _sql_metrics(self, lo: int, hi: int) -> dict:
        with self.quiet():
            n = self.sql_status.executionsCount()
            execs = self._json(self.sql_status.executionsList(0, int(n)))
        files_read = 0
        metadata_ms = 0.0
        written: list[tuple[set, int]] = []
        python_nodes: list[dict] = []
        for e in execs:
            if not lo <= (e.get("submissionTime") or 0) <= hi:
                continue
            names = {str(x["accumulatorId"]): x["name"] for x in e["metrics"]}
            wanted = {"number of files read", "metadata time", "number of written files",
                      "data sent to Python workers"}
            if not wanted & set(names.values()):
                continue
            values = self._json(self.sql_status.executionMetrics(e["executionId"]))
            for acc, name in names.items():
                v = values.get(acc)
                if v is None:
                    continue
                if name == "number of files read":
                    files_read += _parse_count(v)
                elif name == "metadata time":
                    metadata_ms += _parse_time_ms(v)
                elif name == "number of written files":
                    written.append((set(e.get("jobs", {}) or []), _parse_count(v)))
            if "data sent to Python workers" in names.values():
                python_nodes += self._python_nodes(e["executionId"], values)

        def files_written_by_job(pred) -> int:
            return sum(n for jobs, n in written if any(pred(int(j)) for j in jobs))

        return {"files_read": files_read, "metadata_ms": metadata_ms,
                "files_written_by_job": files_written_by_job, "python_nodes": python_nodes}

    def _python_nodes(self, execution_id: int, values: dict) -> list[dict]:
        graph = self._json(self.sql_status.planGraph(execution_id))
        nodes = []
        stack = list(graph.get("allNodes") or graph.get("nodes") or [])
        while stack:
            node = stack.pop()
            stack.extend(node.get("nodes") or [])
            if not PYTHON_NODES.match(node.get("name", "")):
                continue
            out = {"sent": 0, "received": 0, "rows": 0, "stages": set()}
            for metric in node.get("metrics", []):
                v = values.get(str(metric["accumulatorId"]))
                if v is None:
                    continue
                out["stages"].update(int(s) for s in _STAGE_REF.findall(v))
                if metric["name"] == "data sent to Python workers":
                    out["sent"] += _parse_size(v)
                elif metric["name"] == "data returned from Python workers":
                    out["received"] += _parse_size(v)
                elif metric["name"] == "number of output rows":
                    out["rows"] += _parse_count(v)
            nodes.append(out)
        return nodes

    def _pyworker_metrics(self, nodes: list[dict], stages: list[dict]) -> dict:
        run_ms = {s["stageId"]: s["executorRunTime"] for s in stages}
        stage_ids = set().union(*(n["stages"] for n in nodes)) if nodes else set()
        return {
            "pyworker.bytes_sent": sum(n["sent"] for n in nodes),
            "pyworker.bytes_received": sum(n["received"] for n in nodes),
            "pyworker.rows_received": sum(n["rows"] for n in nodes),
            "pyworker.stage_run_s": sum(run_ms.get(s, 0) for s in stage_ids) / 1000.0,
        }

    def _stream_metrics(self, pid: int) -> dict:
        triggers: list[float] = []
        rows = 0
        state_rows = state_bytes = 0
        for qpid, q in self.streams:
            if qpid != pid:
                continue
            with self.quiet():
                progress = [json.loads(p.json()) for p in q._jsq.recentProgress()]
            for p in progress:
                triggers.append(float(p["durationMs"].get("triggerExecution", 0)))
                rows += p.get("numInputRows", 0)
            if progress:
                ops = progress[-1].get("stateOperators") or []
                state_rows += sum(o.get("numRowsTotal", 0) for o in ops)
                state_bytes += sum(o.get("memoryUsedBytes", 0) for o in ops)
        return {
            "streaming.triggers": len(triggers),
            "streaming.trigger_p50_ms": _quantile(triggers, 0.5),
            "streaming.trigger_p90_ms": _quantile(triggers, 0.9),
            "streaming.rows_per_s": rows / (sum(triggers) / 1000.0) if triggers and sum(triggers) else 0.0,
            "streaming.state_rows": state_rows,
            "streaming.state_bytes": state_bytes,
        }

    # -- output -----------------------------------------------------------

    def write(self, path: str, extra: dict) -> None:
        children: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + (s.end - s.start)
        out = []
        for s in self.spans:
            d = asdict(s)
            d["dur_s"] = s.end - s.start
            d["self_s"] = d["dur_s"] - children.get(s.id, 0.0)
            out.append(d)
        with open(path, "w") as fh:
            json.dump({**extra, "py4j_by_type": self.py4j.by_type, "py4j_gc_cmds": self.py4j.gc,
                       "passes": self.pass_metrics, "spans": out}, fh, indent=1)


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Sorted, disjoint union of ``intervals``."""
    out: list[list[float]] = []
    for lo, hi in sorted(intervals):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [(lo, hi) for lo, hi in out]


def _overlap(merged: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the disjoint, sorted ``merged``."""
    i = bisect.bisect_right(merged, (lo, float("inf"))) - 1
    total = 0.0
    for a, b in merged[max(i, 0):]:
        if a >= hi:
            break
        total += max(0.0, min(b, hi) - max(a, lo))
    return total


def _length(merged: list[tuple[float, float]]) -> float:
    """Seconds covered by the disjoint intervals ``merged``."""
    return sum(hi - lo for lo, hi in merged)


def _quantile(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def _first_line_value(v: str) -> str:
    """SQL metric strings are either a bare value or
    ``total (min, med, max ...)\\n<total> (<min>, ...)``."""
    lines = v.split("\n")
    return lines[1].split(" (")[0] if len(lines) > 1 else lines[0]


def _parse_count(v: str) -> int:
    return int(_first_line_value(v).replace(",", "") or 0)


def _parse_size(v: str) -> int:
    num, unit = _first_line_value(v).split()
    return int(float(num) * _SIZE_UNITS[unit])


def _parse_time_ms(v: str) -> float:
    num, unit = _first_line_value(v).split()
    return float(num) * _TIME_UNITS[unit]
