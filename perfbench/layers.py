"""Layer tracing from outside the package, for ``--trace 1`` runs.

The benchmark never edits the package.  It wraps the public function
of each layer (and a few PySpark entry points) with a span recorder:

* ``sources``   ``sources.tables.table``, ``sources.text.read_text_corpus``
* ``operators`` each registered ``Query.spark_fn`` (spanned by the
                runner), ``operators.wordcount.wordcount``,
                ``operators.inverted_index.inverted_index``
* ``plans``     ``plans.checkpoint.iter_checkpoint`` and every
                ``DataFrame.localCheckpoint`` / ``checkpoint`` pin
* ``exec``      the final action: ``DataFrameWriter.save`` / ``text``
* ``sinks``     ``sinks.text.write_kv_text``

The ``session`` layer (``get_spark``) is measured end to end by
``setup_s``.

Each span sets its own Spark job group, so every job Spark launches is
attributed to the innermost span that caused it; stage metrics are read
afterwards from Spark's status store.  Py4J round trips are counted by
wrapping ``GatewayClient.send_command`` and charged to the innermost
span.  Spans stay in memory and are written out when the run ends.
Wrappers must be installed before the registry imports the operator
modules, because operators bind ``from ..tables import table`` at
import time; ``install`` also rebinds any reference imported earlier.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PKG = "grpc_map_reduce_spark"

#: (layer, module, function) wrapped by ``install``.
FUNCTION_TARGETS = (
    ("sources", f"{_PKG}.sources.tables", "table"),
    ("sources", f"{_PKG}.sources.text", "read_text_corpus"),
    ("operators", f"{_PKG}.operators.wordcount", "wordcount"),
    ("operators", f"{_PKG}.operators.inverted_index", "inverted_index"),
    ("plans", f"{_PKG}.plans.checkpoint", "iter_checkpoint"),
    ("sinks", f"{_PKG}.sinks.text", "write_kv_text"),
)

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9.,]*) (B|KiB|MiB|GiB|TiB)")


@dataclass
class Span:
    layer: str
    name: str
    op: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    py4j: int = 0
    jobs: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Tracer:
    """Span recorder.  ``on`` is toggled per pass, so one traced run
    also measures untraced passes with the wrappers in place."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op = ""
        self.sc = None
        self._internal = False

    # -- span bookkeeping ------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        self._internal = True
        try:
            if group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(group, "perfbench")
        finally:
            self._internal = False

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.on or self.sc is None:
            yield None
            return
        idx = len(self.spans)
        sp = Span(layer, name, self.op, self.stack[-1] if self.stack else None,
                  f"perfbench-{os.getpid()}-{idx}")
        self.spans.append(sp)
        self.stack.append(idx)
        self._set_group(sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self._set_group(self.spans[self.stack[-1]].group if self.stack else None)

    def count_py4j(self) -> None:
        if self.on and self.stack and not self._internal:
            self.spans[self.stack[-1]].py4j += 1

    # -- installation ----------------------------------------------------
    def wrap(self, layer: str, name: str, fn, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            with tracer.span(layer, name) as sp:
                out = fn(*args, **kwargs)
                if after is not None and sp is not None:
                    after(sp, args, kwargs)
                return out

        return wrapper

    def install(self) -> None:
        """Wrap every layer entry point.  Call before the registry
        loads; any module that already imported an original gets the
        wrapper too."""
        import py4j.java_gateway as jg
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        originals = {}
        for layer, mod_name, attr in FUNCTION_TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            after = _sink_output if layer == "sinks" else None
            wrapped = self.wrap(layer, f"{mod_name.rsplit('.', 1)[-1]}.{attr}", fn, after)
            setattr(mod, attr, wrapped)
            originals[id(fn)] = wrapped
        for layer, cls, attr in (("plans", DataFrame, "localCheckpoint"),
                                 ("plans", DataFrame, "checkpoint"),
                                 ("exec", DataFrameWriter, "save"),
                                 ("exec", DataFrameWriter, "text")):
            setattr(cls, attr, self.wrap(layer, f"{cls.__name__}.{attr}",
                                         getattr(cls, attr)))
        send = jg.GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            tracer.count_py4j()
            return send(client, *args, **kwargs)

        jg.GatewayClient.send_command = send_command
        self.rebind(originals)
        self._originals = originals

    def rebind(self, originals: dict | None = None) -> None:
        """Point every already-imported package module at the wrappers."""
        originals = originals or self._originals
        for name, mod in list(sys.modules.items()):
            if not name.startswith(_PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and w is not val:
                    setattr(mod, attr, w)

    # -- per-pass reduction ---------------------------------------------
    def collect(self, first_span: int, spark) -> dict:
        """Resolve jobs and stage metrics of spans[first_span:] and
        reduce them to the per-layer metrics of one pass."""
        self._internal = True
        try:
            return self._collect(first_span, spark)
        finally:
            self._internal = False

    def _collect(self, first_span: int, spark) -> dict:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # private API; fall back to a short settle
            time.sleep(0.5)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        spans = self.spans[first_span:]
        children: dict[int, float] = {}
        for i, sp in enumerate(spans, start=first_span):
            sp.jobs = list(tracker.getJobIdsForGroup(sp.group))
            if sp.parent is not None:
                children[sp.parent] = children.get(sp.parent, 0.0) + (sp.end - sp.start)
        m = {k: 0.0 for k in LAYER_KEYS}

        def outer(sp: Span) -> bool:
            p = sp.parent
            while p is not None and p >= first_span:
                if self.spans[p].layer == sp.layer:
                    return False
                p = self.spans[p].parent
            return True

        for i, sp in enumerate(spans, start=first_span):
            dur = sp.end - sp.start
            self_s = dur - children.get(i, 0.0)
            if sp.layer == "sources":
                m["sources.jobs"] += len(sp.jobs)
                if outer(sp):
                    m["sources.calls"] += 1
                    m["sources.s"] += dur
            elif sp.layer == "operators":
                m["operators.build_s"] += self_s
                m["operators.py4j_calls"] += sp.py4j
                m["operators.build_jobs"] += len(sp.jobs)
            elif sp.layer == "plans":
                m["plans.pin_jobs"] += len(sp.jobs)
                if outer(sp):
                    m["plans.pin_calls"] += 1
                    m["plans.pin_s"] += dur
            elif sp.layer == "exec":
                m["exec.jobs"] += len(sp.jobs)
                if outer(sp):
                    m["exec.s"] += dur
            elif sp.layer == "sinks" and outer(sp):
                m["sinks.s"] += dur
                m["sinks.bytes_written"] += sp.extra.get("bytes", 0)
                m["sinks.files"] += sp.extra.get("files", 0)
        # Stage metrics: full detail for the final actions; run time
        # only for jobs launched while plans were being built.
        all_run_ms = 0.0
        for sp in spans:
            for jid in sp.jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # stage never ran or was evicted
                        continue
                    run_ms = sd.executorRunTime()
                    all_run_ms += run_ms
                    if sp.layer != "exec":
                        continue
                    m["exec.stages"] += 1
                    m["exec.tasks"] += sd.numTasks()
                    m["exec.failed_tasks"] += sd.numFailedTasks()
                    m["exec.task_run_s"] += run_ms / 1e3
                    m["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
                    m["exec.gc_s"] += sd.jvmGcTime() / 1e3
                    m["exec.input_bytes"] += sd.inputBytes()
                    m["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                    m["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    m["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        m["_all_task_run_s"] = all_run_ms / 1e3
        return m


#: Per-layer metric names reduced from spans (units in BENCHMARK.json).
LAYER_KEYS = (
    "sources.calls", "sources.s", "sources.jobs",
    "operators.build_s", "operators.py4j_calls", "operators.build_jobs",
    "plans.pin_calls", "plans.pin_s", "plans.pin_jobs",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.input_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.failed_tasks",
    "sinks.s", "sinks.bytes_written", "sinks.files",
)


def _sink_output(sp: Span, args, kwargs) -> None:
    path = args[1] if len(args) > 1 else kwargs["path"]
    n = size = 0
    for name in os.listdir(path):
        if name.startswith("part-"):
            n += 1
            size += os.path.getsize(os.path.join(path, name))
    sp.extra = {"bytes": size, "files": n}


class SqlMetricReader:
    """Sums one SQL metric (by its display name) over the SQL
    executions that started since the last call."""

    def __init__(self, spark, description: str) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.description = description
        self.next_id = self._last_id() + 1

    def _last_id(self) -> int:
        n = self.store.executionsCount()
        if n == 0:
            return -1
        return self.store.executionsList(int(n - 1), 1).head().executionId()

    def delta(self) -> int:
        last = self._last_id()
        out = 0
        for eid in range(self.next_id, last + 1):
            opt = self.store.execution(eid)
            if not opt.isDefined():
                continue
            accs = set()
            mit = opt.get().metrics().iterator()
            while mit.hasNext():
                pm = mit.next()
                if pm.name() == self.description:
                    accs.add(pm.accumulatorId())
            if not accs:
                continue
            # Iterate the Map[Long, String]: a Python int key would
            # arrive as a java.lang.Integer and never match.
            vit = self.store.executionMetrics(eid).iterator()
            while vit.hasNext():
                kv = vit.next()
                if kv._1() in accs:
                    out += parse_size(kv._2())
        self.next_id = max(self.next_id, last + 1)
        return out


def parse_size(text: str) -> int:
    """Bytes of a formatted SQL size metric: either ``"1.5 MiB"`` or
    ``"total (min, med, max ...)\\n1.5 MiB (...)"``; the total is the
    first size in the string."""
    m = _SIZE_RE.search(text)
    if not m:
        return 0
    return int(float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)])


def python_data_sent_description(spark) -> str:
    """The display name Spark gives the ``pythonDataSent`` SQL metric."""
    jvm = spark.sparkContext._jvm
    desc = jvm.org.apache.spark.sql.execution.python.PythonSQLMetrics.pythonSizeMetricsDesc()
    opt = desc.get("pythonDataSent")
    return opt.get() if opt.isDefined() else "data sent to Python workers"


class ProcTree:
    """A process and its descendants, read from ``/proc`` (Linux)."""

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, root: int) -> None:
        self.root = root

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                raw = fh.read().decode("utf-8", "replace")
        except OSError:
            return None
        # comm (field 2) may hold spaces; split after its closing paren.
        return raw[raw.rindex(")") + 2:].split()

    def descendants(self) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = self._stat(int(d))
                if st is not None:
                    parent[int(d)] = int(st[1])
        out, frontier = [], [self.root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            out.extend(kids)
            frontier.extend(kids)
        return out

    @staticmethod
    def _cmdline(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
        except OSError:
            return ""

    def peak_rss_bytes(self) -> int:
        """Sum of each live process's peak resident set (VmHWM)."""
        total = 0
        for pid in [self.root, *self.descendants()]:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
            except OSError:
                pass
        return total


class CpuSampler:
    """CPU seconds of this process and all its descendants (the JVM and
    the Python workers) while it runs, plus the CPU and bytes read of
    the ``pyspark.daemon`` tree alone.

    CPU time excludes time the hypervisor stole from the guest, so it
    stays steady on a contended host where wall time does not.  The
    daemon ignores SIGCHLD, so an exited worker's time never reaches
    any parent's child counters; a thread samples every live process
    and keeps the last value it saw."""

    def __init__(self, root: int, interval: float = 0.05) -> None:
        self.root = root
        self.interval = interval
        self.ours: dict[int, bool] = {root: True}
        self.worker: dict[int, bool] = {}
        self.last: dict[int, tuple[float, int]] = {}
        self.base: dict[int, tuple[float, int]] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _is_ours(self, pid: int, st: list[str]) -> bool:
        if pid not in self.ours:
            ppid = int(st[1])
            pst = ProcTree._stat(ppid) if ppid > 1 and ppid not in self.ours else None
            self.ours[pid] = ppid > 1 and (
                self.ours[ppid] if ppid in self.ours
                else pst is not None and self._is_ours(ppid, pst))
            if self.ours[pid]:
                self.worker[pid] = "pyspark.daemon" in ProcTree._cmdline(pid)
        return self.ours[pid]

    def _sample(self) -> None:
        for d in os.listdir("/proc"):
            if not d.isdigit() or self.ours.get(int(d)) is False:
                continue
            pid = int(d)
            st = ProcTree._stat(pid)
            if st is None or not self._is_ours(pid, st):
                continue
            cpu = (int(st[11]) + int(st[12])) / ProcTree.TICK
            read = 0
            if self.worker.get(pid):
                try:
                    with open(f"/proc/{pid}/io") as fh:
                        for line in fh:
                            if line.startswith("rchar:"):
                                read = int(line.split()[1])
                                break
                except OSError:
                    pass
            self.last[pid] = (cpu, read)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self.last.clear()
        self._sample()
        self.base = dict(self.last)
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict[str, float]:
        """{"tree_cpu_s", "pyworker_cpu_s", "pyworker_read_bytes"} since
        ``start``."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        out = {"tree_cpu_s": 0.0, "pyworker_cpu_s": 0.0, "pyworker_read_bytes": 0}
        for pid, (c, r) in self.last.items():
            c0, r0 = self.base.get(pid, (0.0, 0))
            out["tree_cpu_s"] += c - c0
            if self.worker.get(pid):
                out["pyworker_cpu_s"] += c - c0
                out["pyworker_read_bytes"] += r - r0
        return out
