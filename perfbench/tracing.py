"""Per-layer measurement from outside the program.

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory around
  the benchmark's calls into each layer and writes them when the run ends.
* ``sql_metrics`` reads Spark's own SQL metrics for the executions of a job
  from the session's SQL status store: the executed plan graph, which
  already descends through ``AdaptiveSparkPlanExec``, its query stages and
  cached plans.
* ``ProcSampler`` polls ``VmHWM`` from ``/proc`` for the JVM and the PySpark
  Python workers this process started (one sleeping thread).
* ``replay`` runs ``extract_one`` single-threaded on a sample of pages with
  spans around the public functions it calls, which is the only way to
  split ``extract_one`` without changing the program.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time


class Tracer:
    """Spans of one run; while ``enabled`` is False (as it starts) a span
    records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []  # [name, start, end, parent index, run id]
        self._stack: list[int] = []
        self.run_id = "run"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.run_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def totals(self, prefix: str) -> dict[str, dict[str, float]]:
        """Per span name, over the spans whose run id starts with
        ``prefix``: total seconds, self seconds (minus the time its child
        spans cover) and count."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, dict[str, float]] = {}
        for i, (name, start, end, _, run_id) in enumerate(self.spans):
            if not run_id.startswith(prefix):
                continue
            agg = out.setdefault(name, {"total": 0.0, "self": 0.0, "count": 0})
            agg["total"] += end - start
            agg["self"] += end - start - child[i]
            agg["count"] += 1
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent, run_id in self.spans:
                fh.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end, "parent": parent, "run": run_id}
                    )
                    + "\n"
                )


# ---------------------------------------------------------------------------
# Spark SQL metrics
# ---------------------------------------------------------------------------

_SCALE = {
    "": 1.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_VALUE_RE = re.compile(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a status-store metric string: '10,000', '44.5 KiB',
    'total (min, med, max ...)\\n9.6 s (...)' -> count, bytes or seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    ids = [e.executionId() for e in conv.asJava(store.executionsList())]
    return max(ids) if ids else -1


#: plan nodes whose metrics the per-layer numbers use; reading only these
#: keeps the py4j round trips (one per node, three per metric) few
_NODES = ("MapInPandas", "Exchange", "Scan")


def sql_metrics(spark, after_id: int, upto_id: int | None = None) -> dict[tuple[str, str], float]:
    """Sum of every SQL metric of the MapInPandas, Exchange and Scan nodes,
    keyed by (node name, metric name), over the executions newer than
    ``after_id`` and, when given, not newer than ``upto_id``.
    ``(node, "#nodes")`` counts the plan nodes of that name."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out: dict[tuple[str, str], float] = {}
    for e in conv.asJava(store.executionsList()):
        eid = e.executionId()
        if eid <= after_id or (upto_id is not None and eid > upto_id):
            continue
        values = conv.asJava(store.executionMetrics(eid))
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            name = node.name()
            if not name.startswith(_NODES):
                continue
            key = (name, "#nodes")
            out[key] = out.get(key, 0.0) + 1
            for metric in conv.asJava(node.metrics()):
                text = values.get(metric.accumulatorId())
                if text is None:
                    continue
                key = (name, metric.name())
                out[key] = out.get(key, 0.0) + parse_metric(text)
    return out


def metric_sum(metrics: dict, node_prefix: str, metric: str) -> float:
    return sum(v for (n, m), v in metrics.items() if n.startswith(node_prefix) and m == metric)


# ---------------------------------------------------------------------------
# /proc memory sampler
# ---------------------------------------------------------------------------


def _read(path: str) -> str:
    try:
        with open(path, "rb") as fh:
            return fh.read().decode("utf-8", "replace")
    except OSError:
        return ""


class ProcSampler(threading.Thread):
    """Peak RSS (``VmHWM``) of the JVM and the PySpark Python workers that
    descend from this process.  The kernel keeps the high-water mark, so a
    slow poll only has to see each process once before it exits."""

    interval = 0.25  # seconds between polls

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.hwm_kb: dict[int, tuple[str, int]] = {}
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.poll()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)
        self.poll()

    def poll(self) -> None:
        me = os.getpid()
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                stat = _read(f"/proc/{entry}/stat")
                # pid (comm) state ppid ...; comm may hold spaces
                tail = stat.rsplit(")", 1)[-1].split()
                if len(tail) > 1:
                    parent[int(entry)] = int(tail[1])
        for pid in parent:
            p, depth = parent.get(pid), 0
            while p is not None and p != me and depth < 6:
                p, depth = parent.get(p), depth + 1
            if p != me:
                continue
            cmd = _read(f"/proc/{pid}/cmdline")
            if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                kind = "worker"
            elif "org.apache.spark.deploy.SparkSubmit" in cmd:
                kind = "jvm"
            else:
                continue
            m = re.search(r"VmHWM:\s+(\d+)", _read(f"/proc/{pid}/status"))
            if m:
                old = self.hwm_kb.get(pid, (kind, 0))[1]
                self.hwm_kb[pid] = (kind, max(old, int(m.group(1))))

    def peak_mb(self, kind: str) -> float:
        peaks = [kb for k, kb in self.hwm_kb.values() if k == kind]
        return max(peaks) * 1024 / 1e6 if peaks else 0.0

    def pids(self) -> list[int]:
        return list(self.hwm_kb)


# ---------------------------------------------------------------------------
# extract_one replay
# ---------------------------------------------------------------------------

#: (span name, module or class path, attribute) for every public function
#: extract_one reaches per page; dom.parse_html is bound in two modules.
REPLAY_HOOKS = [
    ("charset.convert_to_utf8", "graby_spark.extract", "convert_to_utf8"),
    ("siteconfig.for_page", "graby_spark.siteconfig:RuleSet", "for_page"),
    ("textutils.pre_clean", "graby_spark.textutils", "pre_clean"),
    ("extract.process", "graby_spark.extract", "process"),
    ("readability.init", "graby_spark.readability:Readability", "__init__"),
    ("dom.parse_html", "graby_spark.readability", "parse_html"),
    ("dom.parse_html", "graby_spark.dom", "parse_html"),
    ("extract.content_spans", "graby_spark.extract", "content_spans"),
    ("extract.cleanup_html", "graby_spark.extract", "cleanup_html"),
    ("textutils.excerpt", "graby_spark.textutils", "excerpt"),
    ("extract.plain_text", "graby_spark.extract", "_plain_text"),
]


def _owner(path: str):
    import importlib

    module, _, cls = path.partition(":")
    obj = importlib.import_module(module)
    return getattr(obj, cls) if cls else obj


def replay(tracer: Tracer, rows: list[dict], ruleset, options) -> int:
    """Warm pass, then one traced pass of ``extract_one`` over ``rows``
    (dicts with html, url, content_type, lang).  Returns the page count."""
    from graby_spark.extract import extract_one

    def run_all(traced: bool) -> None:
        for i, row in enumerate(rows):
            tracer.run_id = f"replay-{i}"
            call = lambda: extract_one(  # noqa: E731
                row["html"],
                row["url"],
                ruleset,
                content_type=row["content_type"],
                lang_hint=row.get("lang"),
                options=options,
            )
            if traced:
                with tracer.span("extract.extract_one"):
                    call()
            else:
                call()

    run_all(traced=False)
    saved = []
    try:
        for name, path, attr in REPLAY_HOOKS:
            owner = _owner(path)
            original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            saved.append((owner, attr, original))
            setattr(owner, attr, tracer.wrap(name, original))
        run_all(traced=True)
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)
    return len(rows)
