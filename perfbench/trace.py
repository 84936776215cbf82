"""Tracing from outside the package: spans around calls into each layer,
a ``StreamingQueryListener`` for micro-batch progress, and Spark's event
log for job/stage/task counters.

Spans are recorded by the benchmark's own code, either around its own
calls (``Tracer.span``) or by wrapping a layer's public function in the
module that calls it (``Tracer.wrap``); the package is never edited. Each
span sets the Spark job group ``pb<id>`` for the jobs its thread submits,
so the event log can be folded per span afterwards (``stats``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    """Spans in memory; written out when the run ends. When ``enabled`` is
    false every method is a cheap no-op, so workload code calls it
    unconditionally."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        # spans are recorded only while active: a traced run measures an
        # untraced half first, with the same wrappers installed
        self.active = False
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None
        if enabled:
            self._listener = _progress_listener(self)
            spark.streams.addListener(self._listener)
        self._spark = spark

    @contextmanager
    def span(self, name: str, **attrs):
        if not (self.enabled and self.active):
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "depth": len(stack),
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setJobGroup(f"pb{sid}", name)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.sc.setLocalProperty(_GROUP, prev[0])
            self.sc.setLocalProperty(_DESC, prev[1])

    def wrap(self, module, attr: str, name: str, before=None):
        """Replace ``module.attr`` with a version that runs inside span
        ``name``. While tracing, ``before(*args, **kwargs)`` runs first,
        outside the span, and returns attributes for it. Undone by
        :meth:`close`."""
        if not self.enabled:
            return
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            attrs = {}
            if before is not None and tracer.enabled and tracer.active:
                attrs = before(*args, **kwargs)
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def close(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()
        if self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None

    def stream_progress(self, name: str | None = None) -> list[dict]:
        """Progress records of streams named ``name`` (all when None)."""
        with self._lock:
            return [p for p in self.progress if name is None or p.get("name") == name]


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            rec = json.loads(event.progress.json)
            with tracer._lock:
                tracer.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def event_log_conf(log_dir: str) -> str:
    """``SPARK_GRAFT_EXTRA_CONF`` entries that turn on an uncompressed
    event log under ``log_dir``."""
    return ";".join(
        [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
            "spark.eventLog.compress=false",
        ]
    )


def event_log_lines(log_dir: str):
    """Lines of every event file under ``log_dir`` (plain or rolling
    ``eventlog_v2_*/events_N_*`` layout), in file-name order."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith(".") or n.startswith("appstatus") or n.endswith(".crc"):
                continue
            files.append(os.path.join(root, n))

    def order(path):
        base = os.path.basename(path)
        parts = base.split("_")
        return (os.path.dirname(path), int(parts[1]) if base.startswith("events_") else 0)

    for path in sorted(files, key=order):
        with open(path, encoding="utf-8") as fh:
            yield from fh
