"""A ``SnapshotCatalog`` that records a span around every read and write.

``run_crawl`` takes its catalog as a parameter, so the traced run hands it
this subclass; the engine itself is not patched. Each call runs under its
own job group, set on the calling thread, so the concurrent pre-commit
writes the loop issues from its thread pool are attributed separately.
After each lineage write (the iteration's commit point, on the loop's main
thread) the main thread is tagged with the next iteration's job group.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog

import sparkstats


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping hidden/marker files."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


class TracingCatalog(SnapshotCatalog):
    def __init__(self, root: str, tracer, sc, parent: int | None = None):
        super().__init__(root)
        self.tracer = tracer
        self.sc = sc
        self.parent = parent
        self.groups: list[str] = []

    @contextmanager
    def _traced(self, kind: str, table: str):
        """Span + job group around one catalog call. The span's
        ``call_s`` counter is the engine call alone; the rest of the span is
        what tracing adds."""
        with self.tracer.span(f"tables.{kind}.{table}", parent=self.parent) as span:
            group = f"{self.tracer.run_id}.tables.{kind}.{table}.{span.id}"
            span.job_group = group
            self.groups.append(group)
            prev = sparkstats.current_group(self.sc)
            sparkstats.set_group(self.sc, group)
            try:
                yield span
            finally:
                sparkstats.set_group(self.sc, prev)

    def _timed(self, span, fn):
        t0 = self.tracer.clock()
        try:
            return fn()
        finally:
            span.counters["call_s"] = self.tracer.clock() - t0

    def write(self, df, table, mode="append", meta=None, **kw):
        it = (meta or {}).get("iter")
        with self._traced("write", table) as span:
            snap_id = self._timed(
                span, lambda: super(TracingCatalog, self).write(df, table, mode=mode, meta=meta, **kw)
            )
            entry = next(s for s in self.snapshots(table) if s["id"] == snap_id)
            n_bytes, n_files = dir_size(entry["dir"])
            span.counters.update(iter=it, bytes=n_bytes, files=n_files)
        if table == "lineage" and it is not None:
            self.tag_iteration(it + 1)
        return snap_id

    def tag_iteration(self, it: int) -> None:
        """Tag the calling (loop main) thread with iteration ``it``'s group."""
        group = f"{self.tracer.run_id}.loop.iter{it}"
        self.groups.append(group)
        sparkstats.set_group(self.sc, group)

    def read(self, spark, table, **kw):
        with self._traced("read", table) as span:
            span.counters["iter"] = kw.get("max_iter")
            return self._timed(span, lambda: super(TracingCatalog, self).read(spark, table, **kw))
