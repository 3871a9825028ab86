"""Tracing from outside the program: spans around the public functions of
each layer module, and Spark counters per top-level operation.

Nothing here edits the library. ``Tracer.install`` replaces module and
class attributes with timing wrappers at the place where callers look
them up, and ``Tracer.uninstall`` puts the originals back. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Span recorder. A span is ``{name, start, end, parent}``; ``parent``
    is the index of the enclosing span (the driver is single-threaded, so
    a stack gives the nesting)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patch(owner, attr, traced)

    def wrap_context(self, owner, attr: str, name: str) -> None:
        """Wrap a context-manager factory: enter and exit become two
        spans, ``<name>_acquire`` and ``<name>_release``."""
        orig = getattr(owner, attr)
        tracer = self

        class _Traced:
            def __init__(self, cm):
                self.cm = cm

            def __enter__(self):
                with tracer.span(name + "_acquire"):
                    return self.cm.__enter__()

            def __exit__(self, *exc):
                with tracer.span(name + "_release"):
                    return self.cm.__exit__(*exc)

        @functools.wraps(orig)
        def factory(*args, **kwargs):
            return _Traced(orig(*args, **kwargs))

        self._patch(owner, attr, factory)

    def install(self) -> None:
        """Patch every traced entry point of the library."""
        from hudi_utility_spark import (
            api,
            concurrency,
            engine,
            index,
            io,
            ledger,
            partition_paths,
            table,
            write,
        )

        for attr, fn in list(vars(api.TableServices).items()):
            if callable(fn) and not attr.startswith("_"):
                self.wrap(api.TableServices, attr, f"api.{attr}")
        self.wrap(ledger.Ledger, "begin", "ledger.begin")
        self.wrap(ledger.Ledger, "finish", "ledger.finish")
        # TableServices._ledgered imports table_lock at call time
        self.wrap_context(concurrency, "table_lock", "concurrency.lock")
        for fn in ("upsert", "upsert_partial", "delete_keys", "merge_into",
                   "write_partitioned", "atomic_swap_dir"):
            self.wrap(write, fn, f"write.{fn}")
        self.wrap(partition_paths, "distinct_partition_tuples",
                  "partition_paths.distinct_partition_tuples")
        for fn in ("read", "read_base", "compact"):
            self.wrap(table.KeyedTable, fn, f"table.{fn}")
        for fn in ("point_lookup", "refresh_indexes", "build_record_index"):
            self.wrap(index, fn, f"index.{fn}")
        # api binds engine.bootstrap at import time, and engine binds
        # read_source and reconcile the same way: patch those bindings
        self.wrap(api, "_bootstrap", "engine.bootstrap")
        self.wrap(engine, "read_source", "io.read_source")
        self.wrap(io, "read_source", "io.read_source")
        self.wrap(engine, "reconcile", "validate.reconcile")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- queries over the recorded spans ---------------------------------
    def duration(self, i: int) -> float:
        s = self.spans[i]
        return s["end"] - s["start"]

    def children(self, i: int) -> list[int]:
        return [j for j, s in enumerate(self.spans) if s["parent"] == i]

    def self_time(self, i: int) -> float:
        """Span duration minus its direct children (which are sequential,
        the driver being single-threaded)."""
        return self.duration(i) - sum(self.duration(j) for j in self.children(i))

    def descendants(self, i: int, name: str) -> list[int]:
        out = []
        for j in self.children(i):
            if self.spans[j]["name"] == name:
                out.append(j)
            out.extend(self.descendants(j, name))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkCounters:
    """Jobs, stages, tasks, executor run time and bytes of one job group,
    read from the driver's status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        sc = self.sc
        jsc = sc._jsc.sc()
        # the status store is fed by the listener bus asynchronously
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(
            ("stages", "tasks", "run_ms", "input_records",
             "output_records", "shuffle_write_bytes", "shuffle_read_bytes"), 0)
        out["jobs"] = len(jobs)
        # a stage id listed by several jobs, or SKIPPED because its
        # shuffle output was reused, must be counted once or not at all
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted, so never recorded
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["run_ms"] += sd.executorRunTime()
            out["input_records"] += sd.inputRecords()
            out["output_records"] += sd.outputRecords()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        return out
