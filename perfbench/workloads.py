"""The keyed-table workloads, ``cow_ingest`` and ``mor_serve``.

One driver process, one client, closed loop: each operation starts when
the previous one has returned. A run is set-up (data generation,
bootstrap through ``Engine.bootstrap``, record-index build and warm-up
operations of every timed shape), then timed phases with the JVM
collected and Spark's cache cleared between them, then the correctness
gate against the DuckDB oracle.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from urllib.parse import urlparse

import numpy as np

from perfbench import data
from perfbench.trace import SparkCounters, Tracer

SIZES = {
    "full": {"rows": 100_000, "batch_rows": 5_000, "lookup_keys": 2_000},
    # the self-test size, with its own small counts: one commit of each kind
    # the workload uses, and the fewest reads, lookups and refreshes that
    # still give every metric a value
    "tiny": {"rows": 20_000, "batch_rows": 1_000, "lookup_keys": 200,
             "counts": {"commits_per_kind": 1, "rewarm": 1, "reads": 2,
                        "lookups": 2, "maintenance": 1}},
}

# Every run of a workload does the same fixed work. Set-up warms up every
# timed shape once: the "warmup" commits (MERGE and partial upsert between
# them run every operator the four COW commit kinds use), one read and one
# lookup. After the timed commits have changed the table, "rewarm" untimed
# reads (the first of them the snapshot check) and lookups come before the
# timed ones, because read and lookup times fall over the first calls on a
# new table state. Maintenance is the table service after the commits:
# index refresh (COW; it rebuilds the same indexes each time, so it is
# repeated for a median) or compaction (MOR, once).
WORKLOADS = {
    "cow_ingest": {
        "table_type": "COPY_ON_WRITE",
        "warmup": ["upsert_partial", "merge"],
        "commits": {"upsert": 2, "upsert_partial": 1, "delete": 1, "merge": 1},
        "rewarm": 1, "reads": 5, "lookups": 4, "maintenance": 3,
    },
    "mor_serve": {
        "table_type": "MERGE_ON_READ",
        "warmup": ["upsert"],
        "commits": {"upsert": 3, "delete": 2},
        "rewarm": 2, "reads": 4, "lookups": 4, "maintenance": 1,
    },
}

LOG_DIR = "_delta_log"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_counts(workload: str, size: str) -> dict:
    """The operation counts of one run: the workload's, or the tiny size's."""
    cfg = WORKLOADS[workload]
    counts = {k: cfg[k] for k in ("commits", "rewarm", "reads", "lookups", "maintenance")}
    small = SIZES[size].get("counts")
    if small:
        counts.update({k: v for k, v in small.items() if k != "commits_per_kind"})
        counts["commits"] = dict.fromkeys(cfg["commits"], small["commits_per_kind"])
    return counts


def commit_kinds(counts: dict[str, int], rng) -> list[str]:
    """The timed commit mix in a seed-fixed order."""
    kinds = [k for k, n in counts.items() for _ in range(n)]
    return [kinds[i] for i in rng.permutation(len(kinds))]


def data_files(root: str) -> dict[str, int]:
    """Data files (base and delta log) under a table: path -> bytes."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames
                       if not d.startswith((".", "_")) or d == LOG_DIR]
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def start_spark(workdir: str):
    from hudi_utility_spark.session import get_spark

    return get_spark("perfbench", **{
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    })


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from the driver's /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class KeyedRun:
    """One run of a keyed-table workload."""

    def __init__(self, workload, seed, trace, size, workdir, t_start, corrupt=False):
        self.workload, self.seed, self.size = workload, seed, SIZES[size]
        self.cfg = WORKLOADS[workload]
        self.counts = run_counts(workload, size)
        self.workdir, self.t_start, self.corrupt = workdir, t_start, corrupt
        self.tracer = Tracer() if trace else None
        self.counters = None
        self.ops: list[dict] = []
        self.failures: list[dict] = []
        self.mismatches: list[str] = []
        self.t_first_timed = None

    # -- the operation fence ----------------------------------------------
    def attempt(self, phase: str, fn, timed: bool = True, **info) -> dict:
        """Run one operation; time only *fn*. A failure is recorded with
        its error and the run goes on."""
        if timed and self.t_first_timed is None:
            self.t_first_timed = time.perf_counter()
        rec = {"phase": phase, "timed": timed, "ok": True, "out": None, **info}
        group = f"{phase}-{len(self.ops)}"
        if self.counters:
            self.counters.begin(group)
        span = self.tracer.span(f"op.{phase}") if self.tracer else nullcontext()
        with span:
            if self.tracer:
                rec["span"] = len(self.tracer.spans) - 1
            t0 = time.perf_counter()
            try:
                rec["out"] = fn()
            except Exception as exc:
                rec["ok"] = False
                self.failures.append({"op": group, "error": f"{type(exc).__name__}: {exc}"[:400]})
                traceback.print_exc(file=sys.stderr)
            rec["seconds"] = time.perf_counter() - t0
        if self.counters:
            rec["spark"] = self.counters.end(group)
        self.ops.append(rec)
        return rec

    def settle(self) -> None:
        """Between phases, outside the timed regions: drop cached data and
        collect both heaps, so one phase's garbage is not the next one's
        pause."""
        self.spark.catalog.clearCache()
        self.spark._jvm.java.lang.System.gc()
        gc.collect()

    def check(self, label: str, actual, keys_path: str | None = None) -> None:
        """Compare an output with the oracle's expectation. With
        --corrupt-expectation an expected snapshot loses a row, to prove
        the gate bites."""
        drop_one = self.corrupt and keys_path is None
        problem = self.oracle.mismatch(actual, keys_path, drop_one=drop_one)
        if problem:
            self.mismatches.append(f"{label}: {problem}")

    def check_snapshot(self, label: str) -> None:
        try:
            actual = self.table.read(self.spark).select(*data.COLS).toArrow()
        except Exception as exc:
            self.mismatches.append(f"{label}: read failed: {type(exc).__name__}: {exc}"[:400])
            return
        self.check(label, actual)

    # -- the workload -----------------------------------------------------
    def run(self) -> dict:
        rng = np.random.default_rng([self.seed, 1])
        warm = [self.cfg["warmup"][i] for i in rng.permutation(len(self.cfg["warmup"]))]
        timed = commit_kinds(self.counts["commits"], rng)
        inputs = data.generate(
            os.path.join(self.workdir, "inputs"), self.seed,
            self.size["rows"], self.size["batch_rows"],
            [(k, False) for k in warm] + [(k, True) for k in timed],
            lookups=1 + self.counts["rewarm"] + self.counts["lookups"],
            lookup_keys=self.size["lookup_keys"])
        self.oracle = data.Oracle(inputs.source, os.path.join(self.workdir, "tmp"))

        if self.tracer:
            self.tracer.install()
        span = self.tracer.span("session.start") if self.tracer else nullcontext()
        with span:
            t0 = time.perf_counter()
            self.spark = spark = start_spark(self.workdir)
            self.session_start_s = time.perf_counter() - t0
        self.java_version = spark._jvm.java.lang.System.getProperty("java.version")
        if self.tracer:
            self.counters = SparkCounters(spark)
        try:
            self._phases(spark, inputs)
        finally:
            self.peak_rss_mb = jvm_peak_rss_mb()
            if self.tracer:
                self.tracer.uninstall()
            stop_spark(spark)
        return self.result()

    def _phases(self, spark, inputs: data.Inputs) -> None:
        from hudi_utility_spark import index
        from hudi_utility_spark.api import Engine, TableServices
        from hudi_utility_spark.table import KeyedTable

        path = os.path.join(self.workdir, "table")
        self.ledger_path = os.path.join(self.workdir, "ledger")
        made = self.attempt("engine", lambda: Engine(spark, self.ledger_path), timed=False)
        if not made["ok"]:
            return
        engine = made["out"]
        self.table = table = KeyedTable(
            path=path, record_key=["key"], precombine="ts", partition_fields=["day"],
            table_type=self.cfg["table_type"], name="bench")
        svc = TableServices(engine, table)
        boot = self.attempt("bootstrap", lambda: engine.bootstrap({
            "data_file_path": inputs.source, "table_name": "bench",
            "record_key": ["key"], "precombine": "ts", "output_path": path,
            "partition_fields": ["day"], "table_type": self.cfg["table_type"]}),
            timed=False)
        if not boot["ok"]:
            return

        def commit(c: data.Commit):
            def go():
                df = spark.read.parquet(c.path)
                if c.kind == "upsert":
                    svc.upsert(df, commit_time=c.commit_time)
                elif c.kind == "upsert_partial":
                    svc.upsert_partial(df, commit_time=c.commit_time)
                elif c.kind == "delete":
                    svc.delete(df.select("key", "ts", "day"), commit_time=c.commit_time)
                else:
                    svc.merge(df, commit_time=c.commit_time, **data.MERGE_KWARGS)
            before = data_files(path)
            rec = self.attempt("commit", go, timed=c.timed, kind=c.kind,
                               rows=c.rows, batch_bytes=c.nbytes)
            after = data_files(path)
            created = [p for p in after if p not in before]
            rec["files_created"] = len(created)
            rec["bytes_created"] = sum(after[p] for p in created)
            if rec["ok"]:
                self.oracle.apply(c)

        def read():
            t0 = time.perf_counter()
            df = table.read(spark)
            built = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
            return {"build": built, "df": df}

        def lookup(keys_path):
            def go():
                df = index.point_lookup(spark, table, spark.read.parquet(keys_path))
                return df, df.collect()
            return go

        def maintain():
            if self.cfg["table_type"] == "MERGE_ON_READ":
                svc.compact()
            else:
                index.refresh_indexes(spark, table)

        # set-up warm-up. The record index is built after the warm-up
        # commits, which would leave a COW index stale.
        for c in inputs.commits:
            if not c.timed:
                commit(c)
        self.attempt("index_build", lambda: index.build_record_index(spark, table), timed=False)
        self.attempt("read", read, timed=False)
        self.attempt("lookup", lookup(inputs.lookups[0]), timed=False)
        self.settle()

        for c in inputs.commits:
            if c.timed:
                commit(c)
        self.settle()
        files = data_files(path)
        self.end_of_commits_bytes = sum(files.values())
        self.log_files = sum(1 for p in files if f"/{LOG_DIR}/" in p)
        self.expected_bytes = self.oracle.write_snapshot(
            os.path.join(self.workdir, "expected.parquet"))

        if self.cfg["table_type"] == "COPY_ON_WRITE":
            for _ in range(self.counts["maintenance"]):
                self.attempt("maintenance", maintain)
            self.settle()
        # the snapshot check reads the whole table, so it is the first of
        # the untimed reads at this table state
        self.check_snapshot("snapshot")
        rewarm = self.counts["rewarm"] - 1
        for i in range(rewarm + self.counts["reads"]):
            rec = self.attempt("read", read, timed=i >= rewarm)
            if rec["ok"] and rec["timed"] and self.tracer:
                rec["input_bytes"] = sum(
                    os.path.getsize(urlparse(f).path) for f in rec["out"]["df"].inputFiles())
        self.settle()
        for i, keys_path in enumerate(inputs.lookups[1:]):
            rec = self.attempt("lookup", lookup(keys_path), timed=i >= self.counts["rewarm"])
            if rec["ok"]:
                df, rows = rec["out"]
                self.check(f"lookup {os.path.basename(keys_path)}",
                           {c: [r[c] for r in rows] for c in data.COLS}, keys_path)
                if rec["timed"] and self.tracer:
                    base = [p for p in data_files(path) if f"/{LOG_DIR}/" not in p]
                    scanned = [f for f in df.inputFiles() if f"/{LOG_DIR}/" not in f]
                    rec["files_read_share"] = len(scanned) / max(1, len(base))
                rec["rows_returned"] = len(rows)
        if self.cfg["table_type"] == "MERGE_ON_READ":
            self.settle()
            before = data_files(path)
            rec = self.attempt("maintenance", maintain)
            rec["bytes_created"] = sum(
                v for p, v in data_files(path).items() if p not in before)
            self.check_snapshot("snapshot after compaction")

    # -- results ----------------------------------------------------------
    def _timed(self, phase):
        return [r for r in self.ops if r["phase"] == phase and r["timed"] and r["ok"]]

    def end_to_end(self) -> dict:
        commits = self._timed("commit")
        commit_s = [r["seconds"] for r in commits]
        return {
            "setup_s": (self.t_first_timed or time.perf_counter()) - self.t_start,
            "commit_p50_s": _median(commit_s),
            "ingest_rows_per_s": sum(r["rows"] for r in commits) / max(1e-9, sum(commit_s)),
            "write_amp": sum(r["bytes_created"] for r in commits)
            / max(1, sum(r["batch_bytes"] for r in commits)),
            "space_amp": self.end_of_commits_bytes / self.expected_bytes,
            "read_p50_s": _median([r["seconds"] for r in self._timed("read")]),
            "lookup_p50_s": _median([r["seconds"] for r in self._timed("lookup")]),
            "maintenance_s": _median([r["seconds"] for r in self._timed("maintenance")]),
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        commits = self._timed("commit")

        def first(name):
            return next((tr.duration(i) for i, s in enumerate(tr.spans) if s["name"] == name), 0.0)

        def under(recs, name):
            """Durations of every *name* span below the given op records."""
            return [tr.duration(j) for r in recs for j in tr.descendants(r["span"], name)]

        api_spans = [j for r in commits for j in tr.children(r["span"])
                     if tr.spans[j]["name"].startswith("api.")]
        write_fns = ("write.upsert", "write.upsert_partial", "write.delete_keys",
                     "write.merge_into")
        write_spans = [j for r in commits for f in write_fns for j in tr.descendants(r["span"], f)]
        spark = [r["spark"] for r in commits]
        rows_in = sum(r["rows"] for r in commits)
        wall = sum(r["seconds"] for r in commits)
        reads, lookups = self._timed("read"), self._timed("lookup")
        maint = self._timed("maintenance")
        compacts = maint if self.cfg["table_type"] == "MERGE_ON_READ" else []
        read_build = [r["out"]["build"] for r in reads]
        probe = [max(under([r], "index.point_lookup"), default=0.0) for r in lookups]
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        return {
            "session.start_s": self.session_start_s,
            "session.driver_peak_rss_mb": self.peak_rss_mb,
            "engine.bootstrap_s": first("engine.bootstrap"),
            "io.read_source_s": first("io.read_source"),
            "validate.reconcile_s": first("validate.reconcile"),
            "api.commit_self_s": _median([tr.self_time(j) for j in api_spans]),
            "ledger.begin_s": _median(under(commits, "ledger.begin")),
            "ledger.finish_s": _median(under(commits, "ledger.finish")),
            "ledger.files": sum(len(f) for _, _, f in os.walk(self.ledger_path)),
            "concurrency.lock_acquire_s": _median(under(commits, "concurrency.lock_acquire")),
            "concurrency.lock_release_s": _median(under(commits, "concurrency.lock_release")),
            **{f"{f}_s": _median(under(commits, f)) for f in write_fns},
            "write.write_partitioned_s": _median(
                [sum(under([r], "write.write_partitioned")) for r in commits]),
            "write.driver_self_s": _median([tr.self_time(j) for j in write_spans]),
            "write.jobs_per_commit": _median([s["jobs"] for s in spark]),
            "write.tasks_per_commit": _median([s["tasks"] for s in spark]),
            "write.shuffle_write_bytes_per_commit": _median(
                [s["shuffle_write_bytes"] for s in spark]),
            "write.core_util": sum(s["run_ms"] for s in spark) / 1000 / max(1e-9, wall * cores),
            "write.files_written_per_commit": _median([r["files_created"] for r in commits]),
            "write.rows_rewritten_per_row_ingested": sum(s["output_records"] for s in spark)
            / max(1, rows_in),
            "table.read_build_s": _median(read_build),
            "table.read_exec_s": _median([r["seconds"] - b for r, b in zip(reads, read_build)]),
            "table.read_input_bytes": _median([r["input_bytes"] for r in reads]),
            "table.read_shuffle_bytes": _median([r["spark"]["shuffle_write_bytes"] for r in reads]),
            "table.log_files": self.log_files,
            "table.compact_bytes_rewritten": _median([r["bytes_created"] for r in compacts]),
            "table.compact_jobs": _median([r["spark"]["jobs"] for r in compacts]),
            "index.refresh_s": _median(
                [d for r in maint for d in under([r], "index.refresh_indexes")]),
            "index.lookup_probe_s": _median(probe),
            "index.lookup_exec_s": _median([r["seconds"] - p for r, p in zip(lookups, probe)]),
            "index.files_read_per_lookup": _median([r["files_read_share"] for r in lookups]),
            "index.rows_scanned_per_row_returned":
                sum(r["spark"]["input_records"] for r in lookups)
                / max(1, sum(r["rows_returned"] for r in lookups)),
        }

    def result(self) -> dict:
        """The result line. Metric names and units come from BENCHMARK.json;
        a metric computed here but not listed there, or the reverse, is an
        error."""
        res = {"correct": not self.failures and not self.mismatches,
               "attempted": len(self.ops), "failed": len(self.failures)}
        complete = all(r["ok"] for r in self.ops) and any(
            r["phase"] == "maintenance" for r in self.ops)
        e2e = self.end_to_end() if complete else {}
        res["metrics"] = {}
        if complete:
            section = "per_layer" if self.tracer else "end_to_end"
            values = self.per_layer() if self.tracer else e2e
            with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
                spec = json.load(fh)[section]
            if set(values) != {m["name"] for m in spec}:
                raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                                   f"{set(values) ^ {m['name'] for m in spec}}")
            res["metrics"] = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                              for m in spec}
        phases = {}
        for r in self.ops:
            key = f"{r['phase']}{':' + r['kind'] if 'kind' in r else ''}" \
                f"{'' if r['timed'] else '(warm)'}"
            phases.setdefault(key, []).append(round(r["seconds"], 3))
        res["_detail"] = {"failures": self.failures, "mismatches": self.mismatches,
                          "end_to_end": e2e, "op_seconds": phases,
                          "total_s": time.perf_counter() - self.t_start}
        return res
