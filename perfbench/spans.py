"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary:
``install_layer_spans`` rebinds the public functions of the package
modules (and the module-local names the write verbs import them under)
to wrappers that open a span around the original call. Nothing inside
``mssql_dataframe_spark`` is edited. A span has a name, start, end,
parent span and op id; spans stay in memory and ``Tracer.dump`` writes
them out when the run ends.

``SparkProbe`` reads Spark's status store between ops (outside every
timed region) for per-op job, stage, task, executor-time and byte
counts, and ``Tracer`` counts py4j round trips by wrapping
``GatewayClient.send_command``.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op = "setup"
        self.paused = 0
        self.round_trips = 0
        self.counts: dict[tuple, int] = {}
        self._undo: list[tuple] = []

    # -- recording ----------------------------------------------------
    def open(self, name: str, **attrs) -> dict:
        span = {
            "name": name, "op": self.op, "t0": time.perf_counter(),
            "t1": None, "parent": self.stack[-1] if self.stack else None,
            "attrs": attrs,
        }
        self.spans.append(span)
        self.stack.append(len(self.spans) - 1)
        return span

    def close(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        self.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    def count(self, name: str, n: int = 1) -> None:
        if not self.paused:
            key = (self.op, name)
            self.counts[key] = self.counts.get(key, 0) + n

    @contextlib.contextmanager
    def untraced(self):
        """Context in which the tracer's own bookkeeping (py4j calls,
        manifest reads) is neither counted nor spanned."""
        self.paused += 1
        try:
            yield
        finally:
            self.paused -= 1

    # -- instrumentation ----------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Rebind ``owner.attr`` to a spanned wrapper. ``after(span,
        args, kwargs, result)`` runs untraced once the call returns and
        may add span attributes."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if tracer.paused:
                return fn(*args, **kwargs)
            span = tracer.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            if after is not None:
                with tracer.untraced():
                    after(span, args, kwargs, result)
            return result

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    def wrap_counter(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        def counted(*args, **kwargs):
            tracer.count(name)
            return fn(*args, **kwargs)

        setattr(owner, attr, counted)
        self._undo.append((owner, attr, fn))

    def install_py4j(self) -> None:
        import py4j.java_gateway as jg

        send = jg.GatewayClient.send_command
        tracer = self

        def counting_send(client, *args, **kwargs):
            if not tracer.paused:
                tracer.round_trips += 1
            return send(client, *args, **kwargs)

        jg.GatewayClient.send_command = counting_send
        self._undo.append((jg.GatewayClient, "send_command", send))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    # -- analysis -----------------------------------------------------
    def op_layers(self, op) -> dict[str, dict]:
        """Per span name within ``op``: calls, summed duration, summed
        self time (duration minus the union of its children's
        intervals) and summed numeric attributes."""
        children: dict[int, list[tuple]] = {}
        for s in self.spans:
            if s["op"] == op and s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s["op"] != op or s["t1"] is None:
                continue
            dur = s["t1"] - s["t0"]
            covered, end = 0.0, s["t0"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, end), min(b, s["t1"])
                if b > a:
                    covered += b - a
                    end = b
            row = out.setdefault(
                s["name"], {"calls": 0, "dur": 0.0, "self": 0.0, "attrs": {}}
            )
            row["calls"] += 1
            row["dur"] += dur
            row["self"] += dur - covered
            for k, v in s["attrs"].items():
                row["attrs"][k] = row["attrs"].get(k, 0) + v
        return out

    def child_attr(self, op, name: str, parents: set, attr: str) -> float:
        """Sum of ``attr`` over the ``name`` spans of ``op`` whose direct
        parent span is named in ``parents``."""
        return sum(
            s["attrs"].get(attr, 0) for s in self.spans
            if s["op"] == op and s["name"] == name and s["parent"] is not None
            and self.spans[s["parent"]]["name"] in parents
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install_layer_spans(tracer: Tracer) -> None:
    """Span every layer the benchmark drives. The write verbs import
    validation and staging helpers by name, so those module-local
    bindings are wrapped next to the defining module's own."""
    import importlib

    import mssql_dataframe_spark.core.create as CR
    import mssql_dataframe_spark.core.modify as MO
    import mssql_dataframe_spark.core.read as RD
    import mssql_dataframe_spark.core.write as W
    import mssql_dataframe_spark.core.write.delete as DEL
    import mssql_dataframe_spark.core.write.merge as MRG
    import mssql_dataframe_spark.core.write.update as UPD
    import mssql_dataframe_spark.operators.dedup as DD
    import mssql_dataframe_spark.operators.similarity as SIM
    import mssql_dataframe_spark.session as S
    import mssql_dataframe_spark.store as ST
    import mssql_dataframe_spark.validation as V

    # the package re-exports ``insert`` the function over the submodule
    INS = importlib.import_module("mssql_dataframe_spark.core.write.insert")
    t = tracer
    t.install_py4j()
    t.wrap(S, "connect", "session.connect")
    t.wrap(CR.create, "table", "core.create.ddl")
    for m in ("check_constraint", "unique_constraint", "bloom_index"):
        t.wrap(MO.modify, m, "core.create.ddl")

    t.wrap(W, "merge_op", "core.write.merge")
    t.wrap(W, "update_op", "core.write.update")
    t.wrap(W, "delete_where_op", "core.write.delete_where")
    t.wrap(W, "insert", "core.write.insert")
    for mod in (UPD, MRG, DEL):
        t.wrap(mod, "stage_validated_source",
               "core.write.stage_validated_source")
    t.wrap(UPD, "discover_matched_files", "core.write.discover_matched_files")

    for mod in (V, INS, UPD, MRG, DEL):
        if hasattr(mod, "precheck_dataframe_deferred"):
            t.wrap(mod, "precheck_dataframe_deferred", "validation.precheck")

    def probe_files(span, args, kwargs, result):
        existing = kwargs.get("existing")
        if existing is None and len(args) > 2:
            existing = args[2]
        if existing is not None:
            span["attrs"]["probe_files"] = len(existing.inputFiles())

    for mod in (V, INS):
        t.wrap(mod, "enforce_unique_constraints",
               "validation.enforce_unique_constraints", after=probe_files)
    for mod in (V, INS, UPD, MRG):
        t.wrap(mod, "enforce_check_constraints",
               "validation.enforce_check_constraints")

    def read_files(span, args, kwargs, result):
        span["attrs"]["files"] = len(args[2] if len(args) > 2
                                     else kwargs["entry_paths"])

    def read_all(span, args, kwargs, result):
        store, name = args[0], args[1]
        version = args[2] if len(args) > 2 else kwargs.get("version")
        v = store.meta(name).version if version is None else int(version)
        span["attrs"]["files"] = len(store.manifest(name, v))

    def bloom(span, args, kwargs, result):
        touched, pruned = result
        span["attrs"]["kept"] = len(touched)
        span["attrs"]["considered"] = len(touched) + pruned

    def split(span, args, kwargs, result):
        span["attrs"]["touched"] = len(result[0])

    TS = ST.TableStore
    t.wrap(TS, "split_by_key_range", "store.split_by_key_range", after=split)
    t.wrap(TS, "split_by_key_ranges", "store.split_by_key_ranges",
           after=split)
    t.wrap(TS, "replace_files", "store.replace_files")
    t.wrap(TS, "append", "store.append")
    t.wrap(TS, "bloom_prune", "store.bloom_prune", after=bloom)
    t.wrap(TS, "read_files", "store.read_files", after=read_files)
    t.wrap(TS, "read", "store.read", after=read_all)
    t.wrap_counter(TS, "manifest", "store.manifest")
    t.wrap_counter(TS, "meta", "store.meta")

    t.wrap(RD.read, "table", "core.read.table")
    t.wrap(DD, "minhash_dedup_incremental", "operators.dedup.incremental")
    t.wrap(SIM, "exact_topk_scalable", "operators.similarity.topk")


class SparkProbe:
    """Per-op Spark runtime record from the status store. Each op runs
    under its own job group; ``collect`` is called after the op, outside
    its timed region, and reads the group's jobs and their stages."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def begin(self, op_id) -> str:
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, group)
        return group

    def collect(self, group: str, wall0_ms: float, wall1_ms: float) -> dict:
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        rec = {
            "jobs": len(job_ids), "stages": 0, "tasks": 0,
            "executor_run_ms": 0, "executor_cpu_ms": 0.0, "input_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        intervals = []
        stage_ids = set()
        for jid in job_ids:
            job = self.store.job(int(jid))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else wall1_ms
                intervals.append((sub.get().getTime(), end))
            seq = job.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # stage never attempted (skipped)
                continue
            if str(st.status().toString()) != "COMPLETE":
                continue
            rec["stages"] += 1
            rec["tasks"] += int(st.numCompleteTasks())
            rec["executor_run_ms"] += int(st.executorRunTime())
            rec["executor_cpu_ms"] += int(st.executorCpuTime()) / 1e6
            rec["input_bytes"] += int(st.inputBytes())
            rec["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            rec["spill_bytes"] += (int(st.memoryBytesSpilled())
                                   + int(st.diskBytesSpilled()))
        covered, end = 0.0, wall0_ms
        for a, b in sorted(intervals):
            a, b = max(a, end, wall0_ms), min(b, wall1_ms)
            if b > a:
                covered += b - a
                end = b
        rec["driver_gap_ms"] = max(0.0, (wall1_ms - wall0_ms) - covered)
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        return rec
