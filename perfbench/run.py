"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload merge_batches --seed 1 \
        --seconds 14 --trace 0

Run from the root of a checkout. The run builds nothing: it imports
``mssql_dataframe_spark`` from the checkout, generates its inputs from
``--seed``, sets the tables up ``SETUP_REPS`` times, runs the
workload's fixed op list once (closed loop, one client), checks every
op against the workload's oracle, and prints

* a ``report {...}`` line with every end-to-end metric (including
  the unbounded ``failed_op_frac`` and ``first_op_ms``), the host
  record and the residue counts, and
* as the last line, the result object ``{"correct", "attempted",
  "failed", "metrics"}``: the end-to-end metrics with ``--trace 0``,
  the per-layer metrics with ``--trace 1``.

All scratch lives in ``.perfbench_runs/`` under the checkout and is
removed at the end of the run, except the per-run result record (and,
when traced, the span dump) in ``.perfbench_runs/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
CPUS = 2
DRIVER_MEMORY = "2g"
# End-to-end metrics printed on the report line but not on the result
# line, so not bounded in BENCHMARK.json: failed_op_frac is 0 on a
# correct run, and first_op_ms is one JVM-cold sample per process,
# which no number of ops in a run makes steady (see README.md).
REPORT_ONLY = ("failed_op_frac", "first_op_ms")


def tail_index(n: int) -> int:
    """Index (into n ascending samples) of the highest percentile that
    has at least 10 samples above it."""
    return max(0, n - 11)


def tail_percentile(n: int) -> float:
    return 100.0 * tail_index(n) / max(1, n - 1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def tree_files(root: str) -> dict[str, tuple]:
    out = {}
    for d, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def residue_dirs(root: str) -> int:
    return sum(
        1 for d, dirs, _ in os.walk(root) for x in dirs
        if x.startswith(".stage_")
    )


def cached_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def jvm_hwm_kb(spark) -> int:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception as e:  # already gone: nothing left to stop
        print(f"gateway shutdown: {e!r}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "mssql_dataframe_spark",
                                       "__init__.py")):
        print(f"perfbench: no mssql_dataframe_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(one of {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]

    import mssql_dataframe_spark

    if not os.path.abspath(mssql_dataframe_spark.__file__).startswith(ROOT):
        print("perfbench: mssql_dataframe_spark resolved outside the checkout",
              file=sys.stderr)
        return 2
    import mssql_dataframe_spark.session as session

    runs = os.path.join(ROOT, ".perfbench_runs")
    results_dir = os.path.join(runs, "results")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(runs, f"{tag}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    for d in (results_dir, tmp, os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CPUS, os.cpu_count() or CPUS))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    # every JVM of the run (the spark-submit launcher too) keeps its
    # temp files in the run dir; hsperfdata would go to /tmp regardless
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p]
    )
    import tempfile

    tempfile.tempdir = tmp
    try:
        host = {"loadavg_1m_before": os.getloadavg()[0]}
        steal0, total0 = cpu_ticks()
        tracer = None
        if args.trace:
            from spans import Tracer, install_layer_spans

            tracer = Tracer()
            install_layer_spans(tracer)
        spark = session.connect(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            },
        )
        try:
            return run(args, cls, spark, run_dir, results_dir, tag, tracer,
                       host, steal0, total0)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, cls, spark, run_dir, results_dir, tag, tracer, host,
        steal0, total0) -> int:
    from mssql_dataframe_spark import SparkEngine

    t_connected = time.perf_counter()
    if tracer is not None:
        from spans import SparkProbe

        probe = SparkProbe(spark)

    # -- set-up, SETUP_REPS times; the last one is measured --------------
    rep_s = []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        rep = os.path.join(run_dir, f"rep{r}")
        in_dir = os.path.join(rep, "inputs")
        os.makedirs(in_dir)
        wl = cls(args.seed, args.seconds)
        ops = wl.generate(in_dir)
        eng = SparkEngine(spark, store_root=os.path.join(rep, "store"))
        if tracer is not None:
            tracer.op = f"setup{r}"
            with tracer.span("store.load"):
                wl.load(eng)
        else:
            wl.load(eng)
        rep_s.append(time.perf_counter() - t0)
        if r < SETUP_REPS - 1:
            shutil.rmtree(rep)
    store_root = eng.store.root
    if tracer is not None:
        trace_actions(tracer, wl)
    setup_s = (t_connected - T_START) + statistics.median(rep_s)

    # -- timed phase: fixed op list, one client, closed loop -------------
    lat, failed, errors = [], 0, []
    files = tree_files(store_root)
    written = input_bytes = 0
    per_op: list[dict] = []
    for i, op in enumerate(ops):
        rec = {"i": i, "kind": op["kind"], "main": op["main"]}
        if tracer is not None:
            with tracer.untraced():
                group = probe.begin(i)
                before = eng.store.manifest(wl.table,
                                            eng.store.meta(wl.table).version)
            tracer.op = i
            rt0 = tracer.round_trips
            wall0 = time.time() * 1000
        t0 = time.perf_counter()
        try:
            result = wl.run_op(op)
            raised = None
        except Exception as e:  # counted as a failed op, run continues
            result, raised = None, e
        dt = time.perf_counter() - t0
        lat.append(dt)
        if tracer is not None:
            rec["round_trips"] = tracer.round_trips - rt0
            with tracer.untraced():
                rec["spark"] = probe.collect(group, wall0, time.time() * 1000)
                rec["cached_rdds"] = cached_rdds(spark)
                after = eng.store.manifest(wl.table,
                                           eng.store.meta(wl.table).version)
            b_paths = {e["path"] for e in before}
            added = [e for e in after if e["path"] not in b_paths]
            a_paths = {e["path"] for e in after}
            rec["files_rewritten"] = len(b_paths - a_paths)
            rec["files_carried"] = len(b_paths & a_paths)
            rec["rows_added_files"] = sum(int(e.get("rows") or 0) for e in added)
            rec["source_rows"] = wl.source_rows(op)
            rec["files_live"] = len(after)
            tracer.op = f"check{i}"
        ok = raised is None
        if ok:
            try:
                ok = bool(wl.check_op(op, result))
            except Exception as e:  # oracle could not confirm the output
                raised, ok = e, False
        if not ok:
            failed += 1
            why = repr(raised) if raised else "wrong result"
            errors.append(f"op {i} ({op['kind']}): {why}")
        now = tree_files(store_root)
        new = sum(v[2] for p, v in now.items() if files.get(p) != v)
        files = now
        written += new
        input_bytes += op.get("bytes", 0)
        rec["bytes_written"] = new
        rec["ms"] = dt * 1000
        per_op.append(rec)

    # -- after the timed phase: oracle, space, residue, memory -----------
    if tracer is not None:
        tracer.op = "final"
    try:
        final_ok = bool(wl.final_check())
    except Exception as e:
        final_ok = False
        errors.append(f"final check: {e!r}")
    live, schema = wl.live_frame()
    import pyarrow as pa
    import pyarrow.parquet as pq

    live_path = os.path.join(run_dir, "live.parquet")
    pq.write_table(pa.Table.from_pandas(live, schema=schema,
                                        preserve_index=False), live_path)
    store_bytes = sum(v[2] for v in tree_files(store_root).values())
    residue = residue_dirs(store_root)
    cached_after = cached_rdds(spark)
    peak_rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                   + jvm_hwm_kb(spark)) / 1024.0
    steal1, total1 = cpu_ticks()
    host["loadavg_1m_after"] = os.getloadavg()[0]
    host["steal_ticks"] = steal1 - steal0
    host["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    host["cpus"] = int(os.environ["SPARK_GRAFT_CPUS"])

    main_idx = [i for i, op in enumerate(ops) if op["main"]]
    first = main_idx[0]
    warm = sorted(lat[i] for i in main_idx[1:])
    n_warm = len(warm)
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / sum(lat), "1/s"),
        "main_op_p50_ms": (statistics.median(warm) * 1000, "ms"),
        "main_op_tail_ms": (warm[tail_index(n_warm)] * 1000, "ms"),
        "first_op_ms": (lat[first] * 1000, "ms"),
        "space_amp": (store_bytes / os.path.getsize(live_path), "ratio"),
        "write_amp": (written / max(1, input_bytes), "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "failed_op_frac": (failed / len(ops), "ratio"),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "ops": len(ops), "main_ops": len(main_idx),
        "main_op": wl.main, "samples_in_percentiles": n_warm,
        "tail_percentile": round(tail_percentile(n_warm), 1),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "store_bytes": store_bytes, "live_bytes": os.path.getsize(live_path),
        "setup_reps_s": rep_s, "host": host,
        "store.residue_dirs": residue, "spark.cached_rdds_after_op": cached_after,
        "final_table_matches_oracle": final_ok, "errors": errors[:20],
    }
    if hasattr(wl, "planted_total"):
        report["planted_dups_found"] = wl.planted_found
        report["planted_dups_total"] = wl.planted_total
    correct = failed == 0 and final_ok

    if tracer is not None:
        metrics = layer_metrics(tracer, per_op, main_idx, first, lat, len(ops))
        metrics["store.residue_dirs"] = (residue, "count")
        metrics["spark.cached_rdds_after_op"] = (cached_after, "count")
        report["layer_metrics"] = {k: v for k, (v, _) in metrics.items()}
        tracer.dump(os.path.join(results_dir, f"{tag}-spans.jsonl"))
        out = metrics
    else:
        out = {k: e2e[k] for k in e2e if k not in REPORT_ONLY}
    report["per_op"] = per_op
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    report.pop("per_op")
    print("report " + json.dumps(report, default=str), flush=True)
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }), flush=True)
    return 0


def trace_actions(tracer, wl) -> None:
    """Span the workload's own action and release calls: the part of a
    read or operator op that runs after the package call returns."""
    def rows(span, args, kwargs, result):
        span["attrs"]["rows"] = len(result)

    for attr, name, after in (("action", "core.read.action", rows),
                              ("dedup_action", "operators.dedup.action", rows),
                              ("topk_action", "operators.similarity.action",
                               None),
                              ("release", "operators.release", None)):
        if hasattr(wl, attr):
            tracer.wrap(wl, attr, name, after=after)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer, per_op, main_idx, first, lat, n_ops) -> dict:
    """Per-layer metrics of a traced run. Timings are medians over the
    ops (cold first op excluded) in which the layer ran; ``*_per_op``
    counts are medians over the main ops after the first."""
    ops = [i for i in range(n_ops) if i != first]
    warm_main = [i for i in main_idx if i != first]
    layers = {i: tracer.op_layers(i) for i in range(n_ops)}
    setup = [tracer.op_layers(f"setup{r}") for r in range(SETUP_REPS)]

    def self_ms(name):
        return _median(layers[i][name]["self"] * 1000
                       for i in ops if name in layers[i])

    def dur_ms(name):
        return _median(layers[i][name]["dur"] * 1000
                       for i in ops if name in layers[i])

    def attr(name, key):
        return _median(layers[i][name]["attrs"].get(key, 0)
                       for i in ops if name in layers[i])

    def main_med(f):
        return _median(f(i) for i in warm_main)

    def count(i, name):
        return tracer.counts.get((i, name), 0)

    m = {}
    m["session.connect_ms"] = (
        tracer.op_layers("setup").get("session.connect", {}).get("dur", 0)
        * 1000, "ms")
    m["core.create.ddl_ms"] = (_median(
        s.get("core.create.ddl", {}).get("dur", 0) * 1000 for s in setup), "ms")
    m["store.load_ms"] = (_median(
        (s["store.load"]["dur"] - s.get("core.create.ddl", {}).get("dur", 0))
        * 1000 for s in setup), "ms")
    for name in ("core.write.merge", "core.write.update",
                 "core.write.delete_where", "core.write.insert",
                 "core.write.stage_validated_source",
                 "core.write.discover_matched_files",
                 "validation.precheck",
                 "validation.enforce_unique_constraints",
                 "validation.enforce_check_constraints",
                 "store.replace_files", "store.append", "store.bloom_prune",
                 "core.read.table", "operators.dedup.incremental",
                 "operators.similarity.topk"):
        m[f"{name}.self_ms"] = (self_ms(name), "ms")
    verbs = {f"core.write.{v}" for v in
             ("merge", "update", "delete_where", "insert",
              "discover_matched_files")}
    m["core.write.candidate_files_per_op"] = (_median(
        sum(tracer.child_attr(i, n, verbs, "touched")
            for n in ("store.split_by_key_range", "store.split_by_key_ranges"))
        for i in ops if verbs.intersection(layers[i])), "count")
    m["validation.unique_probe_files_per_op"] = (_median(
        layers[i]["validation.enforce_unique_constraints"]["attrs"].get(
            "probe_files", 0)
        + tracer.child_attr(i, "store.read_files",
                            {"validation.enforce_unique_constraints"}, "files")
        for i in ops if "validation.enforce_unique_constraints" in layers[i]),
        "count")
    m["store.files_rewritten_per_op"] = (
        main_med(lambda i: per_op[i]["files_rewritten"]), "count")
    m["store.files_carried_per_op"] = (
        main_med(lambda i: per_op[i]["files_carried"]), "count")
    rewrites = [i for i in warm_main if per_op[i]["files_rewritten"]]
    src = sum(per_op[i]["source_rows"] for i in rewrites)
    rewritten_rows = sum(per_op[i]["rows_added_files"] for i in rewrites)
    m["store.rewrite_useful_frac"] = (
        src / rewritten_rows if rewritten_rows else 0.0, "ratio")
    m["store.bytes_written_per_op"] = (
        main_med(lambda i: per_op[i]["bytes_written"]), "B")
    m["store.files_live"] = (per_op[-1]["files_live"], "count")
    m["store.manifest.calls_per_op"] = (
        main_med(lambda i: count(i, "store.manifest")), "count")
    m["store.meta.calls_per_op"] = (
        main_med(lambda i: count(i, "store.meta")), "count")
    kept = sum(layers[i].get("store.bloom_prune", {}).get("attrs", {})
               .get("kept", 0) for i in ops)
    considered = sum(layers[i].get("store.bloom_prune", {}).get("attrs", {})
                     .get("considered", 0) for i in ops)
    m["store.bloom_keep_frac"] = (kept / considered if considered else 0.0,
                                  "ratio")
    m["store.read_files.files_per_op"] = (main_med(lambda i: sum(
        layers[i].get(n, {}).get("attrs", {}).get("files", 0)
        for n in ("store.read_files", "store.read"))), "count")
    m["core.read.action_ms"] = (dur_ms("core.read.action"), "ms")
    m["core.read.rows_per_op"] = (attr("core.read.action", "rows"), "count")
    m["operators.dedup.action_ms"] = (dur_ms("operators.dedup.action"), "ms")
    m["operators.dedup.dups_per_op"] = (
        attr("operators.dedup.action", "rows"), "count")
    m["operators.similarity.action_ms"] = (
        dur_ms("operators.similarity.action"), "ms")
    m["operators.release_ms"] = (dur_ms("operators.release"), "ms")
    for key, unit in (("jobs", "count"), ("stages", "count"),
                      ("tasks", "count"), ("executor_run_ms", "ms"),
                      ("executor_cpu_ms", "ms"), ("input_bytes", "B"),
                      ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
                      ("driver_gap_ms", "ms")):
        m[f"spark.{key}_per_op"] = (
            main_med(lambda i: per_op[i]["spark"][key]), unit)
    m["py4j.round_trips_per_op"] = (
        main_med(lambda i: per_op[i]["round_trips"]), "count")
    m["trace.ops_per_s"] = (n_ops / sum(lat), "1/s")
    return m


if __name__ == "__main__":
    sys.exit(main())
