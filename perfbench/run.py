"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``workloads.WORKLOADS``) in this process on
``local[nproc]`` with a single closed-loop client, then prints a
human-readable report and, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns Spark's event log on and runs
the timed window twice, first with the layer wrappers of ``spans.py``
installed and then without them, and reports the per-layer metrics of the
first window plus the tracing overhead.

Every file the run writes (warehouse, event log, Spark scratch, silver
roots, generated inputs) lives under ``.perfbench_tmp/`` in the checkout
and is removed at exit; traced runs keep their span dump in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 140  # timed windows stop early past this point of the run
SPARK_MEMORY = "3g"  # driver heap: well below a small host's RAM
YOUNG_GEN = "512m"

END_TO_END = [
    ("setup_s", "s"), ("op_p50_s", "s"), ("op_mean_s", "s"), ("peak_rss_mb", "MB"),
]


def _layer_names(headline) -> list[tuple[str, str]]:
    out = [
        ("session.get_spark_s", "s"),
        ("pipeline.apply_pipeline.driver_s", "s"),
        ("processing.process.s", "s"), ("processing.process.self_s", "s"),
        ("processing.process.driver_only_s", "s"), ("processing.process.jobs", "count"),
        ("processing.get_source.s", "s"), ("processing.get_source.executor_cpu_s", "s"),
        ("processing.get_source.jobs", "count"),
        ("processing.register_silver_in_catalog.s", "s"),
        ("tables.lake_table.to_view_sql.s", "s"),
        ("processing.cache_entries_after_load", "count"),
        ("strategies.merge_state.driver_s", "s"),
        ("strategies.scd2_state.driver_s", "s"),
    ]
    for m in ("overwrite", "replace_partitions", "merge_patch"):
        p = f"tables.lake_table.{m}"
        out += [(f"{p}.s", "s"), (f"{p}.executor_cpu_s", "s"), (f"{p}.shuffle_bytes", "B"),
                (f"{p}.fetch_wait_s", "s"), (f"{p}.spill_bytes", "B"),
                (f"{p}.bytes_written", "B"), (f"{p}.files_written", "count")]
    out += [("tables.lake_table.read.driver_s", "s"), ("tables.lake_table.read.exec_s", "s"),
            ("tables.lake_table.segments_live", "count"),
            ("tables.lake_table.patches_live", "count")]
    for m in ("compact_small_segments", "optimize"):
        p = f"tables.lake_table.{m}"
        out += [(f"{p}.calls", "count"), (f"{p}.s", "s"), (f"{p}.bytes_rewritten", "B")]
    out += [("tables.lake_table.vacuum.calls", "count"), ("tables.lake_table.vacuum.s", "s"),
            ("tables.lake_table.vacuum.bytes_deleted", "B")]
    for m in ("latest_manifest", "gc_orphans"):
        out += [(f"tables.lake_table.{m}.calls", "count"), (f"tables.lake_table.{m}.s", "s")]
    for m in ("write", "latest"):
        out += [(f"watermark.WatermarkStore.{m}.calls", "count"),
                (f"watermark.WatermarkStore.{m}.s", "s")]
    out += [("log.DatalakeLogManager.log.calls", "count"),
            ("log.DatalakeLogManager.flush.calls", "count"),
            ("log.DatalakeLogManager.flush.s", "s")]
    out += [("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.executor_cpu_s", "s"),
            ("spark.gc_s", "s"), ("spark.shuffle_bytes", "B"), ("spark.spill_bytes", "B"),
            ("spark.driver_only_frac", "ratio")]
    out += [(f"operators.{k}.s", "s") for k in headline]
    out += [("operators.cache_entries_leaked", "count")]
    return out


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _git_commit() -> str:
    """HEAD of the checkout, read from .git without running git."""
    try:
        head = open(os.path.join(ROOT, ".git", "HEAD")).read().strip()
        if head.startswith("ref: "):
            ref = head[5:]
            p = os.path.join(ROOT, ".git", ref)
            if os.path.exists(p):
                return open(p).read().strip()
            for line in open(os.path.join(ROOT, ".git", "packed-refs")):
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
        return head
    except OSError:
        return "unknown (not a git checkout)"


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it: the 11th-largest sample; None below 11 samples."""
    if len(xs) < 11:
        return None, None
    s = sorted(xs)
    i = len(s) - 11
    return s[i], 100.0 * i / (len(s) - 1)


def _mean(xs):
    return sum(xs) / len(xs) if xs else None


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(w, setup_s, rss) -> dict:
    ops = w["ops"] or w["loads"]
    return {"setup_s": setup_s, "op_p50_s": _median(ops), "op_mean_s": _mean(ops),
            "peak_rss_mb": rss}


def report_lines(run, w, e2e) -> list[tuple[str, object, str]]:
    """The end-to-end metrics by the names the workloads are described
    with; a workload reports only the ones it exercises."""
    out = [("setup_s", e2e["setup_s"], "s")]
    if w["loads"]:
        tail, pct = _tail(w["loads"])
        out += [("load_p50_s", _median(w["loads"]), "s"),
                ("load_tail_s", tail, f"s (p{pct:.0f})" if pct is not None
                 else f"s (needs 11 loads, got {len(w['loads'])})"),
                ("ingest_rows_per_s", w["rows"] / sum(w["loads"]), "rows/s"),
                ("write_amp", w["silver_bytes"] / w["slice_bytes"] if w["slice_bytes"] else None,
                 "ratio"),
                ("space_amp", run.result.get("space_amp"), "ratio")]
    if w["reads"]:
        out.append(("read_p50_s", _median(w["reads"]), "s"))
    if w["passes"]:
        out.append(("operators_total_s", _median(w["passes"]), "s"))
    out += [("peak_rss_mb", e2e["peak_rss_mb"], "MB"),
            ("ops_failed_frac", run.failed / max(1, run.attempted), "ratio"),
            ("op_p50_s", e2e["op_p50_s"], "s"), ("op_mean_s", e2e["op_mean_s"], "s")]
    return out


def per_layer(tracer, jobs, stages, w, get_spark_s, headline) -> dict[str, float]:
    import spans as SP

    n_ops = max(1, len(w["passes"]) or len(w["loads"]))
    attr = SP.attribute(tracer.spans, jobs, stages)
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        p, nested = s.parent, False
        while p is not None:  # count only the outermost of same-named spans
            if p.name == s.name:
                nested = True
                break
            p = p.parent
        if not nested:
            by_name.setdefault(s.name, []).append(s)

    def tot(name, f):
        return sum(f(s) for s in by_name.get(name, [])) / n_ops

    m: dict[str, float] = {"session.get_spark_s": get_spark_s}
    for name in ("processing.process", "processing.get_source",
                 "processing.register_silver_in_catalog", "tables.lake_table.to_view_sql"):
        m[f"{name}.s"] = tot(name, lambda s: s.dur)
    m["processing.process.self_s"] = tot("processing.process", lambda s: s.self_s)
    m["processing.process.driver_only_s"] = tot(
        "processing.process", lambda s: attr[s.id]["driver_only_s"])
    for name in ("processing.process", "processing.get_source"):
        m[f"{name}.jobs"] = tot(name, lambda s: attr[s.id]["jobs"])
    m["processing.get_source.executor_cpu_s"] = tot(
        "processing.get_source", lambda s: attr[s.id]["cpu_s"])
    m["processing.cache_entries_after_load"] = _mean(w["cache_after_load"]) or 0.0
    for name in ("pipeline.apply_pipeline", "strategies.merge_state",
                 "strategies.scd2_state", "tables.lake_table.read"):
        m[f"{name}.driver_s"] = tot(name, lambda s: s.dur)
    for meth in ("overwrite", "replace_partitions", "merge_patch"):
        p = f"tables.lake_table.{meth}"
        m[f"{p}.s"] = tot(p, lambda s: s.dur)
        for key, src in (("executor_cpu_s", "cpu_s"), ("shuffle_bytes", "shuffle_bytes"),
                         ("fetch_wait_s", "fetch_wait_s"), ("spill_bytes", "spill_bytes")):
            m[f"{p}.{key}"] = tot(p, lambda s, src=src: attr[s.id][src])
        for key in ("bytes_written", "files_written"):
            m[f"{p}.{key}"] = tot(p, lambda s, key=key: s.fs.get(key, 0.0))
    m["tables.lake_table.read.exec_s"] = tot(
        "bench.read", lambda s: s.dur - attr[s.id]["driver_only_s"])
    m["tables.lake_table.segments_live"] = _mean(w["segments"]) or 0.0
    m["tables.lake_table.patches_live"] = _mean(w["patches"]) or 0.0
    for meth in ("compact_small_segments", "optimize", "vacuum"):
        p = f"tables.lake_table.{meth}"
        m[f"{p}.calls"] = tot(p, lambda s: 1.0)
        m[f"{p}.s"] = tot(p, lambda s: s.dur)
    for meth in ("compact_small_segments", "optimize"):
        p = f"tables.lake_table.{meth}"
        m[f"{p}.bytes_rewritten"] = tot(p, lambda s: s.fs.get("bytes_written", 0.0))
    m["tables.lake_table.vacuum.bytes_deleted"] = tot(
        "tables.lake_table.vacuum", lambda s: s.fs.get("bytes_deleted", 0.0))
    for name in ("tables.lake_table.latest_manifest", "tables.lake_table.gc_orphans",
                 "watermark.WatermarkStore.write", "watermark.WatermarkStore.latest",
                 "log.DatalakeLogManager.flush"):
        m[f"{name}.calls"] = tot(name, lambda s: 1.0)
        m[f"{name}.s"] = tot(name, lambda s: s.dur)
    m["log.DatalakeLogManager.log.calls"] = tot("log.DatalakeLogManager.log", lambda s: 1.0)
    sw = SP.window_totals(jobs, stages, w["wall0"], w["wall1"])
    m["spark.jobs"] = sw["jobs"] / n_ops
    m["spark.tasks"] = sw["tasks"] / n_ops
    m["spark.executor_cpu_s"] = sw["cpu_s"] / n_ops
    m["spark.gc_s"] = sw["gc_s"] / n_ops
    m["spark.shuffle_bytes"] = sw["shuffle_bytes"] / n_ops
    m["spark.spill_bytes"] = sw["spill_bytes"] / n_ops
    span_s = w["wall1"] - w["wall0"]
    m["spark.driver_only_frac"] = max(0.0, 1.0 - sw["busy_s"] / span_s) if span_s > 0 else 0.0
    for k in headline:
        m[f"operators.{k}.s"] = _median(
            [s.dur for s in by_name.get(f"operators.{k}", [])]) or 0.0
    m["operators.cache_entries_leaked"] = _mean(w["leaked"]) or 0.0
    return m


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("datalakefoundation_spark/__init__.py", "bench.py", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    import workloads  # noqa: E402 - needs the checkout on sys.path

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("local", "tmp", "warehouse", "eventlog", "lake"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = _nproc()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEMORY": SPARK_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    try:
        return _run(args, tmp, nproc, t_start, workloads)
    except Exception as exc:  # noqa: BLE001 - e.g. the session never started
        print(f"perfbench: run failed: {type(exc).__name__}: {exc}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {
            n: {"value": None, "unit": u} for n, u in END_TO_END}}))
        return 1
    finally:
        _stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def _stop_jvm() -> None:
    """Stop the SparkContext and the gateway JVM, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def _run(args, tmp, nproc, t_start, workloads) -> int:
    import bench
    import spans as SP
    from datalakefoundation_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # a fixed heap and young generation keep the JVM's resident size
        # from following the collector's adaptive sizing from run to run;
        # no perf-data file in the host's /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} "
        f"-Xms{SPARK_MEMORY} -XX:NewSize={YOUNG_GEN} -XX:MaxNewSize={YOUNG_GEN} "
        "-XX:-UsePerfData",
    }
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = SP.Tracer(spark) if args.trace else SP.NullTracer()
    run = workloads.Run(spark, os.path.join(tmp, "lake"), args.seed, args.seconds, tracer,
                        deadline=time.time() + DEADLINE_S - (time.perf_counter() - t_start))
    try:
        workloads.WORKLOADS[args.workload](run)
    except Exception as exc:  # noqa: BLE001 - the result line must always print
        run.attempted += 1
        run.fail("workload", f"{type(exc).__name__}: {exc}")
    setup_s = run.result.get("setup_end", time.perf_counter()) - t_start
    rss, rss_parts = None, (0.0, 0.0)
    try:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_parts = (_vm_hwm_mb(jvm_pid), _vm_hwm_mb(os.getpid()))
        rss = sum(rss_parts)
    except Exception as exc:  # noqa: BLE001
        run.attempted += 1
        run.fail("peak_rss", f"{type(exc).__name__}: {exc}")
    spark.stop()

    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print(f"host nproc={nproc} spark.driver.memory={SPARK_MEMORY} master=local[{nproc}] "
          f"commit={_git_commit()} client=closed-loop x1")
    print(f"peak rss: driver JVM {rss_parts[0]:.1f} MB + Python driver {rss_parts[1]:.1f} MB")
    windows = run.windows
    untraced = [w for w in windows if not w["traced"]]
    e2e = end_to_end(untraced[0], setup_s, rss) if untraced else None
    for w in windows:
        label = "traced" if w["traced"] else "untraced"
        e2e_w = end_to_end(w, setup_s, rss)
        print(f"[{label} window] {w['elapsed']:.2f} s: ops={len(w['ops'] or w['loads'])} "
              f"loads={len(w['loads'])} reads={len(w['reads'])} passes={len(w['passes'])}")
        for name, value, unit in report_lines(run, w, e2e_w):
            shown = "n/a" if value is None else f"{value:.6g}"
            print(f"  {name:<20} {shown:>14} {unit}")
        print("  op samples (s): " + " ".join(f"{x:.3f}" for x in (w["ops"] or w["loads"])))
    if len(windows) == 2:
        # the untraced window runs second, so residual JIT warm-up favours it
        # and this overstates the overhead rather than hiding it
        print("tracing overhead (traced window - the untraced window after it):")
        a, b = end_to_end(windows[1], 0, 0), end_to_end(windows[0], 0, 0)
        for k in ("op_p50_s", "op_mean_s"):
            if a[k] and b[k]:
                print(f"  {k:<20} {b[k] - a[k]:+.4f} s ({100 * (b[k] / a[k] - 1):+.1f}%)")
    if run.result.get("oracle_float_tolerant"):
        print("oracle keys equal only within float tolerance (rel 1e-9): "
              + ", ".join(run.result["oracle_float_tolerant"]))
    print(f"correctness: attempted={run.attempted} failed={run.failed} "
          f"verdict={'PASS' if run.failed == 0 else 'FAIL'}")
    for f in run.failures:
        print(f"  FAILED {f}")

    if args.trace:
        names = _layer_names(bench.HEADLINE)
        values: dict[str, float] = {}
        if len(windows) == 2:
            jobs, stages = SP.read_event_log(os.path.join(tmp, "eventlog"))
            values = per_layer(tracer, jobs, stages, windows[0], get_spark_s,
                               bench.HEADLINE)
            out = os.path.join(ROOT, ".perfbench_out",
                               f"spans-{args.workload}-{args.seed}.json")
            tracer.dump(out)
            print(f"spans written to {os.path.relpath(out, ROOT)}")
        metrics = {n: {"value": _num(values.get(n)), "unit": u} for n, u in names}
    else:
        metrics = {n: {"value": _num((e2e or {}).get(n)), "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def _num(v):
    if v is None or (isinstance(v, float) and not math.isfinite(v)):
        return None
    return float(v)


if __name__ == "__main__":
    sys.exit(main())
