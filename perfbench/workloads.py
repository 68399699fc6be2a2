"""The benchmark workloads, each a single closed-loop client: every
load, read or query starts only after the previous one has returned.

A workload function gets a ``Run`` (session, scratch root, seed, window
length, tracer, operation accounting) and fills ``run.result`` and
``run.windows``; it runs its set-up, then the timed window (twice in a
traced run: traced, then untraced), then its untimed correctness checks.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import gen
from spans import dir_files

import pyarrow.parquet as pq

PT0 = dt.datetime(2026, 1, 1)


def processing_time(n: int) -> str:
    """The processing.time of the n-th load of a run (one minute apart)."""
    return (PT0 + dt.timedelta(minutes=n)).isoformat(sep=" ")


def cache_entries(spark) -> int:
    """Entries in the session's CacheManager (cached plans, materialized or
    not); falls back to persisted RDDs if the field is not reachable."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    try:
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return int(field.get(cm).size())
    except Exception:  # noqa: BLE001 - field layout differs across Spark versions
        return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def manifest_info(table_path: str) -> tuple[int, int]:
    """(live segments, live merge-on-read patches) of a table's newest
    manifest, read directly from its JSON."""
    d = os.path.join(table_path, "_manifest")
    names = sorted(n for n in os.listdir(d) if n.endswith(".json"))
    with open(os.path.join(d, names[-1])) as fh:
        mf = json.load(fh)
    patches = {e["dir"] for s in mf["segments"] for e in (s.get("dv") or [])}
    return len(mf["segments"]), len(patches)


class Run:
    def __init__(self, spark, root, seed, seconds, tracer, deadline):
        self.spark, self.root, self.seed, self.seconds = spark, root, seed, seconds
        self.tracer, self.deadline = tracer, deadline
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.result: dict = {}
        self.windows: list[dict] = []  # one per timed window

    def fail(self, what: str, msg: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {msg}"[:400])

    def attempt(self, what: str, fn):
        """One attempted operation; an exception is recorded, never raised."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception as exc:  # noqa: BLE001 - every failure is counted, none kills the run
            self.fail(what, f"{type(exc).__name__}: {exc}")
            return False, None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.fail(what, detail or "mismatch")

    def new_window(self) -> dict:
        w = {"ops": [], "loads": [], "reads": [], "rows": 0, "slice_bytes": 0,
             "silver_bytes": 0, "cache_after_load": [], "segments": [], "patches": [],
             "passes": [], "leaked": [], "wall0": time.time(),
             "traced": self.tracer.recording}
        self.windows.append(w)
        return w


def _metadata(root: str, entity: dict):
    from datalakefoundation_spark.metadata.models import Metadata
    from datalakefoundation_spark.metadata.sources import JsonMetadataSettings

    config = {
        "environment": {"name": "BENCH", "timezone": "UTC", "root_folder": root,
                        "systemfield_prefix": "", "output": "paths"},
        "connections": [{"name": "bench", "enabled": True, "settings": {}}],
        "entities": [{"id": 1, "enabled": True, "connection": "bench",
                      "transformations": [], **entity}],
    }
    path = os.path.join(root, "metadata.json")
    with open(path, "w") as fh:
        json.dump(config, fh)
    return Metadata(JsonMetadataSettings().initialize(path))


def _rows(table, cols) -> list[tuple]:
    return [tuple(d[c] for c in cols) for d in table.to_pylist()]


# ------------------------------------------------------------ ingestion
class Ingest:
    """Shared driver for the ingestion workloads."""

    def __init__(self, run: Run, entity: dict, strategy: str) -> None:
        from datalakefoundation_spark.processing import Processing

        self.run, self.strategy = run, strategy
        self.Processing = Processing
        self.md = _metadata(run.root, entity)
        out = self.md.get_entity(1).get_output()
        self.bronze = out.bronzepath.value
        os.makedirs(self.bronze, exist_ok=True)
        self.n = 0
        self.silver = None

    def load(self, table, expected: dict | None, window: dict | None = None) -> bool:
        """Write the next bronze slice (untimed), run one load, check its
        summary against ``expected``."""
        run = self.run
        self.n += 1
        name = f"s{self.n:05d}.parquet"
        path = f"{self.bronze}/{name}"
        pq.write_table(table, path)
        pt = processing_time(self.n)
        before = dir_files(self.silver) if window is not None and self.silver else None
        with run.tracer.span("bench.load"):
            t0 = time.perf_counter()
            ok, summary = run.attempt(f"load {self.n}", lambda: self.Processing(
                run.spark, self.md, 1, name, {"processing.time": pt}).process())
            took = time.perf_counter() - t0
        if self.silver is None and ok:
            self.silver = self.Processing(run.spark, self.md, 1, name).silver_table().path
        if ok and expected is not None:
            self._check_summary(summary, expected)
        if window is not None:
            window["loads"].append(took)
            window["rows"] += table.num_rows
            window["slice_bytes"] += os.path.getsize(path)
            window["cache_after_load"].append(cache_entries(run.spark))
            if before is not None:
                after = dir_files(self.silver)
                window["silver_bytes"] += sum(s for p, s in after.items() if p not in before)
            segs, patches = manifest_info(self.silver)
            window["segments"].append(segs)
            window["patches"].append(patches)
        run.spark.catalog.clearCache()
        return ok

    def _check_summary(self, s, exp: dict) -> None:
        got = {k: getattr(s, k) for k in exp}
        self.run.check(f"summary {self.n}", got == exp, f"got {got} expected {exp}")
        if self.strategy == "historic":
            ident = s.inserted + s.updated + s.unchanged == s.records_in_slice
            what = "inserted+updated+unchanged == records_in_slice"
        else:
            ident = s.inserted + s.updated + s.deleted == s.records_in_slice
            what = "inserted+updated+deleted == records_in_slice"
        self.run.check(f"identity {self.n}", ident, f"{what} fails: {s}")

    def silver_bytes(self) -> int:
        return sum(dir_files(self.silver).values())

    def compact_bytes(self, df) -> int:
        out = os.path.join(self.run.root, "compact_copy")
        df.coalesce(1).write.mode("overwrite").parquet(out)
        return sum(dir_files(out).values())


def _window_loop(run: Run, step, cycles: int = 0) -> None:
    """Timed operations until ``run.seconds`` have passed. ``step(window)``
    runs one operation and returns True when its load folded segments; with
    ``cycles`` the window also runs until that many compactions and ends on
    one, so it spans whole compaction cycles."""
    w = run.new_window()
    t_start = time.perf_counter()
    folds = 0
    while True:
        run.tracer.load_id += 1
        compacted = step(w)
        folds += bool(compacted)
        over = time.perf_counter() - t_start >= run.seconds
        if over and folds >= cycles and (compacted or not cycles):
            break
        if time.time() > run.deadline:
            break
    w["wall1"] = time.time()
    w["elapsed"] = time.perf_counter() - t_start


def _timed(run: Run, body) -> None:
    """The timed window. A traced run first runs it with the layer wrappers
    installed (the same phase of the run as an untraced run's window), then
    once more without them as the reference for the tracing overhead."""
    run.result["setup_end"] = time.perf_counter()
    if run.tracer.active:
        run.tracer.install()
        try:
            body()
        finally:
            run.tracer.uninstall()
    body()


def _silver(run: Run, ing: Ingest):
    from datalakefoundation_spark.tables.lake_table import LakeTable

    return LakeTable(run.spark, ing.silver, warn_on_layout_mismatch=False).read()


def _space(run: Run, ing: Ingest, read) -> None:
    """space_amp: silver bytes on disk / the live rows as one compact file."""
    ok, live = run.attempt("space_amp", lambda: ing.compact_bytes(read()))
    if ok and live:
        run.result["space_amp"] = ing.silver_bytes() / live


def merge_trickle(run: Run, n_boot: int = 40_000) -> None:
    """Copy-on-write Merge with delete inference over a PK-bucketed target.
    Slices carry random keys, so every load touches (and rewrites) every
    bucket and the table stays one segment: auto-optimize never fires here."""
    entity = {"name": "orders", "processtype": "merge",
              "watermark": [{"column_name": "SeqNr", "operation": "and",
                             "operation_group": 0, "expression": "'${last_value}'"}],
              "columns": [{"name": "ID", "fieldroles": ["businesskey"]}],
              "settings": {"delete_missing": True, "bucketing.rows_per_bucket": 5_000}}
    ing = Ingest(run, entity, "merge")
    model = gen.MergeModel()
    feed = gen.OrdersFeed(run.seed, n_boot, boot_days=400, n_new=600, n_upd=300,
                          step=4, drop_frac=0.25, model=model)

    def one(rows, window=None):
        exp = model.apply(rows, processing_time(ing.n + 1))
        ing.load(gen.orders_table(rows), exp, window)
        return False

    boot = feed.boot
    model.apply(boot, processing_time(1))
    ing.load(gen.orders_table(boot), {"records_in_slice": len(boot), "inserted": len(boot)})
    for _ in range(3):  # warm-up
        one(feed.next_slice())
    _timed(run, lambda: _window_loop(run, lambda w: one(feed.next_slice(), w)))
    cols = gen.ORDERS_COLS + ["deleted", "lastSeen"]
    _, df = run.attempt("read silver", lambda: _silver(run, ing).select(*cols).toArrow())
    if df is not None:
        got = gen.content_hash(_rows(df, cols))
        want = gen.content_hash(model.expected_rows())
        run.check("merge content hash", got == want, f"silver {got} expected {want}")
    _space(run, ing, lambda: _silver(run, ing))


def scd2_mor_mixed(run: Run, n_boot: int = 20_000, threshold: int = 2) -> None:
    """Historic (SCD2) merge-on-read entity with catalog output; every load
    is followed by a downstream read of silver through its catalog name."""
    view = "silver.orders_hist"
    entity = {"name": "orders_hist", "processtype": "historic",
              "watermark": [{"column_name": "SeqNr", "operation": "and",
                             "operation_group": 0, "expression": "'${last_value}'"}],
              "columns": [{"name": "ID", "fieldroles": ["businesskey"]}],
              "settings": {"write_mode": "mor", "silver_table": view,
                           "maintenance.auto_optimize": threshold}}
    ing = Ingest(run, entity, "historic")
    model = gen.Scd2Model()
    feed = gen.OrdersFeed(run.seed, n_boot, boot_days=400, n_new=400, n_upd=400,
                          step=4, drop_frac=0.0, model=model)
    from bench import _force

    def read(window=None):
        with run.tracer.span("bench.read"):
            t0 = time.perf_counter()
            ok, _ = run.attempt("silver read", lambda: _force(run.spark.table(view)))
            took = time.perf_counter() - t0
        if window is not None:
            window["reads"].append(took)
        return ok

    def one(window=None, with_read=True):
        rows = feed.next_slice()
        exp = model.apply(rows, processing_time(ing.n + 1))
        segs0 = manifest_info(ing.silver)[0]
        ing.load(gen.orders_table(rows), exp, window)
        if with_read:
            read(window)
        if window is not None:
            window["ops"].append(window["loads"][-1] + window["reads"][-1])
        return manifest_info(ing.silver)[0] < segs0

    boot = feed.boot
    model.apply(boot, processing_time(1))
    ing.load(gen.orders_table(boot), {"records_in_slice": len(boot), "inserted": len(boot),
                                      "updated": 0, "unchanged": 0, "deleted": 0})
    one()  # warm-up: one whole compaction cycle, read once
    while not one(with_read=False):
        pass
    _timed(run, lambda: _window_loop(run, one, cycles=2))
    cols = gen.ORDERS_COLS + ["ValidFrom", "IsCurrent"]
    _, df = run.attempt("read silver", lambda: run.spark.table(view).select(*cols).toArrow())
    if df is not None:
        rows = _rows(df, cols)
        cur = [r[:-1] for r in rows if r[-1]]
        got = gen.content_hash(cur)
        want = gen.content_hash(model.current_rows())
        run.check("scd2 current-row hash", got == want, f"silver {got} expected {want}")
        counts: dict[int, int] = {}
        current: dict[int, int] = {}
        for r in rows:
            counts[r[0]] = counts.get(r[0], 0) + 1
            current[r[0]] = current.get(r[0], 0) + (1 if r[-1] else 0)
        run.check("scd2 versions per key", counts == model.version_counts(),
                  "version counts per key differ")
        bad = [k for k in model.live_keys() if current.get(k) != 1]
        run.check("scd2 one current version per live key", not bad,
                  f"{len(bad)} keys, e.g. {bad[:5]}")
    _space(run, ing, lambda: run.spark.table(view))


# ------------------------------------------------------------ operators
def operators(run: Run, sf: float = 0.001) -> None:
    """Every bench.HEADLINE key through the noop sink, in a seeded order per
    pass; checked once, untimed, against each key's DuckDB oracle."""
    import bench
    import duckdb

    from datalakefoundation_spark.verification import all_queries, extra_queries

    spark = run.spark
    sf_dir = os.path.join(run.root, "sf")
    rows = gen.write_operator_tables(sf_dir, run.seed, sf)
    registry = {**extra_queries(), **all_queries()}
    keys = list(bench.HEADLINE)
    con = duckdb.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    # correctness pass (untimed; it also compiles every key's plans). The
    # oracles run on one worker thread, the sole user of the DuckDB
    # connection, while Spark computes the same keys.
    tolerant = []
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle = {k: pool.submit(lambda sql: con.sql(sql).df(), registry.get(k, (None, None))[1])
                  for k in keys}
        for k in keys:
            fn = registry.get(k, (None, None))[0]
            ok, res = run.attempt(f"oracle {k}", lambda: (fn(spark, sf_dir).toPandas(),
                                                           oracle[k].result()))
            spark.catalog.clearCache()
            if not ok:
                continue
            verdict = _oracle_compare(res[0], res[1])
            if verdict == "float":
                tolerant.append(k)
            run.check(f"oracle {k}", verdict in ("exact", "float"), verdict)
    con.close()
    run.result["oracle_float_tolerant"] = tolerant
    rng = random.Random(run.seed)

    def passes():
        w = run.new_window()
        t_start = time.perf_counter()
        while True:
            order = list(keys)
            rng.shuffle(order)
            run.tracer.load_id += 1
            total, leaked = 0.0, 0
            for k in order:
                fn = registry.get(k, (None, None))[0]
                spark.catalog.clearCache()
                with run.tracer.span(f"operators.{k}"):
                    t0 = time.perf_counter()
                    ok, _ = run.attempt(f"query {k}", lambda: bench._force(fn(spark, sf_dir)))
                    took = time.perf_counter() - t0
                leaked += cache_entries(spark)
                if ok:
                    w["ops"].append(took)
                    total += took
            spark.catalog.clearCache()
            w["passes"].append(total)
            w["leaked"].append(leaked)
            if time.perf_counter() - t_start >= run.seconds or time.time() > run.deadline:
                break
        w["wall1"] = time.time()
        w["elapsed"] = time.perf_counter() - t_start

    _timed(run, passes)


def _oracle_compare(s_pdf, d_pdf) -> str:
    """'exact' when the canonical multisets agree (tools/check_oracle.py's
    canonicalization); 'float' when they agree only once floating-point
    cells are compared to a relative 1e-9 (the engines sum in different
    orders); otherwise a description of the first mismatch."""
    import numpy as np
    from tools.check_oracle import canon, canon_pdf

    if sorted(s_pdf.columns) != sorted(d_pdf.columns):
        return f"columns spark={sorted(s_pdf.columns)} duckdb={sorted(d_pdf.columns)}"
    if len(s_pdf) != len(d_pdf):
        return f"row count spark={len(s_pdf)} duckdb={len(d_pdf)}"
    if canon_pdf(s_pdf) == canon_pdf(d_pdf):
        return "exact"

    def is_float(v):
        return isinstance(v, (float, np.floating)) and not isinstance(v, bool)

    def keyed(pdf):
        cols = sorted(pdf.columns)
        rows = list(pdf[cols].itertuples(index=False, name=None))
        key = ["|".join(f"{float(v):.9g}" if is_float(v) else canon(v) for v in r) for r in rows]
        return [r for _, r in sorted(zip(key, rows), key=lambda t: t[0])]

    for a, b in zip(keyed(s_pdf), keyed(d_pdf)):
        for x, y in zip(a, b):
            if is_float(x) and is_float(y):
                x, y = float(x), float(y)
                if not (math.isclose(x, y, rel_tol=1e-9) or (math.isnan(x) and math.isnan(y))):
                    return f"values differ: {x!r} vs {y!r}"
            elif canon(x) != canon(y):
                return f"values differ: {canon(x)} vs {canon(y)}"
    return "float"


WORKLOADS = {
    "merge_trickle": merge_trickle,
    "scd2_mor_mixed": scd2_mor_mixed,
    "operators": operators,
}
