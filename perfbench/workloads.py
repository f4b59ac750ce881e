"""The benchmark's workloads, driven through the program's public functions.

Each workload is a single-process, closed-loop client with one call
outstanding.  A run sets the session up ``SETUPS`` times, runs one
untimed warm-up pass, which pays the JVM's and the Python workers'
first-use costs, then repeats the workload's pass while the next pass
would still end within ``--seconds``, and at least ``MIN_PASSES``
times, then checks every output, the warm-up pass's too, against a
DuckDB twin.  Every end-to-end time is a median over the timed passes.
Outputs are checked after the measured region; a call that raised or
returned a wrong result counts as a failed operation.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time

import duckdb
import pandas as pd

from sales_forecast_mlops_at_scale_spark import cache, catalog
from sales_forecast_mlops_at_scale_spark.pipeline import last_n_forecast_days, run_weekly
from sales_forecast_mlops_at_scale_spark.plans import ml_queries, star_queries, tpch_queries
from sales_forecast_mlops_at_scale_spark.session import Clock, get_spark
from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
    file_event_source,
    run_stream_ingest,
)
from tools.check_oracle import _canon as canon

import gen
from spans import COUNTERS, Tracer, layer_metrics, median, spark_counters

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
#: Set-ups per run; ``setup_s`` is their median.  The first one launches
#: the JVM and is also reported alone as ``session.start_s``.
SETUPS = 3
#: Untimed passes before the measured ones: the first pass also pays the
#: first use of the JVM's code paths and of the Python workers.
WARMUP_PASSES = 1
#: Timed passes per run at least, so that a median over timed passes
#: never rests on one or two of them.
MIN_PASSES = 3
#: Warehouse tables at 1/100 of TPC-H sf1 (lineitem ≈ 60 k rows): the
#: queries' cost at this size is the per-query and per-job floor, which
#: is what the plans layer controls.
WAREHOUSE_SCALE = 0.01
WAREHOUSE_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")
FORECAST_COLUMNS = ["store", "productname", "forecast_date", "forecast_sale", "created_on", "id"]


def _decimals(x: float) -> int:
    text = repr(round(x, 6))
    return len(text.split(".")[1]) if "." in text and "e" not in text else 0


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """``got`` equals the oracle's ``want``: the same ``canon`` hash, or a
    rounding tie — the same rows except float values one unit apart in
    the last decimal of their column.  That unit is set by the most
    decimals any oracle value of the column prints, which is the scale
    the query rounds to.  Queries round float sums inside the query;
    when the exact sum sits on a half, the summation order decides the
    rounding direction (q9 on some seeds), and both are right."""
    if canon(got) == canon(want):
        return True
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)
    floats = [c for c in cols if got[c].dtype.kind == "f" and want[c].dtype.kind == "f"]
    if not floats:
        return False
    unit = {c: 10.0 ** -max([_decimals(v) for v in want[c].dropna()] + [1]) for c in floats}

    def rows(df):
        df = df[cols].copy()
        for c in cols:
            df[c] = df[c].round(6) if c in floats else df[c].astype(str)
        keys = [c for c in cols if c not in floats] + floats
        return df.sort_values(keys).itertuples(index=False, name=None)

    for a, b in zip(rows(got), rows(want)):
        for c, x, y in zip(cols, a, b):
            if c not in floats:
                if x != y:
                    return False
            elif x != y and not abs(x - y) <= 1.01 * unit[c]:
                return False
    return True


def count_failures(results: list[tuple[str, pd.DataFrame | None]], expected: dict[str, pd.DataFrame]) -> int:
    """Operations whose call raised (result ``None``) or whose result is
    not the expected one; each wrong result is printed."""
    failed = 0
    for key, got in results:
        if got is None:
            failed += 1
        elif not same_result(got, expected[key]):
            print(f"wrong result for {key}: got {canon(got)}, expected {canon(expected[key])}")
            failed += 1
        elif canon(got) != canon(expected[key]):
            print(f"rounding tie in {key}: got {canon(got)}, oracle {canon(expected[key])}")
    return failed


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set of this Python process and of the driver JVM."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        raise RuntimeError(f"no VmHWM for pid {pid}")

    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    return hwm_kb("self") / 1024, hwm_kb(jvm_pid) / 1024


class Run:
    """State of one benchmark run: its temp root, session and tracer."""

    def __init__(self, root: str, seed: int, seconds: float, trace: bool):
        self.root, self.seed, self.seconds = root, seed, seconds
        self.tracer = Tracer(trace)
        self.spark = None
        self.setup_times: list[float] = []
        #: share of CPU time the hypervisor gave to other guests while
        #: measuring; high values mark a run slowed by the host
        self.steal_ratio = 0.0
        self.peak_rss_mb = 0.0
        self.measured_s = 0.0
        self.pass_s: list[float] = []
        self.warmup: list = []

    def setup(self, prepare=None) -> None:
        """Start (or restart) the session and run its first job; then the
        workload's own preparation through the program."""
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
                    # A fixed heap and young generation: with G1's adaptive
                    # sizing, peak RSS moved between about 1.2 and 1.7 GB
                    # from run to run.  The C1 compiler only: with C2, pass
                    # times kept falling for ten passes, by a different
                    # amount in each run; with C1 they are nearly flat from
                    # the second pass on.
                    "spark.driver.extraJavaOptions": (
                        f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -Xmn256m -XX:TieredStopAtLevel=1"
                    ),
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()
            if prepare is not None:
                prepare()
            self.setup_times.append(time.perf_counter() - t0)
        self.tracer.bind(self.spark)

    def close(self) -> None:
        """Stop the session and the driver JVM, and wait for the JVM."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    def measure(self, one_pass) -> list:
        """Run ``WARMUP_PASSES`` untimed and untraced passes of
        ``one_pass`` (kept in ``warmup``), then repeat it while the next
        pass would end within ``seconds``, and at least ``MIN_PASSES``
        times; return the timed passes."""
        enabled, self.tracer.enabled = self.tracer.enabled, False
        self.warmup = [one_pass(i) for i in range(WARMUP_PASSES)]
        self.tracer.enabled = enabled
        start, passes, pass_s, cpu0 = time.perf_counter(), [], self.pass_s, _cpu_jiffies()
        while True:
            p0 = time.perf_counter()
            passes.append(one_pass(WARMUP_PASSES + len(passes)))
            now = time.perf_counter()
            pass_s.append(now - p0)
            if len(passes) >= MIN_PASSES and now - start + (now - p0) > self.seconds:
                cpu1 = _cpu_jiffies()
                self.steal_ratio = (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1)
                self.measured_s = now - start
                # before the output checks, whose DuckDB memory is not the program's
                py_mb, jvm_mb = peak_rss_mb(self.spark)
                self.peak_rss_mb = py_mb + jvm_mb
                print(json.dumps({"passes": len(passes), "pass_s": pass_s,
                                  "peak_rss_mb": {"python": py_mb, "jvm": jvm_mb}}))
                return passes

    def common_metrics(self, ops: list[int]) -> dict[str, float]:
        """``ops[i]``: the operations pass ``i`` completed."""
        return {
            "setup_s": statistics.median(self.setup_times),
            "peak_rss_mb": self.peak_rss_mb,
            "ops_per_s": median([n / s for n, s in zip(ops, self.pass_s)]),
        }

    def traced_common(self, layers: tuple[str, ...]) -> dict[str, float]:
        self.tracer.collect_jobs()
        out = layer_metrics(self.tracer, layers)
        out["session.start_s"] = self.setup_times[0]
        out["trace.overhead_s"] = self.tracer.overhead_s
        out["trace.overhead_ratio"] = self.tracer.overhead_s / self.measured_s
        out["host.steal_ratio"] = self.steal_ratio
        return out


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


# ---------------------------------------------------------------------------
# warehouse_queries


#: Queries no cache layer serves: a TPC-H aggregate (q1), six-way join
#: (q5) and filtered scan (q6), and a star-schema window and top-N.
PLAIN_QUERIES = {
    **{name: tpch_queries.QUERIES[name] for name in (
        "q1_pricing_summary", "q5_local_supplier_volume", "q6_forecast_revenue",
    )},
    **{name: star_queries.QUERIES[name] for name in ("q_latest_per_key", "q_topn_recent")},
}
#: The ML readout: the cache layer pins its grouped-map training output
#: (5-split walk-forward CV per series) in a persist slot, so its warm
#: call reuses the slot and its cold call retrains.
READOUT = "q_train_metrics_summary"
WAREHOUSE_QUERIES = {**PLAIN_QUERIES, READOUT: ml_queries.QUERIES[READOUT]}


def warehouse_queries(run: Run) -> dict:
    """``WAREHOUSE_QUERIES``, each run once cold (after
    ``cache.clear_slots()`` and ``clearCache()``) and once warm, per pass."""
    data = gen.write_warehouse(os.path.join(run.root, "data"), run.seed, WAREHOUSE_SCALE)
    run.setup(lambda: [catalog.load_table(run.spark, data, t) for t in WAREHOUSE_TABLES])
    spark, tracer = run.spark, run.tracer
    catalyst_ms, storage_peak = [0.0], [0, 0]

    def call(name):
        """One query call: (seconds, result frame or None)."""
        t0 = time.perf_counter()
        try:
            with tracer.span("plans", "build"):
                df = WAREHOUSE_QUERIES[name].fn(spark, data)
            with tracer.span("plans", "exec"):
                pdf = df.toPandas()
        except Exception as e:  # noqa: BLE001 — a failed call is a counted outcome
            print(f"query {name} failed: {type(e).__name__}: {str(e)[:300]}")
            return time.perf_counter() - t0, None
        wall = time.perf_counter() - t0
        if tracer.enabled:
            with tracer.bookkeeping():
                phases = df._jdf.queryExecution().tracker().phases()
                for phase in ("analysis", "optimization", "planning"):
                    if phases.get(phase).isDefined():
                        catalyst_ms[0] += phases.get(phase).get().durationMs()
                infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
                storage_peak[0] = max(storage_peak[0], len(infos))
                storage_peak[1] = max(storage_peak[1], sum(i.memSize() + i.diskSize() for i in infos))
        return wall, pdf

    def one_pass(_):
        """({query: (cold s, warm s)}, [(query, result)])"""
        times, results = {}, []
        for name in WAREHOUSE_QUERIES:
            with tracer.span("cache", "clear"):
                cache.clear_slots()
                spark.catalog.clearCache()
            cold, pdf = call(name)
            results.append((name, pdf))
            warm, pdf = call(name)
            results.append((name, pdf))
            times[name] = (cold, warm)
        return times, results

    passes = run.measure(one_pass)
    con = duckdb.connect()
    for t in WAREHOUSE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    expected = {name: con.execute(q.oracle).df() for name, q in WAREHOUSE_QUERIES.items()}
    results = [r for p in run.warmup + passes for r in p[1]]
    failed = count_failures(results, expected)
    # per query, the median over passes of its cold (warm) call
    cold = {n: median([p[0][n][0] for p in passes]) for n in WAREHOUSE_QUERIES}
    warm = {n: median([p[0][n][1] for p in passes]) for n in WAREHOUSE_QUERIES}
    if not tracer.enabled:
        metrics = run.common_metrics([len(p[1]) for p in passes])
        metrics["cold_s"] = sum(cold.values())
        metrics["warm_s"] = sum(warm.values())
    else:
        metrics = run.traced_common(("plans",))
        build = spark_counters(tracer.select("plans", "build"))
        metrics["plans.build_s"] = build["wall_s"]
        metrics["plans.build_jobs"] = build["jobs"]
        metrics["plans.exec_s"] = spark_counters(tracer.select("plans", "exec"))["wall_s"]
        metrics["plans.catalyst_ms"] = catalyst_ms[0]
        metrics["cache.clear_s"] = sum(s.wall_s for s in tracer.select("cache"))
        metrics["cache.persisted_rdds_peak"] = storage_peak[0]
        metrics["cache.cached_bytes_peak"] = storage_peak[1]
        metrics["cache.warm_over_cold"] = warm[READOUT] / cold[READOUT]
    return {"attempted": len(results), "failed": failed, "metrics": metrics}


# ---------------------------------------------------------------------------
# forecast_chain


def _move_in(files: list[str], stream_dir: str) -> None:
    for f in files:
        os.rename(f, os.path.join(stream_dir, os.path.basename(f)))


#: Chain shape, sized so that three passes fit a run (see NOTES.md).
CHAIN_STORES = 100
CHAIN_HISTORY_DAYS = 28
CHAIN_DAILY_DRAINS = 1
CHAIN_READS_PER_DAY = 2


def chain_pass(spark, tracer: Tracer, base: str, seed: int) -> dict:
    """One pass of the chain on fresh tables under ``base``; returns its
    record."""
    inp = gen.write_chain(
        os.path.join(base, "input"),
        seed,
        stores=CHAIN_STORES,
        history_days=CHAIN_HISTORY_DAYS,
        daily_drains=CHAIN_DAILY_DRAINS,
        reads_per_day=CHAIN_READS_PER_DAY,
    )
    tables, ckpt = os.path.join(base, "tables"), os.path.join(base, "checkpoint")
    sales_path = os.path.join(tables, "sales.parquet")
    rec = {"inp": inp, "tables": tables, "ckpt": ckpt, "ok": {}, "drains": [],
           "weeklies": [], "reads": [], "generations": [], "drain_spans": []}

    def step(key, fn):
        """Time one call; record whether it raised."""
        t0 = time.perf_counter()
        try:
            out = fn()
            rec["ok"][key] = True
        except Exception as e:  # noqa: BLE001 — a failed call is a counted outcome
            print(f"{key} failed: {type(e).__name__}: {str(e)[:300]}")
            rec["ok"][key], out = False, None
        return time.perf_counter() - t0, out

    def drain(kind="drain"):
        with tracer.span("streaming", kind) as sp:
            run_stream_ingest(
                spark,
                source=file_event_source(spark, inp.stream_dir),
                target_path=sales_path,
                checkpoint_path=ckpt,
            )
        if tracer.enabled:
            with tracer.bookkeeping():
                sp.batches = _batches(ckpt) - sum(s.batches for s in rec["drain_spans"])
                rec["drain_spans"].append(sp)

    def weekly(as_of):
        with tracer.span("pipeline", "weekly"):
            sales = catalog.load_table(spark, tables, "sales")
            metrics, forecasts = run_weekly(sales, clock=Clock(as_of))
            with tracer.span("ml", "train"):
                metrics.write.mode("append").parquet(os.path.join(tables, "train_metrics.parquet"))
            with tracer.span("ml", "forecast"):
                forecasts.write.mode("append").parquet(os.path.join(tables, "forecast_results.parquet"))
        rec["generations"].append(as_of)

    def read(store):
        with tracer.span("pipeline", "serve_build"):
            forecasts = catalog.load_table(spark, tables, "forecast_results")
            df = last_n_forecast_days(forecasts).filter(f"store = {store}").select(*FORECAST_COLUMNS)
        with tracer.span("pipeline", "serve_exec"):
            return df.toPandas()

    def reads(day):
        for i, store in enumerate(inp.reads[day]):
            t, pdf = step(f"read-{day}-{i}", lambda: read(store))
            rec["reads"].append((f"read-{day}-{i}", store, len(rec["generations"]), t, pdf))

    t0 = time.perf_counter()
    _move_in(inp.backfill_files, inp.stream_dir)
    rec["backfill_s"], _ = step("backfill", lambda: drain("backfill"))
    rec["weeklies"].append(step("weekly-0", lambda: weekly(inp.as_of))[0])
    reads(0)
    for day, files in enumerate(inp.daily_files):
        _move_in(files, inp.stream_dir)
        rec["drains"].append(step(f"drain-{day}", drain)[0])
        if day == len(inp.daily_files) - 1:
            rerun = inp.as_of + dt.timedelta(days=len(inp.daily_files))
            rec["weeklies"].append(step("weekly-1", lambda: weekly(rerun))[0])
        reads(day + 1)
    rec["chain_s"] = time.perf_counter() - t0
    return rec


def forecast_chain(run: Run) -> dict:
    """Per pass: bulk drain → weekly train/forecast → first read → daily
    drains that each redeliver the previous day, with dashboard reads
    after each → weekly rerun (after the last drain, before its reads)."""
    run.setup()
    tracer = run.tracer
    passes = run.measure(
        lambda i: chain_pass(run.spark, tracer, os.path.join(run.root, f"chain-{i}"), run.seed)
    )
    attempted = failed = 0
    for rec in run.warmup + passes:
        outcomes = check_chain(rec)
        attempted += len(outcomes)
        failed += sum(not ok for ok in outcomes.values())
    if not tracer.enabled:
        metrics = run.common_metrics([len(p["ok"]) for p in passes])
        # each step's median over passes
        metrics["cold_s"] = median([p["backfill_s"] for p in passes]) + median([p["weeklies"][0] for p in passes])
        metrics["warm_s"] = median([sum(p["drains"]) for p in passes]) + median([p["weeklies"][1] for p in passes])
    else:
        metrics = run.traced_common(("streaming", "ml", "pipeline"))
        metrics.update(chain_layer_metrics(tracer, passes))
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def check_chain(rec: dict) -> dict[str, bool]:
    """Per operation of one pass: did it run and is its output right?

    - drains: the ingested rows are exactly the distinct (store, product,
      date) keys of every file fed, redelivered copies included;
    - weekly runs: every series got 7 forecast rows in that generation;
    - reads: equal to the DuckDB twin "newest generation, last 7 days,
      this store" over the generations written before the read.
    """
    ok = dict(rec["ok"])
    inp, tables = rec["inp"], rec["tables"]
    con = duckdb.connect()
    want_rows = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT store, productname, date FROM "
        f"read_json('{inp.stream_dir}/*.json', format='newline_delimited'))"
    ).fetchone()[0]
    got_rows = con.execute(
        f"SELECT count(*) FROM read_parquet('{tables}/sales.parquet/**/*.parquet', hive_partitioning=true)"
    ).fetchone()[0]
    for key in ok:
        if key == "backfill" or key.startswith("drain-"):
            ok[key] = ok[key] and got_rows == want_rows
    fr = f"read_parquet('{tables}/forecast_results.parquet/*.parquet')"
    per_gen = dict(
        con.execute(
            f"SELECT created_on::DATE, count(*) FROM (SELECT created_on, store, productname, count(*) AS n "
            f"FROM {fr} GROUP BY ALL) WHERE n = 7 GROUP BY 1"
        ).fetchall()
    )
    for i, as_of in enumerate(rec["generations"]):
        ok[f"weekly-{i}"] = ok[f"weekly-{i}"] and per_gen.get(as_of) == inp.stores
    cols = ", ".join(FORECAST_COLUMNS)
    for key, store, n_gen, _, pdf in rec["reads"]:
        if pdf is None:
            continue
        newest = rec["generations"][n_gen - 1]
        twin = con.execute(
            f"SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY store, productname "
            "ORDER BY forecast_date DESC, id DESC) AS k FROM (SELECT *, row_number() OVER ("
            "PARTITION BY store, productname, forecast_date ORDER BY created_on DESC, id DESC) AS v "
            f"FROM {fr} WHERE created_on::DATE <= ?) WHERE v = 1) WHERE k <= 7 AND store = ?",
            [newest, store],
        ).df()
        ok[key] = canon(pdf) == canon(twin)
    return ok


def chain_layer_metrics(tracer: Tracer, passes: list[dict]) -> dict[str, float]:
    out = {}
    con = duckdb.connect()

    def count(path: str) -> int:
        return con.execute(f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]

    drains = [s for p in passes for s in p["drain_spans"]]
    n_batches = sum(s.batches for s in drains)
    rows_in = sum(p["inp"].events_in for p in passes)
    appended = sum(count(os.path.join(p["tables"], "sales.parquet")) for p in passes)
    out["streaming.batches"] = n_batches
    out["streaming.batch_p50_s"] = median([s.wall_s / s.batches for s in drains if s.batches])
    out["streaming.rows_in"] = rows_in
    out["streaming.rows_appended"] = appended
    out["streaming.append_ratio"] = appended / rows_in
    out["streaming.tasks_per_batch"] = spark_counters(drains)["tasks"] / max(n_batches, 1)
    out["streaming.files_written"] = sum(
        f.endswith(".parquet")
        for p in passes
        for _, _, files in os.walk(os.path.join(p["tables"], "sales.parquet"))
        for f in files
    )
    backfill = tracer.select("streaming", "backfill")
    out["streaming.backfill_rows_per_s"] = (
        CHAIN_STORES * CHAIN_HISTORY_DAYS / median([s.wall_s for s in backfill])
    )
    out["streaming.drain_p50_s"] = median([s.wall_s for s in tracer.select("streaming", "drain")])
    train, forecast = tracer.select("ml", "train"), tracer.select("ml", "forecast")
    series = sum(count(os.path.join(p["tables"], "train_metrics.parquet")) for p in passes)
    out["ml.series"] = series
    out["ml.train_s"] = sum(s.wall_s for s in train)
    out["ml.forecast_s"] = sum(s.wall_s for s in forecast)
    out["ml.series_per_s"] = series / (out["ml.train_s"] + out["ml.forecast_s"])
    build, execs = tracer.select("pipeline", "serve_build"), tracer.select("pipeline", "serve_exec")
    serve = spark_counters(build + execs)
    out["pipeline.serve_build_s"] = sum(s.wall_s for s in build)
    out["pipeline.serve_exec_s"] = sum(s.wall_s for s in execs)
    out["pipeline.serve_jobs"] = serve["jobs"]
    out["pipeline.serve_tasks"] = serve["tasks"]
    out["pipeline.serve_p50_ms"] = median([r[3] for p in passes for r in p["reads"]]) * 1000
    out["pipeline.train_forecast_s"] = median([w for p in passes for w in p["weeklies"]])
    out["pipeline.chain_s"] = median([p["chain_s"] for p in passes])
    return out


def _batches(checkpoint: str) -> int:
    commits = os.path.join(checkpoint, "commits")
    return sum(1 for f in os.listdir(commits) if f.isdigit()) if os.path.isdir(commits) else 0


WORKLOADS = {"warehouse_queries": warehouse_queries, "forecast_chain": forecast_chain}


def _counters(layer: str) -> set[str]:
    return {f"{layer}.{c}" for c, _ in COUNTERS}


_TRACED_COMMON = {"session.start_s", "trace.overhead_s", "trace.overhead_ratio", "host.steal_ratio"}
#: Per-layer metrics each workload measures; a traced run prints the
#: others as 0.
OWNS = {
    "warehouse_queries": _TRACED_COMMON | _counters("plans") | {
        "plans.build_s", "plans.build_jobs", "plans.exec_s", "plans.catalyst_ms",
        "cache.clear_s", "cache.persisted_rdds_peak", "cache.cached_bytes_peak", "cache.warm_over_cold",
    },
    "forecast_chain": _TRACED_COMMON | _counters("streaming") | _counters("ml") | _counters("pipeline") | {
        "streaming.batches", "streaming.batch_p50_s", "streaming.rows_in", "streaming.rows_appended",
        "streaming.append_ratio", "streaming.tasks_per_batch", "streaming.files_written",
        "streaming.backfill_rows_per_s", "streaming.drain_p50_s",
        "ml.series", "ml.train_s", "ml.forecast_s", "ml.series_per_s",
        "pipeline.serve_build_s", "pipeline.serve_exec_s", "pipeline.serve_jobs", "pipeline.serve_tasks",
        "pipeline.serve_p50_ms",
        "pipeline.train_forecast_s", "pipeline.chain_s",
    },
}


def declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(SPEC) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def result(out: dict, trace: bool, owns: set[str]) -> dict:
    """The run's last output line.  Untraced runs print every end-to-end
    metric; traced runs print every per-layer metric.  Each metric of the
    workload's own (every end-to-end one, or ``owns`` when traced) must
    have been measured; the other per-layer metrics print 0."""
    units = declared(trace)
    got = out["metrics"]
    unknown = set(got) - set(units)
    if unknown:
        raise ValueError(f"undeclared metrics: {sorted(unknown)}")
    missing = (owns if trace else set(units)) - set(got)
    if missing:
        raise ValueError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {name: {"value": float(got.get(name, 0.0)), "unit": unit} for name, unit in units.items()},
    }
