"""Benchmark of the Singer CDC engine and its operator suite.

Usage, from the root of a checkout:

    python3 ingestbench/run.py --workload tap_nested --seed 1 --seconds 8 --trace 0
    python3 ingestbench/run.py --selfcheck 5 [--workload NAME ...] [--seconds 8]

One process is one closed-loop client: it sends the next micro-batch or
query pass only when the previous one returned. Inputs are generated from
the seed before the Spark session starts. Everything up to the first timed
operation (JVM start, the SCHEMA batch, warm-up batches or warm-up passes)
is ``setup_s``; operations then run until ``--seconds`` have elapsed. The
last stdout line is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics from a traced run with ``--trace 1``. Metric names and
units come from BENCHMARK.json; WORKLOADS.md explains each one.

``--selfcheck N`` runs every workload N times with seeds 1..N in child
processes and prints each metric's run-to-run spread (interquartile range
over median) against its bound.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".ingestbench")
CACHE_DIR = os.path.join(STATE_DIR, "cache")
CACHE_KEEP = 4  # input sets kept; older seeds are regenerated on demand

import gen  # noqa: E402
import probes  # noqa: E402
import truth  # noqa: E402

#: tap_nested set-up: batch 0 (SCHEMA + first data) and WARMUP-1 more
#: batches. Batch time falls for about five batches after batch 0 while the
#: JVM compiles the driver-side code; three set-up batches is what the run
#: budget allows. WORKLOADS.md has the measured curves.
TAP_WARMUP_BATCHES = 3
#: the bucket count ``__spark_entry__`` ingests with; the vacuum cadence is
#: the engine's default
TAP_N_BUCKETS = 8
#: fastest plausible batch: sizes the pre-generated log so a window of
#: --seconds does not run out of batches
TAP_BATCH_FLOOR_S = 2.0
#: read_s times its reads after this many untimed repetitions, which plan
#: and compile them ...
READ_WARMUP = 2
#: ... then takes the median of at least this many timed repetitions ...
READ_MIN_REPEATS = 5
#: ... and repeats until they add up to this many seconds
READ_MIN_S = 2.0

# bench.py's query list, fixed here so the workload stays the same while the
# repository's own scripts change
SUITE = [
    "cdc_latest_wins", "q1_pricing_summary", "q3_shipping_priority",
    "q5_revenue_by_nation", "window_top_orders", "text_profile",
    "dedup_exact", "dedup_minhash_lsh", "dedup_clusters",
    "dedup_token_jaccard", "dedup_simhash", "ann_cosine_topk", "ann_ivf_topk",
    "dedup_embedding_cosine", "text_wordcount_top",
]
#: queries whose results operator_suite's read_s collects to the client
SUITE_READS = ["cdc_latest_wins"]
SUITE_GROUPS = {
    "ops.dedup_s": ["dedup_minhash_lsh", "dedup_clusters", "dedup_token_jaccard", "dedup_simhash"],
    "ops.similarity_s": ["ann_cosine_topk", "ann_ivf_topk", "dedup_embedding_cosine"],
    "ops.text_s": ["text_profile", "text_wordcount_top"],
    "sql_s": ["cdc_latest_wins", "q1_pricing_summary", "q3_shipping_priority",
              "q5_revenue_by_nation", "window_top_orders", "dedup_exact"],
}


def log(msg: str) -> None:
    print(f"[ingestbench] {msg}", file=sys.stderr, flush=True)


def _median_read(fn) -> float:
    """Median time of repeated calls of ``fn`` after READ_WARMUP untimed
    calls."""
    for _ in range(READ_WARMUP):
        fn()
    times: list[float] = []
    while len(times) < READ_MIN_REPEATS or sum(times) < READ_MIN_S:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    log(f"reads: {', '.join(f'{t:.3f}' for t in times)} s")
    return statistics.median(times)


def _prune_cache() -> None:
    entries = sorted((os.path.join(CACHE_DIR, e) for e in os.listdir(CACHE_DIR)),
                     key=os.path.getmtime)
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------- workloads


class TapNested:
    """Zendesk-shaped two-stream tap in ~2k-message micro-batches, each
    staged as one offset-prefixed file and committed by
    ``StreamingDriver.run_available(finalize=False)``."""

    #: timed batches at least; the first of them is often still on the
    #: warm-up slope, so op_s_p50 averages it with the next
    min_ops = 2

    def __init__(self, seed: int, seconds: float, work: str):
        n = TAP_WARMUP_BATCHES + math.ceil(seconds / TAP_BATCH_FLOOR_S) + 1
        self.paths = gen.tap_log(CACHE_DIR, seed, n)
        self.work = work
        self.lake = os.path.join(work, "lake")
        self.inbox = os.path.join(work, "inbox")
        self.applied: list[str] = []
        #: storage amplification after each set-up batch
        self.space_amps: list[float] = []
        #: lake bytes written per traced batch, counted from the directory
        self.written: dict[int, int] = {}
        #: time spent scanning the lake during set-up, kept out of setup_s
        self.probe_s = 0.0

    def events(self, path: str) -> int:
        with open(path) as fh:
            return sum('"type": "RECORD"' in ln or '"type": "DELETED_RECORD"' in ln for ln in fh)

    def setup(self, spark) -> None:
        from singer_target_clickhouse_spark.config import Config
        from singer_target_clickhouse_spark.streaming import StreamingDriver

        os.makedirs(self.inbox)
        self.driver = StreamingDriver(
            spark, Config(lake_root=self.lake, n_buckets=TAP_N_BUCKETS), self.inbox,
            os.path.join(self.work, "checkpoint"), offsets_in_log=True,
        )
        times = []
        for i in range(TAP_WARMUP_BATCHES):
            times.append(self._commit(i))
            t0 = time.perf_counter()
            sizes, live = probes.lake_files(self.lake)
            self.space_amps.append(sum(sizes.values()) / sum(sizes[p] for p in live))
            self.probe_s += time.perf_counter() - t0
        self.live_files = len(live)
        log(f"set-up batches: {', '.join(f'{t:.2f}' for t in times)} s")

    def exhausted(self, i: int) -> bool:
        return TAP_WARMUP_BATCHES + i >= len(self.paths)

    def _commit(self, i: int) -> float:
        path = self.paths[i]
        shutil.copy(path, os.path.join(self.inbox, os.path.basename(path)))
        self.applied.append(path)
        t0 = time.perf_counter()
        self.driver.run_available(finalize=False)
        return time.perf_counter() - t0

    def op(self, i: int, traced: bool, tracer) -> tuple[float, int]:
        dt = self._commit(TAP_WARMUP_BATCHES + i)
        return dt, self.events(self.applied[-1])

    def mark(self) -> None:
        """Before a traced batch: the lake's files so far count as seen."""
        self._seen = set(probes.lake_files(self.lake)[0])

    def probe(self, i: int) -> None:
        """After traced batch ``i``: the bytes it wrote and the live files."""
        sizes, live = probes.lake_files(self.lake)
        self.written[i] = sum(size for p, size in sizes.items() if p not in self._seen)
        self.live_files = len(live)

    def finish(self) -> None:
        self.driver.engine.finalize()

    def read_s(self) -> float:
        from pyspark.sql import functions as F

        cat = self.driver.engine.catalog

        def reads():
            root = cat.read(gen.TICKETS)
            comments = cat.read(f"{gen.TICKETS}__comments")
            attachments = cat.read(f"{gen.TICKETS}__comments__attachments")
            root.groupBy("status").agg(F.count("*"), F.sum("score")).collect()
            root.join(comments, root.id == comments._root_id).groupBy("priority").agg(
                F.count("*"), F.max("author_id")).collect()
            comments.join(attachments, ["_root_id", "_level_0_index"]).agg(
                F.sum("size")).collect()

        return _median_read(reads)

    def space_amp(self) -> float:
        # Sampled over the fixed set-up batches rather than the window, whose
        # length varies: the lake's footprint grows between vacuums.
        return statistics.mean(self.space_amps)

    def checks(self) -> list[tuple[str, bool, str]]:
        expected, state = truth.expected_tables(self.applied)
        cat = self.driver.engine.catalog
        out = []
        for table, want in sorted(expected.items()):
            df = cat.read(table)
            cols = [c for c in df.columns if c not in truth.VERSION_COLUMNS]
            got = Counter(truth.row_hash(r.asDict()) for r in df.select(*cols).collect())
            out.append((f"table {table}", got == want,
                        f"{got.total()} rows, expected {want.total()}"))
        got_state = self.driver.engine.read_state()
        out.append(("_state.json", got_state == state, f"{got_state} vs {state}"))
        return out

    def layer_metrics(self, traced_ops: list[int], op_times: list[float], acc: dict) -> None:
        """Driver and lake-directory metrics of the traced batches."""
        acc["driver.call_s"] = statistics.mean(op_times[i] for i in traced_ops)
        acc["driver.overhead_s"] = acc["driver.call_s"] - acc.get("engine.apply_s", 0.0)
        written = sum(self.written[i] for i in traced_ops)
        acc["lake.bytes_written"] = written / len(traced_ops)
        acc["lake.write_amp"] = written / sum(
            os.path.getsize(self.paths[TAP_WARMUP_BATCHES + i]) for i in traced_ops)
        acc["lake.files_live"] = self.live_files


class OperatorSuite:
    """``bench.py``'s 15 queries from ``__spark_entry__.queries()`` to a
    noop sink, as repeated serial passes after one warm-up pass whose
    collected results are checked against DuckDB."""

    min_ops = 1

    def __init__(self, seed: int, seconds: float, work: str):
        self.dir = gen.suite_tables(CACHE_DIR, seed)
        self.probe_s = 0.0

    def setup(self, spark) -> None:
        os.environ.pop("STCS_BENCH_DOC_CAP", None)  # the suite's own row cap: off
        import __spark_entry__

        self.spark = spark
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

        def collect(name):
            df = self.queries[name](spark, self.dir)
            return df.columns, [tuple(r) for r in df.collect()]

        # Warm-up: one pass that collects every result, for the DuckDB
        # oracles to check, submitted from one thread per core (about half
        # the serial time). A serial warm-up pass to the noop sink after it
        # cost about 14 s of every run and took only a few percent off the
        # first timed pass; WORKLOADS.md has the measured passes.
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            self.results = dict(zip(SUITE, pool.map(collect, SUITE)))

    def exhausted(self, i: int) -> bool:
        return False

    def op(self, i: int, traced: bool, tracer) -> tuple[float, int]:
        t_pass = time.perf_counter()
        for name in SUITE:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.dir)
            if traced:
                tracer.record(f"query.{name}.plan", *_plan_interval(df))
            df.write.format("noop").mode("overwrite").save()
            if traced:
                tracer.record(f"query.{name}", t0, time.perf_counter())
        return time.perf_counter() - t_pass, len(SUITE)

    def mark(self) -> None:
        pass

    def probe(self, i: int) -> None:
        pass

    def finish(self) -> None:
        pass

    def read_s(self) -> float:
        def reads():
            for name in SUITE_READS:
                self.queries[name](self.spark, self.dir).collect()

        return _median_read(reads)

    def space_amp(self) -> float:
        # Placeholder: the suite writes nothing, so there is no footprint of
        # the program to measure. The metric list is shared by all workloads.
        return 1.0

    def checks(self) -> list[tuple[str, bool, str]]:
        import duckdb
        from tools.check_oracles import normalize

        con = duckdb.connect()
        for f in os.listdir(self.dir):
            if f.endswith(".parquet"):
                con.sql(f"create view {f[:-8]} as select * from '{os.path.join(self.dir, f)}'")
        out = []
        for name in SUITE:
            cols, rows = self.results[name]
            res = con.sql(self.oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            ok = sorted(cols) == sorted(ocols) and normalize(rows, cols) == normalize(orows, ocols)
            out.append((f"query {name}", ok, f"{len(rows)} rows, oracle {len(orows)}"))
        con.close()
        return out

    def layer_metrics(self, traced_ops: list[int], op_times: list[float], acc: dict) -> None:
        pass


def _plan_interval(df) -> tuple[float, float]:
    """Force analysis + optimisation + planning of a fresh DataFrame; the
    interval spans the phase time its QueryExecution tracker recorded."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.executedPlan()
    phases = qe.tracker().phases()
    ms = sum(phases.apply(k).durationMs() for k in ("analysis", "optimization", "planning")
             if phases.contains(k))
    return t0, t0 + ms / 1000


WORKLOADS = {"tap_nested": TapNested, "operator_suite": OperatorSuite}


# ---------------------------------------------------------------- session


def start_spark(work: str):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every scratch file of the JVM and its Python workers in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("ingestbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return spark, jvm_pid


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ metrics


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


#: spans reported as "<name>_s" seconds per traced operation
SPAN_SECONDS = ("shred.plan", "merge.upsert", "merge.append", "merge.orphan_delete",
                "catalog.write", "catalog.commit", "catalog.snapshot", "catalog.vacuum")
#: spans also reported as calls per traced operation
SPAN_COUNTS = {"shred.plan": "shred.calls", "catalog.vacuum": "catalog.vacuum_calls"}


def layer_metrics(wl, tracer: probes.Tracer, op_times: list[float], traced_ops: list[int],
                  spark_by_op: dict[int, dict]) -> dict[str, float]:
    """Per-layer metrics: seconds and counts per traced operation (means),
    except ``engine.finalize_s`` / ``merge.pk_check_s`` (the one finalize
    call), ``schema.build_meta_s`` (whole run, set-up included) and
    ``lake.files_live`` (at the end)."""
    ids = {f"op{i}" for i in traced_ops}
    spans = tracer.by_op(ids | {"finalize"})
    n = len(traced_ops)
    acc: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        acc[key] = acc.get(key, 0.0) + v / n

    for i in traced_ops:
        op_spans = spans.get(f"op{i}", [])
        apply_s = 0.0
        for name, t0, t1 in op_spans:
            dur = t1 - t0
            if name == "engine.apply":
                apply_s += dur
                others = [(a, b) for nm, a, b in op_spans if nm != "engine.apply"]
                add("engine.self_s", dur - probes.covered((t0, t1), others))
            elif name in SPAN_SECONDS:
                add(f"{name}_s", dur)
                if name in SPAN_COUNTS:
                    add(SPAN_COUNTS[name], 1)
            elif name.startswith("query."):
                add(f"{name}_s" if name.endswith(".plan") else f"{name}.s", dur)
        add("engine.apply_s", apply_s)
        for k, v in spark_by_op[i].items():
            add("spark.jobs_per_op" if k == "spark.jobs" else k, v)

    for name, t0, t1 in spans.get("finalize", []):
        if name in ("engine.finalize", "merge.pk_check"):
            acc[f"{name}_s"] = acc.get(f"{name}_s", 0.0) + t1 - t0
    acc["schema.build_meta_s"] = sum(t1 - t0 for name, _op, t0, t1 in tracer.spans
                                     if name == "schema.build_meta")
    for group, names in SUITE_GROUPS.items():
        acc[group] = sum(acc.get(f"query.{q}.s", 0.0) for q in names)
    wl.layer_metrics(traced_ops, op_times, acc)
    untraced = [op_times[i] for i in range(len(op_times)) if i not in traced_ops]
    traced = [op_times[i] for i in traced_ops]
    acc["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    acc["trace.overhead_frac"] = acc["trace.overhead_s"] / statistics.median(untraced)
    return acc


# --------------------------------------------------------------------- run


def run(args) -> int:
    spec = _spec()
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    # fails here, before any result, when the package is not in the checkout
    sys.path.insert(0, ROOT)
    import pyspark  # noqa: F401
    import singer_target_clickhouse_spark  # noqa: F401

    os.makedirs(CACHE_DIR, exist_ok=True)
    work = os.path.join(STATE_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_gen = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, args.seconds, work)
    gen_s = time.perf_counter() - t_gen
    _prune_cache()

    spark = None
    tracer = probes.Tracer()
    try:
        spark, jvm_pid = start_spark(work)
        if args.trace:
            tracer.install_engine()
            tracer.enabled = True
        wl.setup(spark)
        stats = probes.SparkStats(spark) if args.trace else None

        # ---- timed window: closed loop until --seconds have elapsed
        t_first = time.perf_counter()
        setup_s = t_first - T_START - gen_s - wl.probe_s
        cpu0 = probes.proc_cpu_s(jvm_pid)
        steal0 = probes.host_cpu_ticks()
        jvm0 = probes.jvm_compile_gc_s(spark)
        op_times: list[float] = []
        ok_times: list[float] = []
        traced_ops: list[int] = []
        spark_by_op: dict[int, dict] = {}
        units_done, failed_ops = 0, 0
        #: time of the traced run's own probes (status store, lake scan),
        #: kept out of the window; untraced runs, which give the end-to-end
        #: metrics, run no probe inside it
        probe_s = 0.0
        min_ops = max(3, wl.min_ops) if args.trace else wl.min_ops
        i = 0
        while True:
            # a traced run alternates untraced and traced operations, so the
            # tracing overhead is measured within one process; with at least
            # untraced-traced-untraced, a steady drift in operation time
            # cancels out of it
            traced = bool(args.trace) and i % 2 == 1
            tracer.enabled, tracer.op = traced, f"op{i}"
            if traced:
                t_probe = time.perf_counter()
                stats.mark()
                wl.mark()
                probe_s += time.perf_counter() - t_probe
            t0 = time.perf_counter()
            try:
                dt, done = wl.op(i, traced, tracer)
                units_done += done
                ok_times.append(dt)
            except Exception:
                failed_ops += 1
                dt = time.perf_counter() - t0
                log(f"operation {i} failed:\n{traceback.format_exc()}")
            op_times.append(dt)
            if traced:
                t_probe = time.perf_counter()
                traced_ops.append(i)
                spark_by_op[i] = stats.collect()
                wl.probe(i)
                probe_s += time.perf_counter() - t_probe
            i += 1
            if i >= min_ops and (time.perf_counter() - t_first - probe_s >= args.seconds
                                 or wl.exhausted(i)):
                break
        cpu_s = probes.proc_cpu_s(jvm_pid) - cpu0
        tracer.enabled, tracer.op = bool(args.trace), "finalize"
        try:
            wl.finish()
            finish_failed = 0
        except Exception:
            finish_failed = 1
            log(f"finalize failed:\n{traceback.format_exc()}")
        t_end = time.perf_counter()
        steal1 = probes.host_cpu_ticks()
        jit_s, gc_s = (b - a for a, b in zip(jvm0, probes.jvm_compile_gc_s(spark)))
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        tracer.enabled = False
        window_s = t_end - t_first - probe_s
        n_ops = len(op_times)

        metrics = {
            "setup_s": setup_s,
            "op_s_p50": statistics.median(ok_times) if ok_times else float("nan"),
            "work_per_s": units_done / window_s,
            "cpu_s_per_op": cpu_s / n_ops,
            "rss_peak_mb": probes.proc_hwm_mb(jvm_pid),
            "read_s": wl.read_s(),
            "space_amp": wl.space_amp(),
        }
        if args.trace:
            metrics = layer_metrics(wl, tracer, op_times, traced_ops, spark_by_op)
        checks = wl.checks()
    finally:
        tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    bad = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        if not ok:
            log(f"check failed: {name}: {detail}")
    attempted = n_ops + 1 + len(checks)
    failed = failed_ops + finish_failed + len(bad)
    log(f"{args.workload} seed={args.seed}: {n_ops} operations in {window_s:.2f} s "
        f"window ({', '.join(f'{t:.2f}' for t in op_times)} s), set-up {setup_s:.2f} s, "
        f"input generation {gen_s:.2f} s, {steal:.1%} of the machine's CPU time stolen "
        f"by other guests in the window, JIT compiling {jit_s:.1f} s and GC {gc_s:.2f} s "
        f"in the window, {time.perf_counter() - T_START:.1f} s in all")
    print(f"failed_frac {failed / attempted:.4f} share ({failed} of {attempted})")
    out = {}
    for name, unit in units.items():
        value = metrics.get(name, 0.0)
        out[name] = {"value": value, "unit": unit}
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


# --------------------------------------------------------------- selfcheck


def selfcheck(args) -> int:
    spec = _spec()
    names = args.workload or [w["name"] for w in spec["workloads"]]
    kind = "per_layer" if args.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in spec[kind]}
    seconds = args.seconds or spec["run_seconds"]
    for wname in names:
        values: dict[str, list[float]] = {}
        for seed in range(1, args.selfcheck + 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wname,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            log(f"{wname} seed {seed}: exit {proc.returncode}, {time.perf_counter() - t0:.1f} s, "
                f"correct={res['correct']}")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {wname}: {args.selfcheck} runs")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _q2, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            verdict = "" if b is None else ("ok" if spread <= b / 3 else
                                            "within bound" if spread <= b else "TOO NOISY")
            print(f"{k:42s} median {med:12.6g}  spread {spread:7.2%}  "
                  f"bound {'-' if b is None else f'{b:.0%}'}  {verdict}")
            print(f"    values {json.dumps([round(v, 4) for v in vs])}")
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selfcheck", type=int, default=0, metavar="RUNS")
    args = p.parse_args()
    if args.selfcheck:
        return selfcheck(args)
    if not args.workload or len(args.workload) != 1 or args.seconds is None:
        p.error("a run needs exactly one --workload and --seconds")
    args.workload = args.workload[0]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
