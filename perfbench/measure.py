"""The process under test: one workload, one closed-loop client.

Started by ``perfbench/run.py`` in a fresh process after the generator
has written the inputs:

    python3 perfbench/measure.py --workload W --data DIR --seconds S --trace 0|1 \
        --spawn-time T --result FILE

Load model: session start, then a warm-up on the ``DIR/warm`` input
(no file shared with the timed input), then timed work on
``DIR/timed`` that never reads a cache the warm-up filled. Every call
into the engine goes through its public functions.

With ``--trace 0`` it measures the end-to-end metrics; with ``--trace 1``
it runs the per-layer ladder (each cumulative cut cold, under its own
job group) and reads Spark's status stores for each cut. Spans are kept
in memory and written next to the result at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402
from perfbench.gen import DIAMETER_PORT, REGISTRY_QUERIES, REGISTRY_SETS  # noqa: E402

INGEST_LAYERS = (
    "sources.pcap",
    "protocols.net",
    "protocols.decode",
    "operators.correlate",
    "sinks.table",
    "sinks.ledger",
)
LAYER_STATS = ("cpu_s", "gc_s", "python_s", "python_mb_in", "shuffle_mb", "spill_mb", "max_task_s")
QUERY_MODULES = (
    "relational", "events_ops", "text_ops", "dedup_ops", "vector_ops", "multimodal_ops", "protocol_ops",
)
MIN_ITERATIONS = 3
WARM_INGESTS = 2  # on the small warm-up input
LOCAL1_INGESTS = 2  # keeps a traced run under three minutes on 4 cores


# ---------------------------------------------------------------- spans
class Spans:
    """In-memory span log: name, start, end, parent, run id."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.rows)
        row = {"name": name, "start": time.time(), "end": None, "run_id": self.run_id,
               "parent": self.rows[self._stack[-1]]["name"] if self._stack else None}
        self.rows.append(row)
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield row
        finally:
            row["seconds"] = time.perf_counter() - t0
            row["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for row in self.rows:
                fh.write(json.dumps(row) + "\n")


# ---------------------------------------------------------------- status stores
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value (``"total (min, med, max ...)\\n3.1 MiB (...)"``,
    ``"12 ms"``, ``"1,234"``) → bytes, seconds or a count."""
    line = text.split("\n")[-1].strip() if "\n" in text else text.strip()
    parts = line.replace(",", "").split()
    value = float(parts[0])
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


class StatusStores:
    """Per job group figures from the app and SQL status stores (both
    live with ``spark.ui.enabled=false``)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.app = spark._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._first_execution = int(self.sql.executionsCount())

    def group(self, name: str) -> dict:
        job_ids = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(name))
        out = dict.fromkeys(LAYER_STATS, 0.0)
        for job_id in job_ids:
            stages = str(self.app.job(job_id).stageIds().mkString(","))
            for sid in filter(None, stages.split(",")):
                st = self.app.lastStageAttempt(int(sid))
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: shuffle output reused
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                tasks = self.app.taskList(st.stageId(), st.attemptId(), 100000)
                for k in range(tasks.length()):
                    dur = tasks.apply(k).duration()
                    if dur.isDefined():
                        out["max_task_s"] = max(out["max_task_s"], float(dur.get()) / 1e3)
        n = int(self.sql.executionsCount())
        execs = self.sql.executionsList(self._first_execution, n - self._first_execution)
        for k in range(execs.length()):
            ex = execs.apply(k)
            ex_jobs = {int(j) for j in filter(None, str(ex.jobs().keys().mkString(",")).split(","))}
            if not ex_jobs & job_ids:
                continue
            names = {}  # accumulator id → metric name, from "SQLPlanMetric(name,id,type)"
            for entry in str(ex.metrics().mkString("\u0002")).split("\u0002"):
                if entry.startswith("SQLPlanMetric("):
                    metric, acc, _ = entry[len("SQLPlanMetric("):-1].rsplit(",", 2)
                    names[int(acc)] = metric
            values = str(self.sql.executionMetrics(ex.executionId()).mkString("\u0002"))
            for entry in filter(None, values.split("\u0002")):
                acc, _, text = entry.partition(" -> ")
                name = names.get(int(acc))
                if name == "time to run Python workers":
                    out["python_s"] += parse_metric(text)
                elif name == "data sent to Python workers":
                    out["python_mb_in"] += parse_metric(text) / 2**20
        return out

    def cached_mb(self) -> float:
        infos = self.spark._jsc.sc().getRDDStorageInfo()
        return sum((i.memSize() + i.diskSize()) for i in infos) / 2**20


# ---------------------------------------------------------------- engine calls
def release(spark) -> None:
    from ingestor_etl_spark.plans.layout import release_caches

    release_caches()
    spark.catalog.clearCache()


def ingest(spark, glob: str, out_dir: str) -> None:
    """capture glob → Diameter table + ledger, as the batch CLI does it."""
    from ingestor_etl_spark.__main__ import build_pipeline
    from ingestor_etl_spark.sinks.ledger import append_ledger, file_counters, ledger_rows

    df, decoded = build_pipeline(spark, "diameter", glob)
    df.write.format("parquet").mode("append").save(os.path.join(out_dir, "table"))
    append_ledger(ledger_rows(file_counters(decoded)), os.path.join(out_dir, "ledger"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- ingest workload
class Ingest:
    """``diameter_mixed``: capture glob → Diameter table + ledger."""

    def __init__(self, spark, data: str, spans: Spans, report: checks.Report) -> None:
        self.spark, self.data = spark, data
        self.spans, self.report = spans, report
        self.glob = os.path.join(data, "timed", "*.pcap")
        self.warm_glob = os.path.join(data, "warm", "*.pcap")
        with open(os.path.join(data, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self.n = 0

    def out_dir(self, tag: str) -> str:
        self.n += 1
        return os.path.join(self.data, "out", f"{self.n:03d}-{tag}")

    def warm_up(self) -> None:
        with self.spans.span("warmup"):
            for _ in range(WARM_INGESTS):
                ingest(self.spark, self.warm_glob, self.out_dir("warm"))
                release(self.spark)

    def cold(self, tag: str = "cold") -> float:
        """One cold ingest of the timed input, checked; caches released after."""
        out = self.out_dir(tag)
        with self.spans.span(f"ingest.{tag}") as sp:
            ingest(self.spark, self.glob, out)
        release(self.spark)
        checks.check_ingest(self.report, self.manifest, out)
        return sp["seconds"]

    def end_to_end(self, seconds: float) -> dict:
        """Closed loop of cold ingests for ``seconds`` (at least
        ``MIN_ITERATIONS``); the median is reported."""
        cold = []
        t_end = time.perf_counter() + seconds
        while len(cold) < MIN_ITERATIONS or time.perf_counter() < t_end:
            cold.append(self.cold())
        ingest_s = statistics.median(cold)
        return {"cold_s": ingest_s, "throughput": self.manifest["decoded_messages"] / ingest_s,
                "iterations": len(cold)}

    # --------------------------------------------------- traced ladder
    def cuts(self):
        """Cumulative cuts: (layer, run) where run() builds the cut from
        the public calls and executes it, timing each call's build; it
        returns the builds, the observed counts and the output directory
        to check (a full ingest's), if any."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ingestor_etl_spark.plans.layout import materialize
        from ingestor_etl_spark.protocols.diameter import correlate_diameter, decode_diameter
        from ingestor_etl_spark.protocols.net import expand_l4
        from ingestor_etl_spark.sources.pcap import read_pcap

        spark, glob, spans = self.spark, self.glob, self.spans
        useful = ((F.col("src_port") == DIAMETER_PORT) | (F.col("dst_port") == DIAMETER_PORT)) & (
            F.col("tcp_flags").isNull() | F.col("tcp_flags").isin(16, 24))

        def decode(frames):
            # correlate_diameter materializes its input; without that
            # the decode stage alone runs in far fewer tasks
            return materialize(decode_diameter(frames))

        def build(layer, fn, *args):
            with spans.span(f"build.{layer}") as sp:
                out = fn(*args)
            return out, sp["seconds"]

        def run_cut(upto: int, observe):
            df, b = build("sources.pcap", read_pcap, spark, glob)
            builds = {"sources.pcap": b}
            steps = [("protocols.net", expand_l4), ("protocols.decode", decode),
                     ("operators.correlate", correlate_diameter)]
            for layer, fn in steps[: upto - 1]:
                df, builds[layer] = build(layer, fn, df)
            obs = Observation(f"cut{upto}")
            noop(df.observe(obs, *observe))
            return builds, obs.get, None

        rows = [F.count(F.lit(1)).alias("rows")]
        matched = [F.count(F.lit(1)).alias("n"), F.sum(F.col("matched").cast("int")).alias("m")]
        yield "sources.pcap", lambda: run_cut(1, rows)
        yield "protocols.net", lambda: run_cut(2, rows + [F.sum(useful.cast("int")).alias("useful")])
        yield "protocols.decode", lambda: run_cut(3, rows)
        yield "operators.correlate", lambda: run_cut(4, rows + matched)

        def table_cut(with_ledger: bool):
            out = self.out_dir("ladder")
            builds, observed = self.observed_ingest(out, with_ledger)
            return builds, observed, out if with_ledger else None

        yield "sinks.table", lambda: table_cut(False)
        yield "sinks.ledger", lambda: table_cut(True)

    def observed_ingest(self, out: str, with_ledger: bool = True) -> tuple[dict, dict]:
        """The batch ingest with the trace's instruments: the rows written
        to the table (and the ledger) observed, sink builds timed."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ingestor_etl_spark.__main__ import build_pipeline
        from ingestor_etl_spark.sinks.ledger import append_ledger, file_counters, ledger_rows

        rows = [F.count(F.lit(1)).alias("rows")]
        obs = Observation("table")
        with self.spans.span("build.pipeline"):
            df, decoded = build_pipeline(self.spark, "diameter", self.glob)
        with self.spans.span("build.sinks.table") as sp_w:
            writer = df.observe(obs, *rows).write.format("parquet").mode("append")
        builds = {"sinks.table": sp_w["seconds"]}
        writer.save(os.path.join(out, "table"))
        if not with_ledger:
            return builds, obs.get
        obs_l = Observation("ledger")
        with self.spans.span("build.sinks.ledger") as sp_l:
            ledger = ledger_rows(file_counters(decoded)).observe(obs_l, *rows)
        builds["sinks.ledger"] = sp_l["seconds"]
        append_ledger(ledger, os.path.join(out, "ledger"))
        return builds, obs_l.get

    def overhead(self, stores: StatusStores, seconds: float) -> tuple[float, float]:
        """Interleaved cold ingests, plain and traced (job group, observed
        rows, status stores read), for ``seconds`` and at least two of
        each: the two medians."""
        sc = self.spark.sparkContext
        plain, traced = [], []
        t_end = time.perf_counter() + seconds
        while len(traced) < 2 or time.perf_counter() < t_end:
            plain.append(self.cold())
            group = f"{self.spans.run_id}:traced:{len(traced)}"
            out = self.out_dir("traced")
            with self.spans.span("ingest.traced") as sp:
                sc.setJobGroup(group, "traced ingest")
                self.observed_ingest(out)
                sc.setJobGroup("perfbench", "untraced")
                stores.group(group)
            traced.append(sp["seconds"])
            release(self.spark)
            checks.check_ingest(self.report, self.manifest, out)
        return statistics.median(plain), statistics.median(traced)

    def per_layer(self, seconds: float) -> dict:
        stores = StatusStores(self.spark)
        sc = self.spark.sparkContext
        ingest_s, traced_s = self.overhead(stores, seconds)
        out: dict[str, float] = {}
        prev_time, prev_stats = 0.0, dict.fromkeys(LAYER_STATS, 0.0)
        for layer, run in self.cuts():
            group = f"{self.spans.run_id}:{layer}"
            sc.setJobGroup(group, layer)
            with self.spans.span(f"cut.{layer}") as sp:
                builds, observed, written = run()
            sc.setJobGroup("perfbench", "untraced")
            if layer == "operators.correlate":
                out["operators.correlate.cache_mb"] = stores.cached_mb()
            release(self.spark)
            if written:
                checks.check_ingest(self.report, self.manifest, written)
            stats = stores.group(group)
            t = sp["seconds"]
            out[f"{layer}.exec_s"] = t - prev_time
            out[f"{layer}.build_s"] = builds[layer]
            out[f"{layer}.rows_out"] = float(observed["rows"])
            for k in LAYER_STATS:
                # max_task_s is the cut's own maximum; the rest are increments
                out[f"{layer}.{k}"] = stats[k] if k == "max_task_s" else stats[k] - prev_stats[k]
            if layer == "protocols.net":
                out["protocols.net.useful_frac"] = observed["useful"] / max(1, observed["rows"])
            if layer == "operators.correlate":
                out["operators.correlate.matched_frac"] = observed["m"] / max(1, observed["n"])
            prev_time, prev_stats = t, stats
        # The exec_s increments add up to the full cut's time.
        out["trace.layer_gap_frac"] = abs(prev_time - ingest_s) / ingest_s
        out["trace.overhead_frac"] = (traced_s - ingest_s) / ingest_s
        out["driver.local1_speedup"] = self.local1() / ingest_s
        return out

    def local1(self) -> float:
        """Mean cold ingest after restarting the session on ``local[1]``
        (shuffle partitions as a fresh ``local[1]`` process sets them) and
        warming it up as the ``local[nproc]`` session was."""
        from ingestor_etl_spark.session import get_spark

        self.spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        self.spark = get_spark("perfbench-local1", **SESSION_OVERRIDES,
                               **{"spark.sql.shuffle.partitions": "1"})
        with self.spans.span("local1"):
            self.warm_up()
            return statistics.fmean(self.cold("local1") for _ in range(LOCAL1_INGESTS))


# ---------------------------------------------------------------- registry workload
class Registry:
    """``registry_cold``: one query per registry module, cold."""

    def __init__(self, spark, data: str, spans: Spans, report: checks.Report) -> None:
        from ingestor_etl_spark.queries import load_all

        self.spark, self.data, self.spans, self.report = spark, data, spans, report
        self.registry = load_all()
        self.names = list(REGISTRY_QUERIES)

    def _tmp(self, tag: str) -> None:
        # Queries that build their own inputs (protocol_ops) keep them in
        # the temp dir; a fresh one per pass keeps the timed pass from
        # reading what the warm-up wrote.
        d = os.path.join(self.data, "qtmp", tag)
        os.makedirs(d, exist_ok=True)
        tempfile.tempdir = d

    def warm_up(self) -> None:
        self._tmp("warm")
        sf_dir = os.path.join(self.data, "warm")
        with self.spans.span("warmup"):
            for name in self.names:
                with self.spans.span(f"warmup.{name}"):
                    noop(self.registry[name].fn(self.spark, sf_dir))
                release(self.spark)

    def pass_(self, p: int, traced: bool) -> dict[str, dict]:
        """One cold pass over table set ``p`` in fixed order, caches
        released between queries: build, then the first execution
        writing the result as parquet (as ``python -m ingestor_etl_spark
        --query NAME --out DIR`` does). A traced pass also times a second
        execution."""
        self._tmp(f"set{p}")
        sf_dir = os.path.join(self.data, "timed", f"set{p}")
        sc = self.spark.sparkContext
        res = {}
        for name in self.names:
            q = self.registry[name]
            out = os.path.join(self.data, "out", f"set{p}", name)
            if traced:
                sc.setJobGroup(f"{self.spans.run_id}:q:{name}", name)
            with self.spans.span(f"query.{name}.build") as b:
                df = q.fn(self.spark, sf_dir)
            with self.spans.span(f"query.{name}.first") as f:
                df.write.format("parquet").mode("overwrite").save(out)
            res[name] = {"build_s": b["seconds"], "first_s": f["seconds"],
                         "module": q.fn.__module__.rsplit(".", 1)[1]}
            if traced:
                sc.setJobGroup(f"{self.spans.run_id}:q:{name}:steady", name)
                with self.spans.span(f"query.{name}.steady") as s:
                    noop(df)
                res[name]["steady_s"] = s["seconds"]
                sc.setJobGroup("perfbench", "untraced")
            release(self.spark)
            checks.check_query(self.report, name, pq.read_table(out).to_pandas(),
                               os.path.join(self.data, "expected", f"set{p}", f"{name}.parquet"))
        return res

    def end_to_end(self, seconds: float) -> dict:
        """Cold passes, each over its own table set, for ``seconds`` (at
        least ``MIN_ITERATIONS``, at most one per set): the sum over the
        queries of each query's median build + first execution."""
        per_query = defaultdict(list)
        t_end = time.perf_counter() + seconds
        p = 0
        while p < REGISTRY_SETS and (p < MIN_ITERATIONS or time.perf_counter() < t_end):
            for name, r in self.pass_(p, traced=False).items():
                per_query[name].append(r["build_s"] + r["first_s"])
            p += 1
        cold = sum(statistics.median(v) for v in per_query.values())
        return {"cold_s": cold, "throughput": len(self.names) / cold, "iterations": p}

    def per_layer(self, seconds: float) -> dict:
        stores = StatusStores(self.spark)
        res = self.pass_(0, traced=True)
        out: dict[str, float] = defaultdict(float)
        for name, r in res.items():
            stats = stores.group(f"{self.spans.run_id}:q:{name}")
            for k in ("build_s", "first_s", "steady_s"):
                out[f"queries.{r['module']}.{k}"] += r[k]
            out[f"queries.{r['module']}.shuffle_mb"] += stats["shuffle_mb"]
            out[f"queries.{r['module']}.python_s"] += stats["python_s"]
        return out


# ---------------------------------------------------------------- main
SESSION_OVERRIDES = {"spark.ui.showConsoleProgress": "false"}


def per_layer_names() -> list[str]:
    names = []
    for layer in INGEST_LAYERS:
        names += [f"{layer}.{k}" for k in ("exec_s", "build_s", "rows_out", *LAYER_STATS)]
    names += ["protocols.net.useful_frac", "operators.correlate.matched_frac",
              "operators.correlate.cache_mb"]
    for mod in QUERY_MODULES:
        names += [f"queries.{mod}.{k}" for k in ("build_s", "first_s", "steady_s", "shuffle_mb", "python_s")]
    names += ["trace.layer_gap_frac", "trace.overhead_frac", "driver.local1_speedup"]
    # driver.peak_rss_mb is added by run.py, which samples /proc
    return names


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    from ingestor_etl_spark.session import get_spark

    spans = Spans(f"{args.workload}-{os.getpid()}")
    report = checks.Report()
    with spans.span("session"):
        spark = get_spark(f"perfbench-{args.workload}", **SESSION_OVERRIDES)
    master = spark.sparkContext.master
    kind = {"diameter_mixed": Ingest, "registry_cold": Registry}[args.workload]
    w = kind(spark, args.data, spans, report)
    w.warm_up()
    setup_s = time.time() - args.spawn_time
    if args.trace:
        metrics = dict.fromkeys(per_layer_names(), 0.0)
        metrics.update(w.per_layer(args.seconds))
        info = {}
    else:
        e2e = w.end_to_end(args.seconds)
        info = {"iterations": e2e.pop("iterations")}
        metrics = {"setup_s": setup_s, **e2e}
    w.spark.stop()
    trace_dir = os.path.join(args.data, "spans")
    os.makedirs(trace_dir, exist_ok=True)
    spans.write(os.path.join(trace_dir, f"{spans.run_id}.jsonl"))
    with open(args.result, "w") as fh:
        json.dump({"metrics": metrics, "attempted": report.attempted, "failed": report.failed,
                   "problems": report.problems[:20], "master": master, **info}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
