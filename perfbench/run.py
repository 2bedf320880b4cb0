"""The repo benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload filter_text --seed 1 --seconds 6 --trace 0

Run from the repository root.  Inputs are generated from the seed (see
gen.py); the program sees only the generated rows.  One Spark session
at local[4] runs one action at a time; every timed pass is checked
against planted truth.  The last stdout line is the JSON result:

  --trace 0  end-to-end metrics (BENCHMARK.json ``end_to_end``)
  --trace 1  per-layer metrics (BENCHMARK.json ``per_layer``): plan-node
             metrics of traced passes, a no-Spark replay of the same
             batches with a span around every kernel call, the ledger
             residual, tracing overhead and a local[1] baseline.

A fuller record (spans, raw plan metrics, model backend, host probe) is
written under .perfbench/records/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procfs  # noqa: E402
from plan import PlanReader, layer_metrics  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402
from workloads import WORKLOADS, KernelSpans  # noqa: E402

CORES = 4
SETUP_ROUNDS = 3
MIN_PASSES = 3
WARM_SECONDS, MIN_WARM_PASSES = 3.0, 1
MIN_F1 = 0.99
SPARK_CONF = {
    "spark.sql.shuffle.partitions": str(2 * CORES),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # At benchmark size every join side is far under Spark's 10 MB
    # broadcast threshold, so the LSH band self-join and the verify joins
    # of near_duplicates_minhash would broadcast; on a real corpus they
    # are shuffle joins.  Size-based broadcast is off so they run as
    # shuffle joins here too; the program's explicit broadcast hints
    # still apply.  The filter workloads have no joins.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.driver.memory": "1g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def host_probe_s() -> float:
    """One 20M-element numpy multiply: a host memory-bandwidth reading,
    recorded as a field only."""
    import numpy as np

    a = np.random.default_rng(0).random(20_000_000)
    t0 = perf_counter()
    a * 1.5
    return perf_counter() - t0


def spark_conf(work: str, cores: int):
    """SPARK_CONF at local[cores], with every scratch path under ``work``."""
    from pyspark import SparkConf

    tmp = os.path.join(work, "tmp")
    conf = SparkConf().setMaster(f"local[{cores}]").setAppName("perfbench")
    for k, v in SPARK_CONF.items():
        conf.set(k, v)
    conf.set("spark.local.dir", tmp)
    conf.set("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    conf.set("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    return conf


def launch_jvm(work: str) -> None:
    from pyspark import SparkContext

    SparkContext._ensure_initialized(conf=spark_conf(work, CORES))


def rebind_module_udfs() -> None:
    """pyspark caches a UDF's JVM function on the UDF object, bound to
    the SparkContext that first ran it.  Each set-up round starts a
    fresh context, so drop that cache on the package's module-level
    UDFs; otherwise every task of a later context reports to a dead
    accumulator server."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("top_secret_spark"):
            for obj in vars(mod).values():
                udf = getattr(obj, "_unwrapped", None)
                if hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None


class HeapPeak:
    """Peak used bytes of the JVM's heap pools (eden, survivor, old gen)
    from the pools' own peak counters: on-heap use, apart from how much
    heap G1 chose to commit, which is what the process RSS sees."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans()
                      if p.getType().toString() == "Heap memory"]
        for p in self.pools:
            p.resetPeakUsage()

    def read_mb(self) -> dict[str, float]:
        out = {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in self.pools}
        out["total"] = sum(out.values())
        return out


class Bench:
    """One workload's Spark session, its passes and their checks."""

    def __init__(self, work: str, wl, inputs: str, truth: dict, tracer: Tracer):
        self.work, self.wl = work, wl
        self.inputs, self.truth, self.tracer = inputs, truth, tracer
        self.warm_inputs = os.path.join(os.path.dirname(inputs), "warm")
        self.n_rows = truth["rows"]
        self.spark = None
        self.jvm_pids: set[int] = set()
        self.checks = []
        self.failed = 0

    # -- session lifecycle -------------------------------------------
    def session(self, cores: int):
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.config(
            conf=spark_conf(self.work, cores)).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        rebind_module_udfs()
        return spark

    def setup_round(self, cores: int = CORES) -> float:
        """Fresh SparkContext → ship_package → load inputs → warm every
        core's Python worker on the warm-up shards.  Returns seconds."""
        from top_secret_spark.util import ship_package

        if self.spark is not None:
            self.spark.stop()
        t0 = perf_counter()
        with self.tracer.span("setup.round"):
            with self.tracer.span("setup.session"):
                self.spark = self.session(cores)
            with self.tracer.span("setup.ship_package"):
                ship_package(self.spark)
            with self.tracer.span("setup.load"):
                self.df = self.spark.read.parquet(self.inputs)
                if self.df.count() != self.n_rows:
                    raise RuntimeError("input row count differs from generated")
            with self.tracer.span("setup.warm"):
                self.wl.warm(self.spark, self.spark.read.parquet(self.warm_inputs))
        self.jvm_pids |= set(procfs.descendants())
        return perf_counter() - t0

    def shutdown(self):
        from pyspark import SparkContext

        self.jvm_pids |= set(procfs.descendants())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            SparkContext._gateway = None
            SparkContext._jvm = None
        procfs.wait_gone(self.jvm_pids)

    # -- passes --------------------------------------------------------
    def one_pass(self, traced: bool = False) -> tuple[float, dict | None]:
        """One closed-loop action + its correctness check.  Returns the
        action's wall seconds and, when traced, its plan metrics."""
        reader = PlanReader(self.spark) if traced else None
        before = reader.last_id() if traced else None
        t0 = perf_counter()
        try:
            if traced:
                with self.tracer.span("action"):
                    out = self.wl.action(self.spark, self.df)
            else:
                out = self.wl.action(self.spark, self.df)
        except Exception as e:  # a failed pass is counted, not fatal
            wall = perf_counter() - t0
            self.failed += 1
            self.checks.append({"error": repr(e)[:300]})
            return wall, None
        wall = perf_counter() - t0
        chk = self.wl.check(out, self.truth)
        problems = list(chk.problems)
        if chk.f1 < MIN_F1:
            problems.append(f"f1 {chk.f1:.4f} < {MIN_F1}")
        if self.checks and chk.content != self.checks[0].get("content"):
            problems.append("content hash differs from the first pass")
        self.checks.append({"f1": chk.f1, "problems": problems,
                            "content": chk.content, "wall_s": wall})
        self.failed += bool(problems)
        return wall, (reader.collect(before) if traced else None)

    def warm_passes(self, seconds: float = WARM_SECONDS,
                    min_passes: int = MIN_WARM_PASSES):
        """Untimed full passes: the JVM's JIT needs several before pass
        times settle."""
        start, i = perf_counter(), 0
        while i < min_passes or perf_counter() - start < seconds:
            with self.tracer.span("warm_pass"):
                self.wl.action(self.spark, self.df)
            i += 1

    def timed_passes(self, seconds: float, traced: bool = False,
                     min_passes: int = MIN_PASSES):
        """Passes until ``seconds`` elapse (at least ``min_passes``).
        Returns the pass walls and, when traced, each pass's plan
        metrics."""
        walls, plans = [], []
        start = perf_counter()
        while len(walls) < min_passes or perf_counter() - start < seconds:
            wall, pm = self.one_pass(traced)
            walls.append(wall)
            if pm is not None:
                plans.append((wall, pm))
        return walls, plans

    @property
    def quality(self) -> float:
        return min((c["f1"] for c in self.checks if "f1" in c), default=0.0)

    def result(self, metrics: dict) -> dict:
        attempted = len(self.checks)
        return {"correct": self.failed == 0 and attempted > 0,
                "attempted": attempted, "failed": self.failed,
                "metrics": metrics}


def end_to_end(b: Bench, seconds: float) -> tuple[dict, dict]:
    setups = [b.setup_round() for _ in range(SETUP_ROUNDS)]
    b.warm_passes()
    heap = HeapPeak(b.spark)
    cpu0 = procfs.cpu_seconds()
    sampler = procfs.RssSampler().start()
    walls, _ = b.timed_passes(seconds)
    peaks = sampler.stop()
    cpu = {k: v - cpu0[k] for k, v in procfs.cpu_seconds().items()}
    values = {
        "setup_s": statistics.median(setups),
        "rows_per_s": b.n_rows / statistics.median(walls),
        "core_s_per_mrow": cpu["total"] / (b.n_rows * len(walls) / 1e6),
        "peak_rss_mb": peaks["total"] / 2**20,
        "quality_f1": b.quality,
        "pass_frac": 1.0 - b.failed / max(1, len(b.checks)),
    }
    extra = {"setup_rounds_s": setups, "pass_walls_s": walls,
             "peak_rss_mb_by_kind": {k: v / 2**20 for k, v in peaks.items()},
             "jvm_heap_peak_mb": heap.read_mb(), "cpu_s_by_kind": cpu}
    return values, extra


def per_layer(b: Bench, seconds: float) -> tuple[dict, dict]:
    t = b.tracer
    setups = [b.setup_round() for _ in range(SETUP_ROUNDS)]  # same warm-up as --trace 0
    b.warm_passes()
    heap = HeapPeak(b.spark)
    walls, plans = b.timed_passes(seconds, traced=True)
    heap_mb = heap.read_mb()
    rows_per_s_4 = b.n_rows / statistics.median(walls)
    with t.span("stats_pass"):
        stats = b.wl.stats(b.spark, b.df)

    # plan-node layers, median over the traced passes
    layers = [layer_metrics(pm) for _, pm in plans]
    med = {k: statistics.median(lm[k] for lm in layers) for k in layers[0]}

    rp = replay(b.wl, replay_batches(b.inputs))
    selfs = rp["tracer"].self_times()
    k = lambda name: selfs.get(name, (0.0, 0))[0]
    c = rp["counts"]
    # Ledger: the traced pass's wall minus the layers attributed to it —
    # JVM scan task time plus the Python work the replay measured (every
    # operator and kernel self time; their sum is the traced replay's
    # wall) — both in core-seconds, so divided by the cores.  The plan's
    # Python node timers are left out: they are per-task wall clocks that
    # overlap each other and the JVM side.  What remains is Arrow
    # transfer, worker hand-off, JVM projection and idle cores.
    residuals = [wall - (lm["scan.time_s"] + rp["traced_s"]) / CORES
                 for (wall, _), lm in zip(plans, layers)]

    # single-core baseline: a fresh local[1] context in the same JVM
    b.setup_round(cores=1)
    b.warm_passes(0.0, 1)
    w1, _ = b.timed_passes(0.0, min_passes=2)
    rows_per_s_1 = b.n_rows / statistics.median(w1)

    values = {
        "setup.cold_s": setups[0],
        "python.boot_s": med["python.boot_s"],
        "python.init_s": med["python.init_s"],
        "python.run_s": med["python.run_s"],
        "arrow.sent_bytes_per_row": med["arrow.sent_bytes"] / b.n_rows,
        "arrow.recv_bytes_per_row": med["arrow.recv_bytes"] / b.n_rows,
        "jvm.codegen_s": med["jvm.codegen_s"],
        "jvm.heap_peak_mb": heap_mb["total"],
        "scan.time_s": med["scan.time_s"],
        "scan.bytes": med["scan.bytes"],
        "exchange.shuffle_bytes": med["exchange.shuffle_bytes"],
        "exchange.records": med["exchange.records"],
        "kernel.langid.detect_s": k("kernel.langid.detect_s"),
        "kernel.perplexity.score_s": k("kernel.perplexity.score_s"),
        "kernel.quality.char_signals_s": k("kernel.quality.char_signals_s"),
        "kernel.quality.non_ascii_share": c["non_ascii"] / max(1, c["char_docs"]),
        "kernel.quality.row_loops_s": k("kernel.quality.row_loops_s"),
        "kernel.quality.rows_looped": float(selfs.get("kernel.quality.row_loops_s", (0, 0))[1]),
        "kernel.quality.keep_drop_s": k("kernel.quality.keep_drop_s"),
        "kernel.scrub.scrub_s": k("kernel.scrub.scrub_s"),
        "kernel.scrub.rows_scanned": float(c["scrub_rows"]),
        "kernel.scrub.pii_hit_ratio": c["scrub_hits"] / max(1, c["scrub_rows"]),
        "kernel.scrub.restore_s": k("kernel.scrub.restore_s"),
        "operators.fused.glue_s": k("operators.fused"),
        "operators.audio.features_s": k("operators.audio"),
        "operators.dedup.candidate_pairs": stats.get("operators.dedup.candidate_pairs", 0.0),
        "operators.dedup.verified_ratio": stats.get("operators.dedup.verified_ratio", 0.0),
        "ledger.residual_s": statistics.median(residuals),
        "trace.overhead": rp["traced_s"] - rp["untraced_s"],
        "scaling.rows_per_s_1core": rows_per_s_1,
        "scaling.eff_1to4": rows_per_s_4 / (CORES * rows_per_s_1),
    }
    extra = {"setup_rounds_s": setups, "traced_walls_s": walls,
             "local1_walls_s": w1, "jvm_heap_peak_mb": heap_mb,
             "plan_layers": layers, "plan_raw": [pm for _, pm in plans],
             "replay_self_times": selfs, "replay_counts": c,
             "replay_traced_s": rp["traced_s"],
             "replay_untraced_s": rp["untraced_s"], "stats": stats,
             "replay_tracer": rp["tracer"]}
    return values, extra


def replay(wl, batches) -> dict:
    """The workload's Python work on ``batches`` without Spark.  Each
    batch runs twice: once with a span around every kernel call (these
    spans give the kernel.* metrics) and once with no tracing at all;
    the order alternates from batch to batch so that drift cancels.
    The difference of the two totals is the cost of the tracing."""
    tracer, plain = Tracer(), NullTracer()
    spans = KernelSpans(tracer)
    traced_s = untraced_s = 0.0
    for i, batch in enumerate(batches):
        for traced in ((True, False) if i % 2 else (False, True)):
            t0 = perf_counter()
            if traced:
                with spans, tracer.span("replay"):
                    wl.replay(batch, tracer)
                traced_s += perf_counter() - t0
            else:
                wl.replay(batch, plain)
                untraced_s += perf_counter() - t0
    return {"tracer": tracer, "counts": spans.counts,
            "traced_s": traced_s, "untraced_s": untraced_s}


def replay_batches(inputs: str):
    """The input shards cut into Arrow-sized batches, as the Python
    workers receive them."""
    import pandas as pd

    size = int(SPARK_CONF["spark.sql.execution.arrow.maxRecordsPerBatch"])
    out = []
    for name in sorted(os.listdir(inputs)):
        if name.endswith(".parquet"):
            pdf = pd.read_parquet(os.path.join(inputs, name))
            out += [pdf.iloc[i:i + size].reset_index(drop=True)
                    for i in range(0, len(pdf), size)]
    return out


def model_backend() -> str:
    from top_secret_spark.kernel import langid, perplexity

    real = [m for m, mod in (("langid", langid), ("perplexity", perplexity))
            if mod.real_model() is not None]
    return "real:" + ",".join(real) if real else "synthetic"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "top_secret_spark")) or not os.path.exists(spec_path):
        print("perfbench: run from the repository root (top_secret_spark/ "
              "and BENCHMARK.json not found)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    work = os.path.join(root, ".perfbench")
    for d in ("tmp", "records"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every temp file (package zip, Spark scratch) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, root)

    wl = WORKLOADS[args.workload]
    # generate the inputs while the JVM starts: both are set-up work
    # outside setup_s, and they use different processes
    generated: dict = {}

    def generate():
        t0 = perf_counter()
        generated["out"] = gen.ensure_inputs(os.path.join(work, "data"),
                                             wl.name, args.seed)
        generated["s"] = perf_counter() - t0

    worker = threading.Thread(target=generate)
    worker.start()
    t0 = perf_counter()
    try:
        launch_jvm(work)
    finally:
        worker.join()
    jvm_s = perf_counter() - t0
    if "out" not in generated:
        raise RuntimeError("input generation failed")
    inputs, truth, regenerated = generated["out"]
    b = Bench(work, wl, inputs, truth, Tracer())
    try:
        if args.trace:
            values, extra = per_layer(b, args.seconds)
            names = spec["per_layer"]
        else:
            values, extra = end_to_end(b, args.seconds)
            names = spec["end_to_end"]
    finally:
        b.shutdown()
    replay_tracer = extra.pop("replay_tracer", None)
    probe = host_probe_s()
    values["host.probe_s"] = probe
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in names}
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "cores": CORES, "rows": b.n_rows, "generate_s": generated["s"],
              "jvm_launch_and_generate_s": jvm_s,
              "regenerated": regenerated, "model_backend": model_backend(),
              "host_probe_s": probe, "knobs": gen.stamp(wl.name, args.seed),
              "checks": b.checks, "metrics": metrics, **extra}
    base = os.path.join(work, "records", f"{wl.name}-seed{args.seed}-trace{args.trace}")
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        b.tracer.dump(base + ".spans.json")
        replay_tracer.dump(base + ".replay.spans.json")
    print(json.dumps({"workload": wl.name, "model_backend": record["model_backend"],
                      "host_probe_s": record["host_probe_s"], "record": base + ".json"}))
    print(json.dumps(b.result(metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
