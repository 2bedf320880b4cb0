"""N vs 4N scaling-efficiency evidence (BASELINE.json north_rule).

A real cluster is unavailable in this sandbox, so per the task brief the
two-cluster-size criterion is evidenced by running the SAME pipeline job
on the SAME input at two parallelism levels — local[8] (N) and local[32]
(4N) — via spark-submit --py-files, and reporting throughput at both plus
scaling efficiency = throughput(4N) / (4 × throughput(N)).

Protocol notes (all measured on the 32-core bench host):

* The N arm is CPU-PINNED (`taskset -c 0-7`): a real 8-core cluster owns
  exactly 8 cores for executor threads, Python workers, GC, and shuffle
  service alike.  Unpinned local[8] on a 32-core box lets the JVM's
  serialization/scan/GC threads ride the other 24 idle cores — measured
  ~4-9% free throughput for the N arm, which UNDERSTATES scaling
  efficiency.  The 4N arm's pin (all 32 cores) is a no-op.
* Both arms interleave REPEATS times, best-of per arm: this is a shared
  VM with visible steal windows, and back-to-back runs of one arm can
  land in a noisy window and skew the ratio one-sidedly.
* The no-Spark control is the REAL fused kernel (fused_text_frame — the
  same langid+perplexity+signals+scrub code the job's Arrow stage runs)
  over a fixed 60k-text batch per process, in P independent processes:
  embarrassingly parallel by construction, no Spark, no serialization.
  Its 8→32 efficiency is the HOST's ceiling for this workload (shared
  L3/memory system); the job cannot scale better than independent
  processes running its own kernel.

Rewrites the "## Scaling evidence" section of BENCH/BASELINE.md in place
(the rest of that file documents the bench protocol and is preserved),
writes the raw record to BENCH/SCALING.json, and prints one JSON line.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_CLIPS = int(os.environ.get("TSS_SCALING_CLIPS", "5000000"))
ARROW_BATCH = 60_000
ARMS = (8, 32)
LOW, HIGH = 8, 32
REPEATS = int(os.environ.get("TSS_SCALING_REPEATS", "4"))


INPUT_PARQUET = os.environ.get("TSS_SCALING_INPUT", "/tmp/tss_clips_5m")


def _generator_digest() -> str:
    """Digest of the first 256 rows the current clips generator makes
    (values and dtypes), so input written by an older generator is
    recognised as stale."""
    from top_secret_spark.sources.clips import rows_for_range

    df = rows_for_range(0, 256, with_audio=False)
    key = repr((df.dtypes.astype(str).tolist(), df.to_dict("list")))
    return hashlib.sha256(key.encode()).hexdigest()


def ensure_input(n_clips: int) -> str:
    """Write the clips input as PARQUET once (deterministic generator) —
    the arms then SCAN it, like the north-rule job scans its Iceberg
    table.  Reading parquet also measures better than the earlier
    deserialized-object cache: the vectorized columnar scan is cheaper
    JVM-side work per row, so less of the 4N arm's core budget goes to
    scan overhead (measured eff 0.69 cached → ~0.76 parquet).

    The dir is reused only when its ``_meta.json`` stamp (written after
    a complete write) names the same ``n_clips`` and generator digest;
    anything else — another TSS_SCALING_CLIPS, a partial write, an
    older generator — is regenerated, with a note on stderr."""
    meta_path = os.path.join(INPUT_PARQUET, "_meta.json")
    stamp = {"n_clips": n_clips, "generator_digest": _generator_digest()}
    try:
        with open(meta_path) as f:
            have = json.load(f)
    except (OSError, ValueError):
        have = None
    if have == stamp:
        return INPUT_PARQUET
    if os.path.isdir(INPUT_PARQUET):
        print(f"regenerating {INPUT_PARQUET}: stamp {have} != {stamp}",
              file=sys.stderr)
    from pyspark.sql import SparkSession

    from top_secret_spark.sources.clips import clips_df

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    clips_df(spark, n_clips, with_audio=False, partitions=128).write.mode(
        "overwrite"
    ).parquet(INPUT_PARQUET)
    spark.stop()
    with open(meta_path, "w") as f:
        json.dump(stamp, f)
    return INPUT_PARQUET


def run_once(master_cores: int, zip_path: str) -> dict:
    cmd = [
        # pin the arm to exactly its core budget — a real N-core cluster
        # runs executor threads + Python workers + GC inside N cores
        "taskset", "-c", f"0-{master_cores - 1}",
        "spark-submit",
        "--master", f"local[{master_cores}]",
        "--driver-memory", "24g",
        "--py-files", zip_path,
        "--conf", "spark.sql.shuffle.partitions=64",
        "--conf", "spark.ui.enabled=false",
        os.path.join(REPO, "tools", "pipeline_job.py"),
        "--input", INPUT_PARQUET,
        "--arrow-batch", str(ARROW_BATCH),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    for line in reversed(out.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(
        f"no JSON from spark-submit (rc={out.returncode}):\n"
        f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )


_PROBE_WARM = False


def host_probe() -> float:
    """Memory-bandwidth probe (seconds; calm host ≈ 0.15-0.45 on this VM).

    The same probe kernel tools/kernel_bench.py uses to set its
    host_degraded flag — a 160 MB numpy multiply is bandwidth-bound, so a
    noisy co-tenant VM shows up directly in the timing.  The first call
    in a fresh process runs once untimed: a cold numpy (allocator pools,
    fault-in) reads 1.5-2 s even on a calm host — two prior records
    carried host_degraded=true from exactly that artifact while every
    subsequent probe read ~0.05 s.
    """
    import numpy as np

    global _PROBE_WARM
    if not _PROBE_WARM:
        (np.random.rand(20_000_000) * 1.5).sum()
        _PROBE_WARM = True
    a = np.random.rand(20_000_000)
    t0 = time.perf_counter()
    a * 1.5
    return time.perf_counter() - t0


def _control_worker(args) -> tuple[int, float]:
    """One control process: the real fused kernel over a fixed 60k-text
    batch (same size as the job's Arrow batches), `reps` passes.  Fixed
    per-process working set, generation and model build excluded."""
    wid, reps = args
    from top_secret_spark.operators.fused import fused_text_frame
    from top_secret_spark.sources.clips import rows_for_range

    texts = rows_for_range(
        wid * ARROW_BATCH, (wid + 1) * ARROW_BATCH, with_audio=False
    )["transcript"]
    fused_text_frame(texts[:200], None)  # build model singletons
    t0 = time.perf_counter()
    for _ in range(reps):
        fused_text_frame(texts, None)
    return reps * ARROW_BATCH, time.perf_counter() - t0


def control_rate(p: int, reps: int = 2) -> float:
    """Aggregate kernel rate of P independent control processes —
    sum of per-worker TIMED-SECTION rates, so pool spawn and input
    generation (untimed in the job, too) stay out of the number."""
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(max_workers=p) as ex:
        res = list(ex.map(_control_worker, [(i, reps) for i in range(p)]))
    return sum(n / dt for n, dt in res)


def main():
    from top_secret_spark.util import make_zip

    zip_path = make_zip(os.path.join("/tmp", "top_secret_spark_submit.zip"))
    ensure_input(N_CLIPS)

    # The no-Spark control INTERLEAVES with the job arms under the same
    # best-of-REPEATS protocol: an end-of-run one-shot control sampled
    # whatever window it happened to land in (measured swing 0.56-0.87
    # across records), while the arms it normalizes were best-of-four.
    # Sampling both through the same windows makes the ratio meaningful.
    results = {}
    ctl = {c: 0.0 for c in ARMS}
    probes = [round(host_probe(), 3)]
    t0 = time.time()
    for _ in range(REPEATS):
        for cores in ARMS:
            r = run_once(cores, zip_path)
            if cores not in results or r["clips_per_sec"] > results[cores]["clips_per_sec"]:
                results[cores] = r
        for cores in ARMS:
            ctl[cores] = max(ctl[cores], control_rate(cores))
        probes.append(round(host_probe(), 3))
    for cores in ARMS:
        results[cores]["wall_sec"] = round(time.time() - t0, 1)
    host_degraded = max(probes) > 0.5
    control = {
        "low_rate": round(ctl[LOW], 1),
        "high_rate": round(ctl[HIGH], 1),
        "control_eff": round(ctl[HIGH] / ((HIGH / LOW) * ctl[LOW]), 3),
    }

    tp = {c: results[c]["clips_per_sec"] for c in ARMS}
    eff = tp[HIGH] / ((HIGH / LOW) * tp[LOW])
    normalized = eff / control["control_eff"] if control["control_eff"] else None

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    section = f"""## Scaling evidence (north-rule two-cluster-size criterion)

Per the task brief, the north rule's two-cluster-size criterion is
evidenced by running the identical pipeline job (`tools/pipeline_job.py`
via `spark-submit --py-files`) on the identical PARQUET input
({N_CLIPS:,} clips written once by the deterministic generator, then
SCANNED by every arm — the north-rule job likewise scans its Iceberg
table; fused text pipeline: quality signals + langid + perplexity +
keep/drop + PII scrub; {ARROW_BATCH:,}-row Arrow batches) at two
parallelism levels, each arm CPU-pinned to exactly its core budget
(`taskset -c 0-{{N-1}}`) so the N-core arm cannot ride idle host cores
for its JVM service work — best of {REPEATS} interleaved repeats per
arm.

| parallelism | clips | elapsed (s) | clips/sec |
|---|---|---|---|
| local[8] (N), pinned to 8 cores | {results[8]['n_clips']:,} | {results[8]['elapsed_sec']} | {tp[8]:,.1f} |
| local[32] (4N), all 32 cores | {results[32]['n_clips']:,} | {results[32]['elapsed_sec']} | {tp[32]:,.1f} |

**Scaling efficiency (N → 4N, local[8] → local[32])** =
{tp[32]:,.1f} / (4 × {tp[8]:,.1f}) = **{eff:.3f}**
(target ≥ 0.8 — BASELINE.json north_rule).

**No-Spark host control, same step**: the job's own fused kernel
(`fused_text_frame` — langid + perplexity + signals + scrub, the exact
code inside the job's Arrow stage) in P independent Python processes,
each looping over a private {ARROW_BATCH:,}-text batch — no Spark, no
serialization, embarrassingly parallel by construction, INTERLEAVED
with the job arms under the same best-of-{REPEATS} protocol (a one-shot
end-of-run control sampled whatever window it landed in; swing 0.56-0.87
observed across records).  8 procs: {control['low_rate']:,.0f} clips/s;
32 procs: {control['high_rate']:,.0f} clips/s; control efficiency
**{control['control_eff']:.3f}**.  The job cannot scale better than
independent processes running its own kernel on this shared-cache host,
so the control is the host's ceiling for this workload;
**control-normalized job efficiency =
{eff:.3f} / {control['control_eff']:.3f} = {normalized:.3f}**.

Host state during this record: bandwidth probes {probes}
(calm < 0.5; host_degraded = {str(host_degraded).lower()}).

Why this scales where round 4's record was flat: the round-4 kernels
processed whole Arrow batches in single numpy passes, materializing
50-300 MB mmap-backed temporaries per batch (byte→uint64 expansions,
weight-table gathers); the kernel page-zeroing + TLB-shootdown cost of
those allocations serializes ACROSS cores, so 32 workers ran no faster
than 8 (measured eff 0.25-0.27, perplexity NEGATIVE at 0.17).  The
kernels now iterate in ~128 KiB doc-aligned chunks
(`kernel/langid.py::chunk_spans` — bit-identical results, pytest-gated),
keeping every intermediate cache-resident: the same no-Spark control
went from flat (eff 0.27) to {control['control_eff']:.2f}, and absolute
single-arm throughput roughly tripled.  The job itself remains map-only
(zero shuffles — `test_pipeline_plan_is_map_only`), partitions = 4 ×
cores, all Python stages Arrow-batched behind ONE boundary crossing
(operators/fused.py) with per-worker model singletons — nothing in the
plan serializes at higher parallelism; on a real multi-executor cluster
each executor owns its cores and caches outright.
"""
    baseline_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    marker = "## Scaling evidence (north-rule two-cluster-size criterion)"
    try:
        with open(baseline_path) as f:
            doc = f.read()
    except FileNotFoundError:
        doc = "# BENCH — measurement protocol and scaling evidence\n\n"
    if marker in doc:
        # replace from the marker to the next "## " heading (or EOF)
        head, rest = doc.split(marker, 1)
        nxt = rest.find("\n## ")
        tail = rest[nxt + 1:] if nxt != -1 else ""
        doc = head + section + ("\n" + tail if tail else "")
    else:
        doc = doc.rstrip() + "\n\n" + section
    with open(baseline_path, "w") as f:
        f.write(doc)

    record = {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "eff_8_to_32": round(eff, 3),
        "control_eff_8_to_32": control["control_eff"],
        "normalized_eff_8_to_32": round(normalized, 3),
        "pinned_arms": True,
        "arrow_batch": ARROW_BATCH,
        "host_probes_sec": probes,
        "host_degraded": host_degraded,
        "host_control_8_to_32": control,
        "low": results[LOW],
        "high": results[HIGH],
        "arms": {str(c): results[c] for c in ARMS},
    }
    with open(os.path.join(REPO, "BENCH", "SCALING.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in (
        "metric", "value", "unit", "control_eff_8_to_32",
        "normalized_eff_8_to_32", "low", "high")}))


if __name__ == "__main__":
    main()
