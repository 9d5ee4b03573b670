"""Benchmark harness (driver-run per round; see BASELINE.md).

Headline metric: compaction+cluster throughput (images/sec and GB/sec
rewritten) on the synthetic fragmented image table — the BASELINE.json
north metric — plus per-query latencies over $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line. Env knobs:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    (default 32)
  BENCH_IMG_ROWS      (default scaled to the sf dir)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, SortOrder, TableSpec
from ocel_ocpn_lakehouse_spark.images.synth import IMAGE_SCHEMA, synth_images_df
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
from ocel_ocpn_lakehouse_spark.maintenance.cluster import execute_cluster
from ocel_ocpn_lakehouse_spark.maintenance.cluster_incremental import (
    execute_cluster_incremental,
)
from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction
from ocel_ocpn_lakehouse_spark.queries import QUERIES
from ocel_ocpn_lakehouse_spark.session import get_spark

BENCH_QUERIES = [
    "q01_pricing_summary",
    "q06_join_orders_lineitem",
    "q08_three_way_join",
    "q12_dfg_transitions",
    "q16_variants",
    "q24_ngram_jaccard",
    "q25_minhash_lsh",
    "q27_ann_cosine_topk",
    "q29_text_quality",
    "q36_conformance",
    "q38_ocpn_arcs",
    # q39_embedding_neardup (exact O(n²) audit baseline) is deliberately
    # quadratic and belongs in BENCH/QUERY_ENVELOPE.md, not the headline
    # timings — its wall time says nothing about the scale path. Its oracle
    # still runs in the driver's correctness gate.
    "q40_embedding_neardup_lsh",  # the banded-LSH scale path over the embeddings
    "q54_training_batches",  # aspect bucketing + grouped distributed cumsum
]


def _host_busy_fraction(window_s: float = 1.5) -> float:
    """CPU busy share from /proc/stat deltas (loadavg reports phantom load
    on this kernel — see tools/scaling_bench.py)."""

    def snap():
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        return idle, sum(vals)

    i0, t0 = snap()
    time.sleep(window_s)
    i1, t1 = snap()
    dt = max(1, t1 - t0)
    return 1.0 - (i1 - i0) / dt


def _settle(threshold: float = 0.20, timeout_s: float = 45.0) -> float:
    """Block until the host quiets down. The round-2 verdict's headline
    defect was query timings taken while the maintenance phase still had
    the memory bus saturated — 2-7× inflation on contended runs."""
    t0 = time.time()
    busy = _host_busy_fraction()
    while busy > threshold and time.time() - t0 < timeout_s:
        time.sleep(1.0)
        busy = _host_busy_fraction()
    return busy


def _fragmented_table(spark, wh: str, n_rows: int, n_files: int):
    cat = Catalog(wh)
    t = cat.create_table(
        "bench.images",
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", 16),
            sort_order=SortOrder.by("phash"),
            properties={
                "write.target-file-size-bytes": str(32 * 1024 * 1024),
                "compact.small-file-bytes": str(8 * 1024 * 1024),
            },
        ),
    )
    t.append(
        synth_images_df(spark, n_rows=n_rows, seed=42),
        num_files=n_files,
        distribution="fragment",
    )
    return cat, t


def _checksum(spark, t):
    return (
        t.scan(spark)
        .agg(
            F.sum(F.xxhash64(F.md5("bytes")).cast("decimal(38,0)")).alias("b"),
            F.sum(F.xxhash64("caption").cast("decimal(38,0)")).alias("c"),
            F.count("*").alias("n"),
        )
        .first()
    )


def _warmup_python_workers(spark, cpus: int) -> None:
    """One throwaway task job through the engine's task runner, so worker
    spawn and the task-side imports of the maintenance jobs (numpy,
    pyarrow, the curve kernels, the rewrite kernel) don't land inside the
    first timed job."""
    from ocel_ocpn_lakehouse_spark.maintenance.rewrite import tasks_rdd

    def _warm(recs):
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        from ocel_ocpn_lakehouse_spark.functions import zorder  # noqa: F401
        from ocel_ocpn_lakehouse_spark.maintenance import rewrite  # noqa: F401

        return [r["i"] for r in recs]

    tasks_rdd(spark, [{"i": i} for i in range(cpus * 4)], _warm).count()


def image_maintenance_bench(spark, n_rows: int, n_files: int, cpus: int) -> dict:
    """Headline: the TWO-PASS compact-then-cluster rewrite (the BENCH_r01
    protocol), measured on a fresh fragmented table. The FUSED single-pass
    rewrite (bin-pack + Z-order cluster in one pass over the bytes — the
    maintenance CLI --op rewrite) and the incremental follow-up are
    reported alongside; fused becomes the headline once it beats two-pass
    at this row count (ROADMAP direction 1)."""
    _warmup_python_workers(spark, cpus)

    # fused: one pass, one table
    wh1 = tempfile.mkdtemp(prefix="bench_wh_fused_")
    try:
        cat, t = _fragmented_table(spark, wh1, n_rows, n_files)
        st = SystemTables(cat.warehouse)
        base = _checksum(spark, t)
        total_bytes = sum(e.size_bytes for e in t.live_entries())
        t0 = time.time()
        execute_cluster(spark, t, st, "bench.images", curve="zorder")
        t.refresh()
        fused_dt = time.time() - t0
        fused_equiv = _checksum(spark, t) == base

        # incremental follow-up: a key-localized append onto the fresh
        # layout (re-ingest/recaption of one shard — rows whose curve keys
        # fall inside one base file's range), merged at cost ∝ delta +
        # overlapped span. This is the steady-state maintenance path at
        # 10^12 images: the merge rewrites only the overlapped files and
        # the bytes-rewritten fraction reported below is the proof.
        # (A key-UNIFORM append overlaps every Z-order range by
        # construction and correctly routes to the full rewrite via the
        # delta-fraction fallback — that regime is the fused number above.)
        e0 = max(t.live_entries(), key=lambda e: e.record_count)
        delta_df = spark.read.parquet(os.path.join(t.root, e0.path)).select(
            *IMAGE_SCHEMA.fieldNames()
        )
        delta_rows = delta_df.count()
        t.append(delta_df, num_files=4)
        t.refresh()
        base_incr = _checksum(spark, t)
        t0 = time.time()
        incr = execute_cluster_incremental(spark, t, st, "bench.images", curve="zorder")
        t.refresh()
        incr_dt = time.time() - t0
        incr_equiv = _checksum(spark, t) == base_incr
        incr_stats = {
            "incr_sec": round(incr_dt, 3),
            "incr_mode": incr.get("mode"),
            "incr_delta_rows": delta_rows,
            "incr_rows_per_sec": round(delta_rows / incr_dt, 1),
            "incr_bytes_rewritten_frac": round(
                incr.get("bytes_rewritten", 0) / max(total_bytes, 1), 4
            ),
            "incr_files_untouched": incr.get("files_base_untouched"),
            "incr_scan_equivalence": 1.0 if incr_equiv else 0.0,
        }

        # training export over the maintained layout: aspect-bucket →
        # grouped pack → one tar per batch + committed manifest (the
        # round-4 export surface, timed end to end)
        from ocel_ocpn_lakehouse_spark.images.export import export_webdataset_job

        exp_dir = os.path.join(wh1, "_export")
        t0 = time.time()
        exp = export_webdataset_job(
            spark, cat, "bench.images", exp_dir, batch_size=64
        )
        exp_dt = time.time() - t0
        incr_stats.update(
            {
                "export_sec": round(exp_dt, 3),
                "export_images_per_sec": round(exp["items"] / exp_dt, 1),
                "export_shards": exp["exported"],
            }
        )
    finally:
        shutil.rmtree(wh1, ignore_errors=True)

    # two-pass on a fresh identical table (BENCH_r01's protocol)
    wh2 = tempfile.mkdtemp(prefix="bench_wh_2pass_")
    try:
        cat, t = _fragmented_table(spark, wh2, n_rows, n_files)
        st = SystemTables(cat.warehouse)
        base = _checksum(spark, t)
        t0 = time.time()
        execute_compaction(spark, t, st, "bench.images")
        t.refresh()
        execute_cluster(spark, t, st, "bench.images", curve="zorder")
        t.refresh()
        twopass_dt = time.time() - t0
        twopass_equiv = _checksum(spark, t) == base
    finally:
        shutil.rmtree(wh2, ignore_errors=True)

    return {
        "rows": n_rows,
        "bytes": total_bytes,
        # headline stays the BENCH_r01 protocol (compact then cluster) so the
        # round-over-round delta is apples-to-apples; the fused single-pass
        # rewrite (--op rewrite) is reported alongside — it wins at the
        # 480k-row scaling-bench size (BENCH/BASELINE.md) but pays more
        # fixed bounds-sampling cost at this toy row count
        "protocol": "two-pass compact+cluster (r01 protocol); fused reported alongside",
        "maintenance_sec": round(twopass_dt, 3),
        "images_per_sec": round(n_rows / twopass_dt, 1),
        "gb_per_sec": round(total_bytes / twopass_dt / 1e9, 4),
        "scan_equivalence": 1.0 if twopass_equiv else 0.0,
        "fused_sec": round(fused_dt, 3),
        "fused_images_per_sec": round(n_rows / fused_dt, 1),
        "fused_scan_equivalence": 1.0 if fused_equiv else 0.0,
        **incr_stats,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    default_rows = {"0.001": 400, "0.01": 1500, "0.1": 8000}.get(sf, 4000)
    n_rows = int(os.environ.get("BENCH_IMG_ROWS", default_rows))

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    maint = image_maintenance_bench(spark, n_rows, n_files=max(16, n_rows // 125), cpus=cpus)

    # the maintenance workload saturates the memory bus; gate the query
    # section on host idleness + one warm run per query, then best-of-3
    # (warm-up then best-of-N, as tools/scaling_bench.py also times)
    settled_busy = _settle()
    # same-run host ceilings (round-4 verdict #1): this sandbox's
    # hypervisor throttles per-vCPU memory bandwidth by the hour, and
    # query latencies track that ceiling. Stamping the same calibration
    # the scaling harness uses (4→16-worker pure-CPU and pure-memcpy
    # parallel efficiency) INTO the artifact lets a reader adjudicate
    # "throttled host" vs "real regression" without cross-referencing
    # runs_history.jsonl timestamps. ~20 s, measured before the queries
    # so the ceilings describe the window the latencies came from.
    from tools.scaling_bench import calibrate

    cal = calibrate(4, 16, secs=4.0)
    queries = {}
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        fn(spark, sf_dir).count()  # warm: codegen, file listing, worker spawn
        best = None
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        queries[name] = round(best, 3)

    out = {
        "query_protocol": {
            "timing": "warm run + best-of-3",
            "settled_busy_frac": round(settled_busy, 3),
            "cpu_ceiling_eff_4to16": cal["ceiling_efficiency"],
            "memcpy_ceiling_eff_4to16": cal["copy_ceiling_efficiency"],
            "memcpy_gbps_16w": cal["copy_gbps_large"],
        },
        "metric": "compact+cluster throughput (images/sec) with scan-equivalence",
        "value": maint["images_per_sec"],
        "unit": "images/sec",
        "queries": queries,
        "sf": sf,
        "maintenance": maint,
        "cpus": cpus,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
