"""The benchmark's workloads: inputs, operation rounds and checks.

Every workload is a closed loop with one client (the driver thread): it runs
*rounds* of a fixed operation sequence, one operation at a time, until the
measuring window closes. All inputs — image rows, append batches, MERGE
sources, delete keys, lookup keys, analytic tables — are generated from the
seed during set-up; the timed operations only read those inputs.

Each operation goes through :meth:`Ledger.op`, which times it, tags its Spark
jobs with a job group, and counts it as attempted. An exception or a failed
correctness check counts the operation as failed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from ocel_ocpn_lakehouse_spark.core import Catalog, PartitionSpec, SortOrder, TableSpec
from ocel_ocpn_lakehouse_spark.core.table import PrunePredicate, entry_matches, prepare_predicates
from ocel_ocpn_lakehouse_spark.images.export import export_webdataset_job
from ocel_ocpn_lakehouse_spark.images.synth import (
    IMAGE_SCHEMA,
    synth_images_df,
    synth_merge_source_df,
)
from ocel_ocpn_lakehouse_spark.maintenance.checkpoint import SystemTables
from ocel_ocpn_lakehouse_spark.maintenance.cluster import execute_cluster
from ocel_ocpn_lakehouse_spark.maintenance.cluster_incremental import (
    execute_cluster_incremental,
)
from ocel_ocpn_lakehouse_spark.maintenance.compact import execute_compaction
from ocel_ocpn_lakehouse_spark.maintenance.deletes import delete_where
from ocel_ocpn_lakehouse_spark.maintenance.expire import expire_snapshots
from ocel_ocpn_lakehouse_spark.maintenance.merge import merge_into
from ocel_ocpn_lakehouse_spark.maintenance.rewrite_deletes import rewrite_deletes
from ocel_ocpn_lakehouse_spark.queries import ORACLES, QUERIES
from ocel_ocpn_lakehouse_spark.sources.table_source import register_lakehouse_source

from querydata import TABLES, write_query_data

TABLE = "bench.images"

# bench.py's headline query set: the analytic layer
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
    "q40_embedding_neardup_lsh",
    "q54_training_batches",
]


def plan_and_run(df, execute):
    """(result, plan seconds, execute seconds): physical planning is forced
    first, so the execute step reuses the already-built plan."""
    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t1 = time.perf_counter()
    out = execute(df)
    return out, t1 - t0, time.perf_counter() - t1


def run_queries(spark, data_dir: str) -> dict[str, tuple[int, float, float]]:
    """Every bench query once: name -> (rows, plan seconds, execute seconds)."""
    return {
        q: plan_and_run(QUERIES[q](spark, data_dir),
                        lambda d: d._jdf.queryExecution().toRdd().count())
        for q in BENCH_QUERIES
    }


def oracle_row_counts(data_dir: str) -> dict[str, int]:
    """Row count of every oracle-backed bench query, computed by DuckDB."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads = 2")
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")
    return {q: len(con.sql(ORACLES[q]).fetchall()) for q in BENCH_QUERIES if q in ORACLES}


class Ledger:
    """Operation log of one run: timings, results and failures."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.ops: list[dict] = []
        self.round = 0
        self.traced = False

    def op(self, cls: str, fn):
        """Run one timed operation; return its result, or None if it raised."""
        rec = {"cls": cls, "round": self.round, "traced": self.traced, "ok": True,
               "result": None}
        rec["group"] = f"{cls}#{self.round}#{len(self.ops)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], cls)
        tracer = self.tracer if self.traced else None
        if tracer:
            tracer.in_op = True
        rec["t0"] = time.time()
        t0 = time.perf_counter()
        try:
            rec["result"] = fn()
        except Exception:
            rec["ok"] = False
            traceback.print_exc()
        rec["secs"] = time.perf_counter() - t0
        rec["t1"] = time.time()
        if tracer:
            tracer.in_op = False
        sc.setJobGroup("untimed", "untimed")
        self.ops.append(rec)
        return rec["result"] if rec["ok"] else None

    def check(self, ok: bool, what: str) -> bool:
        """Mark the latest operation failed when a correctness check fails."""
        if not ok:
            print(f"CHECK FAILED (round {self.round}): {what}", file=sys.stderr, flush=True)
            self.ops[-1]["ok"] = False
        return ok

    def verify(self, ok: bool, what: str) -> bool:
        """A stand-alone, untimed check; it counts as one attempted operation."""
        self.ops.append({"cls": "verify", "round": self.round, "traced": False,
                         "ok": True, "result": None, "secs": 0.0, "untimed": True})
        return self.check(ok, what)


def _image_table(cat: Catalog, buckets: int, properties: dict | None = None):
    return cat.create_table(
        TABLE,
        IMAGE_SCHEMA,
        TableSpec(
            partition_spec=PartitionSpec.bucket("image_id", buckets),
            sort_order=SortOrder.by("phash"),
            properties=properties or {},
        ),
    )


def _live_bytes(table) -> int:
    return sum(e.size_bytes for e in table.live_entries())


def space_amp(table) -> float:
    """Bytes under the table root over bytes of live data files."""
    total = 0
    for d, _, files in os.walk(table.root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / max(_live_bytes(table), 1)


def _key_rows(df) -> list[tuple]:
    """Sorted (image_id, caption, phash, md5(bytes)) tuples — rows' identity."""
    return sorted(
        tuple(r) for r in df.select("image_id", "caption", "phash", F.md5("bytes")).collect()
    )


def checksum(spark, table) -> tuple:
    """Order-insensitive (rows, sum of row hashes) of the table, read through
    the native ``Table.scan`` path rather than the rewrite's Arrow path."""
    row = (
        table.scan(spark)
        .agg(
            F.count("*"),
            F.sum(F.xxhash64("image_id", "caption", "phash", F.md5("bytes"))
                  .cast("decimal(38,0)")),
        )
        .first()
    )
    return int(row[0]), int(row[1] or 0)


class Workload:
    """Shared plumbing: per-run directories and the pristine-copy step."""

    setup_repeats = 3
    max_rounds = 8  # inputs are generated for this many rounds

    def __init__(self, spark, work: str, seed: int, scale: float, cpus: int):
        self.spark, self.work, self.seed, self.scale, self.cpus = spark, work, seed, scale, cpus
        self.amp: list[float] = []

    def n(self, rows: int) -> int:
        return max(int(rows * self.scale), 16)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def copy_of(self, src: str, name: str) -> str:
        dst = self.fresh_dir(name)
        shutil.copytree(src, dst)
        return dst

    def start(self, led: Ledger) -> float:
        """Step between the last set-up and the first round; returns the
        seconds of it that count as (one-time) set-up."""
        return 0.0

    def final_check(self, led: Ledger) -> None:
        """Untimed end-of-run correctness checks."""


# --------------------------------------------------------------------------
# maintain: fused rewrite, key-localized append + incremental cluster,
# two-pass compaction + cluster, each on a fresh copy of a fragmented table
# --------------------------------------------------------------------------


class Maintain(Workload):
    rows = 600
    fragments = 5
    buckets = 2
    # several clustered files per bucket, so a key-localized delta overlaps
    # only some of them; every fragment counts as a small file
    properties = {
        "write.target-file-size-bytes": str(1024 * 1024),
        "compact.small-file-bytes": str(768 * 1024),
    }

    def setup(self, k: int) -> None:
        spark = self.spark
        wh = self.fresh_dir(f"pristine{k}")
        t = _image_table(Catalog(wh), self.buckets, self.properties)
        SystemTables(wh)
        t.append(
            synth_images_df(spark, n_rows=self.n(self.rows), seed=self.seed),
            num_files=self.fragments,
            distribution="fragment",
        )
        # key-localized delta: new keys whose phash falls inside one narrow
        # window, so after clustering it overlaps only a few base files
        lo, hi = t.scan(spark).approxQuantile("phash", [0.40, 0.45], 0.0)
        delta_dir = self.fresh_dir(f"delta{k}")
        (
            t.scan(spark)
            .filter(F.col("phash").between(lo, hi))
            .withColumn("image_id", F.concat("image_id", F.lit("-r")))
            .withColumn("caption", F.concat("caption", F.lit(" (recaptioned)")))
            .coalesce(1)
            .write.parquet(delta_dir)
        )
        self.pristine, self.delta_dir = wh, delta_dir
        self.rows_total = self.n(self.rows)
        self.base_sum = checksum(spark, t)

    def inject_fault(self) -> None:
        self.base_sum = (self.base_sum[0] + 1, self.base_sum[1])

    def _verify(self, led: Ledger, t, want: tuple, what: str) -> None:
        t.refresh()
        got = checksum(self.spark, t)
        led.check(got == want, f"{what}: checksum {got} != {want}")

    def run_round(self, led: Ledger) -> None:
        spark = self.spark
        wh = self.copy_of(self.pristine, "round_a")
        t = Catalog(wh).load_table(TABLE)
        st = SystemTables(wh)
        res = led.op("rewrite", lambda: execute_cluster(spark, t, st, TABLE, curve="zorder"))
        if res is not None:
            led.check(res.get("status") == "committed", f"rewrite status {res.get('status')}")
            self._verify(led, t, self.base_sum, "rewrite")

        t.refresh()
        led.op("append", lambda: t.append(spark.read.parquet(self.delta_dir), num_files=2))
        t.refresh()
        with_delta = checksum(spark, t)
        table_bytes = _live_bytes(t)
        res = led.op(
            "incr",
            lambda: execute_cluster_incremental(spark, t, st, TABLE, curve="zorder"),
        )
        if res is not None:
            led.ops[-1]["table_bytes"] = table_bytes
            led.check(res.get("mode") == "incremental", f"incr mode {res.get('mode')}")
            self._verify(led, t, with_delta, "incr")
        self.amp.append(space_amp(t))

        wh_b = self.copy_of(self.pristine, "round_b")
        t2 = Catalog(wh_b).load_table(TABLE)
        st2 = SystemTables(wh_b)

        def twopass():
            out = {"spans": {}}
            for part, fn in (
                ("compact", lambda: execute_compaction(spark, t2, st2, TABLE)),
                ("cluster", lambda: execute_cluster(spark, t2, st2, TABLE, curve="zorder")),
            ):
                t0 = time.time()
                out[part] = fn()
                out["spans"][part] = (t0, time.time())
                t2.refresh()
            return out

        res = led.op("twopass", twopass)
        if res is not None:
            led.check(res["cluster"].get("status") == "committed", "twopass cluster status")
            self._verify(led, t2, self.base_sum, "twopass")
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(wh_b, ignore_errors=True)


# --------------------------------------------------------------------------
# mutate: a growing commit history on a clustered table, read as it grows
# --------------------------------------------------------------------------


class Mutate(Workload):
    """Each round: appends, a copy-on-write MERGE and a delete; appends, a
    merge-on-read MERGE and a delete; point lookups, phash range scans and a
    training export through the read path (the table now carries delete
    vectors); then housekeeping (DV rewrite, compaction, snapshot expiry).
    The analytic query layer runs once per run, cold, as set-up.

    A model of the table (key -> phash) derived from the generated op stream
    checks every read and, at the end, the table's key set and row count."""

    rows = 500
    buckets = 2
    batch_rows = 12
    appends_per_half = 2
    update_frac = 0.12
    delete_frac = 0.04
    deletes_per_op = 3
    lookups_per_round = 3
    ranges_per_round = 3
    export_batch = 16
    keep_last = 10
    query_scale = 1.0

    def setup(self, k: int) -> None:
        spark = self.spark
        n0 = self.n(self.rows)
        n_batches = 2 * self.appends_per_half * self.max_rounds
        pool_dir = self.fresh_dir(f"pool{k}")
        (
            synth_images_df(spark, n_rows=n0 + n_batches * self.batch_rows, seed=self.seed)
            .withColumn("n", F.substring("image_id", 5, 12).cast("long"))
            .withColumn(
                "batch",
                F.when(F.col("n") < n0, F.lit(-1)).otherwise(
                    F.floor((F.col("n") - n0) / self.batch_rows)
                ).cast("int"),
            )
            .drop("n")
            .write.partitionBy("batch")
            .parquet(pool_dir)
        )
        # every MERGE key appears in one merge only; dealing them out in a
        # seeded order gives every merge the same number of changes
        src_dir = self.fresh_dir(f"merge{k}")
        order = Window.orderBy(F.xxhash64("image_id", F.lit(self.seed)))
        (
            synth_merge_source_df(
                spark, n0, seed=self.seed, update_frac=self.update_frac,
                delete_frac=self.delete_frac, insert_frac=0.0,
            )
            .withColumn("slot", F.pmod(F.row_number().over(order), F.lit(2 * self.max_rounds)))
            .write.partitionBy("slot")
            .parquet(src_dir)
        )
        wh = self.fresh_dir(f"pristine{k}")
        t = _image_table(Catalog(wh), self.buckets)
        st = SystemTables(wh)
        t.append(spark.read.parquet(os.path.join(pool_dir, "batch=-1")), num_files=self.cpus)
        execute_cluster(spark, t, st, TABLE, curve="zorder")
        qdir = self.fresh_dir(f"querydata{k}")
        write_query_data(qdir, self.seed, self.query_scale * self.scale)
        self.pristine, self.pool_dir, self.src_dir, self.qdir = wh, pool_dir, src_dir, qdir
        self._plan_ops(n0)

    def _plan_ops(self, n0: int) -> None:
        """Derive the op stream's keys and the model's starting state."""
        spark = self.spark
        merges = spark.read.parquet(self.src_dir).select("image_id", "_op", "phash", "slot")
        self.slot_ops: dict[int, list[tuple[str, str, int]]] = {}
        for r in merges.collect():
            self.slot_ops.setdefault(int(r["slot"]), []).append(
                (r["image_id"], r["_op"], int(r["phash"])))
        pool = spark.read.parquet(self.pool_dir)
        self.pool_phash = {r[0]: int(r[1]) for r in pool.select("image_id", "phash").collect()}
        touched = {key for ops in self.slot_ops.values() for key, _, _ in ops}
        free = [f"img_{i:012d}" for i in range(n0) if f"img_{i:012d}" not in touched]
        rng = np.random.default_rng(self.seed)
        free = [free[i] for i in rng.permutation(len(free))]
        # lookup keys are never merged or deleted: their rows stay as loaded
        n_look = self.lookups_per_round * self.max_rounds
        self.lookup_keys, self.delete_keys = free[:n_look], free[n_look:]
        self.expected = {
            row[0]: row
            for row in _key_rows(pool.filter(F.col("image_id").isin(self.lookup_keys)))
        }
        phash = np.sort(np.array(
            [self.pool_phash[f"img_{i:012d}"] for i in range(n0)], dtype="int64"))
        edges = phash[np.linspace(0, len(phash) - 1, 41).astype(int)]
        self.ranges = []
        for _ in range(self.ranges_per_round * self.max_rounds):
            j = int(rng.integers(0, len(edges) - 1))
            self.ranges.append((int(edges[j]), int(edges[j + 1])))
        self.base = {f"img_{i:012d}": self.pool_phash[f"img_{i:012d}"] for i in range(n0)}

    def start(self, led: Ledger) -> float:
        wh = self.copy_of(self.pristine, "live")
        self.cat = Catalog(wh)
        self.t = self.cat.load_table(TABLE)
        self.st = SystemTables(wh)
        self.model = dict(self.base)  # live key -> phash
        self.next_batch = self.next_delete = self.next_lookup = self.next_range = 0
        register_lakehouse_source(self.spark)
        # first use of the data source starts its planner; keep that untimed
        self.spark.read.format("lakehouse").load(self.t.root).limit(1).collect()
        # the analytic layer: one cold pass over every bench query, counted
        # as set-up (a warm pass would double the run's cost). Row counts
        # must match the DuckDB oracle; oracle-less queries must return rows.
        want = oracle_row_counts(self.qdir)
        t0 = time.perf_counter()
        self.queries = run_queries(self.spark, self.qdir)
        once = time.perf_counter() - t0
        for q, (n, _, _) in self.queries.items():
            ok = n == want[q] if q in want else n > 0
            led.verify(ok, f"{q}: {n} rows, oracle {want.get(q, '>0')}")
        return once

    def inject_fault(self) -> None:
        self.model["img_not_in_the_table"] = 0

    # ---- writes -----------------------------------------------------------

    def _append(self, led: Ledger) -> None:
        spark, t, b = self.spark, self.t, self.next_batch
        self.next_batch += 1
        path = os.path.join(self.pool_dir, f"batch={b}")
        snap = led.op("append", lambda: t.append(spark.read.parquet(path), num_files=1))
        if snap is not None:
            n0 = len(self.base)
            for i in range(self.batch_rows):
                key = f"img_{n0 + b * self.batch_rows + i:012d}"
                self.model[key] = self.pool_phash[key]

    def _merge(self, led: Ledger, slot: int, strategy: str) -> None:
        spark, t = self.spark, self.t
        changes = self.slot_ops.get(slot, [])
        if not changes:
            return
        path = os.path.join(self.src_dir, f"slot={slot}")
        res = led.op(
            "merge",
            lambda: merge_into(spark, t, spark.read.parquet(path), sys_tables=self.st,
                               table_name=TABLE, strategy=strategy),
        )
        if res is not None:
            led.check(res.get("status") == "committed", f"merge status {res.get('status')}")
            for key, op, phash in changes:
                if op == "delete":
                    self.model.pop(key, None)
                else:
                    self.model[key] = phash

    def _delete(self, led: Ledger) -> None:
        i = self.next_delete
        keys = self.delete_keys[i : i + self.deletes_per_op]
        self.next_delete += self.deletes_per_op
        cond = "image_id IN (" + ", ".join(f"'{k}'" for k in keys) + ")"
        res = led.op("delete", lambda: delete_where(self.spark, self.t, cond,
                                                     sys_tables=self.st, table_name=TABLE))
        if res is not None:
            led.check(res.get("deleted_rows") == len(keys),
                      f"delete removed {res.get('deleted_rows')} of {len(keys)}")
            for key in keys:
                self.model.pop(key, None)

    def _housekeeping(self, led: Ledger) -> None:
        spark, t, st = self.spark, self.t, self.st

        def run():
            out, secs, spans = {}, {}, {}
            for part, fn in (
                ("rewrite_deletes", lambda: rewrite_deletes(spark, t)),
                ("compact", lambda: execute_compaction(spark, t, st, TABLE)),
                ("expire", lambda: expire_snapshots(
                    spark, t, st, TABLE, older_than_ms=int(time.time() * 1000) + 1,
                    keep_last=self.keep_last)),
            ):
                t0, e0 = time.perf_counter(), time.time()
                out[part] = fn()
                secs[part] = time.perf_counter() - t0
                spans[part] = (e0, time.time())
                t.refresh()
            out["secs"], out["spans"] = secs, spans
            return out

        led.op("housekeeping", run)

    # ---- reads ------------------------------------------------------------

    def _read(self, led: Ledger, cls: str, query, pred) -> list | None:
        """Build, plan and collect ``query(reader)``; the plan/execute split
        and the files manifest pruning keeps ride on the operation record."""
        split = {}

        def run():
            df = query(self.spark.read.format("lakehouse").load(self.t.root))
            rows, split["plan_s"], split["exec_s"] = plan_and_run(df, lambda d: d.collect())
            return rows

        rows = led.op(cls, run)
        rec = led.ops[-1]
        rec["split"] = split
        if rows is not None and led.traced:
            entries = self.t.live_entries()
            kept = [e for e in entries if entry_matches(e, prepare_predicates(pred))]
            rec["files"] = (len(kept), len(entries))
        return rows

    def _lookup(self, led: Ledger) -> None:
        key = self.lookup_keys[self.next_lookup]
        self.next_lookup += 1
        rows = self._read(
            led, "lookup",
            lambda r: r.filter(F.col("image_id") == key).select(
                "image_id", "caption", "phash", F.md5("bytes")),
            [PrunePredicate("image_id", "=", key)],
        )
        if rows is not None:
            got = sorted(tuple(r) for r in rows)
            led.check(got == [self.expected[key]], f"lookup {key} returned {len(got)} rows")

    def _range_scan(self, led: Ledger) -> None:
        lo, hi = self.ranges[self.next_range]
        self.next_range += 1
        rows = self._read(
            led, "range",
            lambda r: r.filter((F.col("phash") >= lo) & (F.col("phash") <= hi)).select(
                "image_id", "phash"),
            [PrunePredicate("phash", ">=", lo), PrunePredicate("phash", "<=", hi)],
        )
        if rows is not None:
            want = sorted((k, p) for k, p in self.model.items() if lo <= p <= hi)
            got = sorted((r[0], int(r[1])) for r in rows)
            led.check(got == want, f"range [{lo}, {hi}] returned {len(got)} rows, "
                                   f"model has {len(want)}")

    def _export(self, led: Ledger) -> None:
        out = self.fresh_dir(f"export{led.round}")
        mt = f"bench.export_r{led.round}"
        live = len(self.model)
        res = led.op("export", lambda: export_webdataset_job(
            self.spark, self.cat, TABLE, out, batch_size=self.export_batch, manifest_table=mt))
        if res is not None:
            led.check(res["items"] == live, f"export items {res['items']} != live rows {live}")
        self.cat.drop_table(mt)
        shutil.rmtree(out, ignore_errors=True)

    def run_round(self, led: Ledger) -> None:
        r = led.round
        for half, strategy in ((0, "cow"), (1, "mor")):
            for _ in range(self.appends_per_half):
                self._append(led)
                self.t.refresh()
            self._merge(led, 2 * r + half, strategy)
            self.t.refresh()
            self._delete(led)
            self.t.refresh()
        for _ in range(self.lookups_per_round):
            self._lookup(led)
        for _ in range(self.ranges_per_round):
            self._range_scan(led)
        self._export(led)
        self._housekeeping(led)
        self.amp.append(space_amp(self.t))

    def final_check(self, led: Ledger) -> None:
        got = [r[0] for r in self.t.scan(self.spark).select("image_id").collect()]
        led.verify(len(got) == len(self.model),
                   f"row count {len(got)} != model {len(self.model)}")
        led.verify(set(got) == set(self.model), "key set differs from the model")


WORKLOADS = {"maintain": Maintain, "mutate": Mutate}
