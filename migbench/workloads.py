"""The workloads: what one job runs, how its output is checked, and which
per-layer figures a traced job yields.

* ``snapshot_migrate`` — the reference's own job: a full overwrite
  migration of one wide all-string table through declared-type casts,
  mapping, constraints and the sink, then ``verify``. Heavy in casts,
  mapping, constraints, sinks (fresh bulk write) and validate; bypasses
  delta and dedup.
* ``corpus_sync`` — the beyond-reference, shuffle- and driver-bound path:
  MinHash LSH pairs and near-dup removal on a crawl, then an incremental
  sync that rewrites a mostly unchanged snapshot. Heavy in dedup, delta and
  the sink's rewrite; bypasses casts, mapping, constraints and validate.

NOTES.md gives sizes, probe numbers and why there are two, not three.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

import checks
import gen
from tracing import self_time

# layer → public functions wrapped in traced jobs; migrate.py binds some
# of these at import and imports the rest inside its methods, so both its
# namespace and the defining module are patched
LAYER_FUNCTIONS = {
    "sources.readers": ("readers", ["read_table", "latest_partition_filter",
                                    "validate_table_access"]),
    "functions.casts": ("casts", ["apply_source_schema",
                                  "reconcile_to_schema"]),
    "operators.mapping": ("mapping", ["apply_mapping",
                                      "project_to_destination"]),
    "operators.constraints": ("constraints", ["apply_defaults_backfill",
                                              "apply_null_policy"]),
    "sources.sinks": ("sinks", ["write_table", "write_sized"]),
    "operators.validate": ("validate", ["group_checksum"]),
    "operators.delta": ("delta", ["snapshot_delta", "delta_counts",
                                  "apply_delta", "apply_delta_jdbc"]),
    "operators.dedup": ("dedup", ["minhash_lsh_pairs", "near_dup_removal"]),
}


def trace_targets(eng) -> list[tuple]:
    """``(owner, attribute, layer, span name)`` for every wrapped call."""
    job = eng.migrate.MigrationJob
    out = [(job, m, "migrate", f"migrate.{m}")
           for m in ("run", "verify", "run_incremental")]
    for layer, (mod_name, names) in LAYER_FUNCTIONS.items():
        mod = getattr(eng, mod_name)
        for n in names:
            out.append((mod, n, layer, f"{layer}.{n}"))
            if getattr(eng.migrate, n, None) is getattr(mod, n):
                out.append((eng.migrate, n, layer, f"{layer}.{n}"))
    return out


def layer_metrics(tr, cores: int) -> dict[str, float]:
    """Per-layer figures of one traced job, for every layer (a layer the
    workload bypasses reads 0)."""
    m = {}
    util = lambda task, wall: task / (wall * cores) if wall else 0.0
    mb = lambda b: b / 2**20

    m["migrate.spark_jobs"] = len(tr.jobs_in(tr.under(tr.in_layer(
        "migrate"))))
    m["migrate.driver_s"] = sum(
        self_time(s, tr.children(s.sid))
        for s in tr.spans.values() if s.layer == "migrate")

    everything = tr.stages(tr.job_span)
    m["sources.readers.build_ms"] = 1e3 * tr.build_s("sources.readers")
    m["sources.readers.input_mb"] = mb(everything.input_bytes)
    m["sources.readers.input_rows"] = everything.input_rows
    m["functions.casts.build_ms"] = 1e3 * tr.build_s("functions.casts")
    m["operators.mapping.build_ms"] = 1e3 * tr.build_s("operators.mapping")

    wall, jobs, st = tr.layer("operators.constraints")
    m["operators.constraints.wall_s"] = wall
    m["operators.constraints.spark_jobs"] = len(jobs)
    m["operators.constraints.task_s"] = st.task_s

    wall, jobs, st = tr.layer("sources.sinks")
    m["sources.sinks.wall_s"] = wall
    m["sources.sinks.task_s"] = st.task_s
    m["sources.sinks.core_util"] = util(st.task_s, wall)
    m["sources.sinks.out_mb"] = mb(st.output_bytes)

    wall, jobs, st = tr.layer("operators.validate")
    m["operators.validate.wall_s"] = wall
    m["operators.validate.task_s"] = st.task_s
    m["operators.validate.spark_jobs"] = len(jobs)
    m["operators.validate.core_util"] = util(st.task_s, wall)

    wall, jobs, st = tr.layer("operators.delta")
    m["operators.delta.wall_s"] = wall
    m["operators.delta.task_s"] = st.task_s
    m["operators.delta.shuffle_mb"] = mb(st.shuffle_write_bytes)
    # rows the sink rewrote inside run_incremental
    syncs = tr.under(tr.in_layer("migrate", "migrate.run_incremental"))
    rewrites = tr.under([s for s in tr.spans.values()
                         if s.layer == "sources.sinks" and s.sid in syncs])
    m["operators.delta.rows_rewritten"] = tr.stages(
        tr.jobs_in(rewrites)).output_rows

    wall, jobs, _ = tr.layer("operators.dedup",
                             "operators.dedup.minhash_lsh_pairs")
    m["operators.dedup.pairs_wall_s"] = wall
    m["operators.dedup.pairs_jobs"] = len(jobs)
    wall, jobs, _ = tr.layer("operators.dedup",
                             "operators.dedup.near_dup_removal")
    m["operators.dedup.removal_wall_s"] = wall
    m["operators.dedup.removal_jobs"] = len(jobs)
    _, _, st = tr.layer("operators.dedup")
    m["operators.dedup.task_s"] = st.task_s
    m["operators.dedup.shuffle_mb"] = mb(st.shuffle_write_bytes)
    # read from the job's result and output (Workload.extra_metrics);
    # 0 where the workload bypasses the layer
    for k in ("operators.delta.rows_changed",
              "operators.delta.write_amplification",
              "operators.dedup.pairs_out", "operators.dedup.precision"):
        m[k] = 0
    return m


@dataclass
class Outcome:
    """What a job leaves for the runner: the failures of its checks and
    the figures its output yields."""

    failures: list[str]
    dest_rows: int
    dest_bytes: int
    dest_files: int
    planted: int        # planted items the output must drop
    removed: int        # ... of which the output dropped
    removed_total: int  # items the output dropped, planted or not


class Workload:
    name = ""
    source_rows = 0
    # median warm job wall time on a quiet 4-vCPU host, rounded up
    # (NOTES.md); it turns --seconds into the run's fixed timed job count
    JOB_S = 0.0

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.dest = os.path.join(work, "dest")

    def generate(self) -> None:
        raise NotImplementedError

    def job(self, eng, spark, i: int) -> dict:
        raise NotImplementedError

    def check(self, i: int, result: dict) -> Outcome:
        raise NotImplementedError

    def extra_metrics(self, result: dict, outcome: Outcome,
                      layers: dict[str, float]) -> dict[str, float]:
        """Per-layer figures read from a traced job's result and output."""
        return {}

    def _outcome(self, table, named, planted, removed,
                 removed_total=None) -> Outcome:
        return Outcome(checks.failures(named), table.num_rows,
                       checks.data_bytes(self.dest),
                       checks.data_files(self.dest), planted, removed,
                       removed if removed_total is None else removed_total)


class SnapshotMigrate(Workload):
    name = "snapshot_migrate"
    ROWS, FILES = 20_000, 4
    JOB_S = 2.0

    def generate(self) -> None:
        self.src = os.path.join(self.work, "src")
        self.exp = gen.snapshot(self.seed, self.ROWS, self.FILES, self.src)
        self.source_rows = self.ROWS

    def job(self, eng, spark, i: int) -> dict:
        job = eng.migrate.MigrationJob(
            source_path=self.src, destination_path=self.dest,
            mode="overwrite",
            source_schema=[eng.schema.ColumnSpec(n, t)
                           for n, t in gen.SNAPSHOT_SCHEMA],
            mapping=gen.SNAPSHOT_MAPPING,
            dest_schema=gen.SNAPSHOT_DEST_SCHEMA,
            non_nullable=gen.SNAPSHOT_NON_NULLABLE)
        return {"run": job.run(spark), "verify": job.verify(spark)}

    def check(self, i: int, result: dict) -> Outcome:
        table = checks.read_dest(self.dest)
        named = checks.check_snapshot(table, self.exp)
        named["run_summary"] = (
            [] if result["run"].get("rows_written") == self.ROWS
            else [f"run reported {result['run']}"])
        named["verify"] = ([] if result["verify"].get("verified") is True
                           else [f"verify reported {result['verify']}"])
        # planted removals: numeric null/inf tokens the cast must drop
        price = table.sort_by("order_id").column("price")
        dropped = price.is_null().to_numpy(zero_copy_only=False)
        planted = self.exp["price_null"]
        if len(dropped) != len(planted):
            return self._outcome(table, named, int(planted.sum()), 0)
        return self._outcome(table, named, int(planted.sum()),
                             int((dropped & planted).sum()),
                             int(dropped.sum()))


class CorpusSync(Workload):
    """Deduplicate a crawl and sync the cleaned corpus into the serving
    table: MinHash LSH pairs and near-dup removal write a staging
    snapshot, then ``run_incremental`` applies it to the destination.
    Crawls A and B alternate, so every sync after the first load applies
    the same planted inserts, updates and deletes."""

    name = "corpus_sync"
    DOCS, COPIES, CHURN, FILES = 4_000, 1_000, 0.01, 4
    JOB_S = 2.0
    # 8 bands of 2 rows: a near-copy at Jaccard 0.5 collides in some band
    # with probability 1 - (1 - 0.5**2)**8 = 0.90
    PAIRS = dict(n=3, k=16, bands=8, threshold=0.5)

    def generate(self) -> None:
        self.src = [os.path.join(self.work, "crawl_a"),
                    os.path.join(self.work, "crawl_b")]
        self.staging = os.path.join(self.work, "staging")
        self.exp = gen.crawls(self.seed, self.DOCS, self.COPIES, self.CHURN,
                              self.FILES, *self.src)
        self.source_rows = self.DOCS + self.COPIES

    def job(self, eng, spark, i: int) -> dict:
        # job 0 (set-up) loads crawl A into an empty destination; every
        # later job syncs the other crawl over it
        docs = spark.read.parquet(self.src[i % 2])
        pairs = eng.dedup.minhash_lsh_pairs(docs, "text", "id", **self.PAIRS)
        kept = eng.dedup.near_dup_removal(docs, pairs, "id")
        eng.sinks.write_table(kept, self.staging, mode="overwrite")
        sync = eng.migrate.MigrationJob(
            source_path=self.staging, destination_path=self.dest,
            mode="overwrite").run_incremental(spark, key_cols=["id"])
        return {"pairs": pairs, "sync": sync}

    def check(self, i: int, result: dict) -> Outcome:
        crawl = self.exp["a"] if i % 2 == 0 else self.exp["b"]
        staged = checks.read_dest(self.staging)
        named = checks.check_dedup(staged, crawl, self.exp["docs"])
        counts = dict(self.exp["churn"],
                      unchanged=staged.num_rows - 2 * self.exp["churn"]
                      ["insert"])
        named.update(checks.check_sync(checks.read_dest(self.dest), staged,
                                       result["sync"], counts))
        if i == 0:
            # the first load has no destination to diff against
            named["incremental"] = (
                [] if result["sync"].get("incremental") is False
                else [f"first load reported {result['sync']}"])
            named["delta_counts"] = []
        removed = np.setdiff1d(crawl.column("id").to_numpy(),
                               staged.column("id").to_numpy())
        copies = int((removed >= self.exp["docs"]).sum())
        return self._outcome(staged, named, self.COPIES, copies,
                             len(removed))

    def extra_metrics(self, result, outcome, layers):
        changed = sum(v for k, v in result["sync"]["delta_counts"].items()
                      if k != "unchanged")
        rewritten = layers["operators.delta.rows_rewritten"]
        return {
            "operators.delta.rows_changed": changed,
            "operators.delta.write_amplification":
                rewritten / changed if changed else 0.0,
            # counted after the job, outside its spans and timing; the
            # derived frame carries none of the traced frame's action spans
            "operators.dedup.pairs_out": result["pairs"].select("id_a")
            .count(),
            "operators.dedup.precision":
                outcome.removed / outcome.removed_total
                if outcome.removed_total else 0.0}


WORKLOADS = {w.name: w for w in (SnapshotMigrate, CorpusSync)}
