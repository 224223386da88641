"""The three benchmark workloads, their inputs and their correctness gates.

Every workload runs in one process against one SparkSession built by the
package's own ``session.get_spark`` (engine defaults), in three phases:

- ``setup``: generate the seeded inputs (several times; the median counts)
  and run an untimed warm-up on the same code paths;
- ``cycle``: one closed-loop cycle, run a fixed number of times back to
  back; each returns its wall time;
- ``check``: the correctness gate, untimed.

The package is reached only through its public functions and their return
values, as a user would reach it.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from datetime import datetime

from nifi_ngsild_postgresql_spark.analytics import flagship, registry
from nifi_ngsild_postgresql_spark.config import IngestConfig
from nifi_ngsild_postgresql_spark.plans import manifest
from nifi_ngsild_postgresql_spark.plans.lake import LakeCatalog
from nifi_ngsild_postgresql_spark.sources.generator import synthesize_changelog
from nifi_ngsild_postgresql_spark.streaming import changefeed, pipeline

import spans
import tables

GEN_REPS = 3
# the changelog generator's first timestamp (sources/generator.py)
_BASE_TS = 1672531200


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Shared state: the session, the work directory, the recorder and
    the op/gate tallies every workload reports."""

    name = ""
    gen_reps = GEN_REPS

    def __init__(self, spark, work: str, seed: int, tiny: bool, rec,
                 n_cycles: int = 1):
        self.spark = spark
        self.n_cycles = n_cycles
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.rec = rec
        self.attempted = 0
        self.failed = 0
        self.gates: dict[str, bool] = {}
        self.gen_s: list[float] = []
        self.warmup_s = 0.0
        self.cycle_walls: list[float] = []
        self.cycle_traced: list[bool] = []

    def gate(self, name: str, ok: bool) -> None:
        self.gates[name] = self.gates.get(name, True) and ok
        self.attempted += 1
        if not ok:
            self.failed += 1

    def jobs(self) -> int:
        return spans.max_job_id(self.spark)


# --- changelog-fed ingest workloads ----------------------------------------


class _Changelog(Workload):
    """Inputs: one seeded changelog, written as a prefix batch plus
    ``batches`` equal micro-batches, each its own parquet directory so
    ``ingest_batch`` sees exactly what a stream trigger would hand it. The
    input depends on the seed alone; a run consumes its first
    ``n_cycles`` micro-batches."""

    write_mode = ""
    prefix = batch = 0
    batches = 4
    # entity types kept from the generated changelog (empty: all five)
    types: tuple[str, ...] = ()
    # lake state as the loop left it, when something runs after the loop
    end_state: dict[str, float] | None = None

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_cycles = min(self.n_cycles, self.batches)

    @property
    def n_entities(self) -> int:
        return (self.prefix + self.batch * self.batches) // 20

    def setup(self) -> None:
        for rep in range(self.gen_reps):
            t0 = time.perf_counter()
            self.inputs = write_changelog(
                self.spark, os.path.join(self.work, f"gen{rep}"), self.seed,
                self.prefix, self.batch, self.batches, self.n_entities,
                self.types,
            )
            self.gen_s.append(time.perf_counter() - t0)
        self.cfg = IngestConfig(write_mode=self.write_mode)
        self.wh = os.path.join(self.work, "wh")
        self.catalog = LakeCatalog(self.wh)
        self.lineages: list[dict] = []
        self.next_batch = 0
        t0 = time.perf_counter()
        self.ingest(self.inputs[0], "prefix")
        self.warmup()
        self.warmup_s = time.perf_counter() - t0

    def warmup(self) -> None:
        pass

    def ingest(self, path: str, epoch: str) -> dict:
        j0 = self.jobs()
        lineage = pipeline.ingest_batch(
            self.spark.read.parquet(path), self.cfg, self.wh, epoch_id=epoch
        )
        lineage["spark_jobs"] = self.jobs() - j0
        self.attempted += 1
        if any("error" in t for t in lineage["tables"].values()):
            self.failed += 1
        return lineage

    def ingest_next(self) -> float:
        b = self.next_batch
        self.next_batch += 1
        t0 = time.perf_counter()
        lineage = self.ingest(self.inputs[b + 1], f"b{b}")
        wall = time.perf_counter() - t0
        lineage["traced"] = bool(self.rec and self.rec.enabled)
        self.lineages.append(lineage)
        return wall

    def events_committed(self) -> int:
        return self.next_batch * self.batch

    def lake_state(self) -> dict[str, float]:
        """Manifest bytes and the longest per-bucket file list over every
        table's latest snapshot (state size at the end of the run)."""
        nbytes, widest = 0, 0
        for tenant, name in self.catalog.list_tables():
            t = self.catalog.table(tenant, name)
            snap = t.latest_snapshot()
            nbytes += os.path.getsize(
                os.path.join(t.meta_dir, f"v{snap['version']:08d}.json")
            )
            widest = max([widest, *(len(p) for p in snap["files"].values())])
        return {"manifest_bytes": nbytes, "files_per_bucket_max": widest}

    def ingest_layers(self) -> dict[str, float]:
        """Per-layer numbers read off the lineage records of traced
        cycles (``phase_s``, per-table commit stats)."""
        lins = [lin for lin in self.lineages if lin.get("traced")] or self.lineages
        n = len(lins) or 1
        rows_in = sum(lin["rows_flattened"] - lin["errors"] for lin in lins)
        written = sum(
            t.get("rows_written", 0) for lin in lins for t in lin["tables"].values()
        )

        def phase(k):
            return sum(lin.get("phase_s", {}).get(k, 0.0) for lin in lins) / n

        return {
            "operators.flatten.stage_s": phase("flatten_stage"),
            "operators.flatten.rows_per_event": (
                sum(lin["rows_flattened"] for lin in lins) / (n * self.batch)
            ),
            "operators.flatten.error_rows": sum(lin["errors"] for lin in lins),
            "streaming.pipeline.table_commits_s": phase("table_commits"),
            "streaming.pipeline.spark_jobs_per_batch": (
                sum(lin["spark_jobs"] for lin in lins) / n
            ),
            "plans.lake.rows_written_per_row_in": written / rows_in if rows_in else 0.0,
            "plans.lake.buckets_touched": sum(
                t.get("buckets_touched", 0)
                for lin in lins for t in lin["tables"].values()
            ) / n,
            "plans.lake.commit_conflicts": sum(
                t.get("commit_conflicts", 0)
                for lin in lins for t in lin["tables"].values()
            ),
            **{f"plans.lake.{k}": v
               for k, v in (self.end_state or self.lake_state()).items()},
        }


def write_changelog(spark, out: str, seed: int, prefix: int, batch: int,
                    batches: int, n_entities: int,
                    types: tuple[str, ...] = ()) -> list[str]:
    """Generate ``prefix + batch * batches`` change events over
    ``n_entities`` entities with the package's seeded generator (default
    hot-key skew), keeping only entities of ``types`` when given, and
    split them in commit order into one parquet directory per
    micro-batch. Returns the directories: the prefix first, then the
    batches in order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n = prefix + batch * batches
    events = synthesize_changelog(
        spark, 6 * n if types else n, n_entities=n_entities, seed=seed
    )
    if types:
        # one type of five, plus its share of the hot set, draws over a
        # fifth of the events, so 6n events leave at least n
        events = events.filter(F.col("lang").isin(*types))
    rank = F.row_number().over(Window.orderBy(F.col("commit"))) - 1
    (
        events.withColumn("_rank", rank)
        .filter(F.col("_rank") < n)
        .withColumn(
            "part",
            F.when(F.col("_rank") < prefix, F.lit(0)).otherwise(
                F.floor((F.col("_rank") - prefix) / batch).cast("int") + 1
            ),
        )
        .drop("_rank")
        .write.partitionBy("part")
        .parquet(out)
    )
    return [os.path.join(out, f"part={i}") for i in range(batches + 1)]


class IngestCow(_Changelog):
    """Closed loop of equal copy-on-write micro-batches into one growing
    warehouse; nothing is read back."""

    name = "ingest_cow"
    write_mode = "upsert"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.prefix, self.batch = (300, 100) if self.tiny else (2_000, 2_000)

    def cycle(self) -> float:
        return self.ingest_next()

    def check(self) -> None:
        """The incremental lake must equal one ingest of the whole consumed
        changelog into a fresh warehouse: last-writer-wins makes the final
        state independent of how the changelog was cut into batches."""
        ref_wh = os.path.join(self.work, "wh_ref")
        consumed = self.inputs[: self.next_batch + 1]
        lineage = pipeline.ingest_batch(
            self.spark.read.parquet(*consumed), self.cfg, ref_wh, epoch_id="all"
        )
        ok = not any("error" in t for t in lineage["tables"].values())
        ref = LakeCatalog(ref_wh)
        names = self.catalog.list_tables()
        ok = ok and names == ref.list_tables() and bool(names)
        fps = parallel([
            lambda cat=cat, t=t, n=n: manifest.table_fingerprint(
                cat.table(t, n).read(self.spark)
            )
            for t, n in names for cat in (self.catalog, ref)
        ])
        ok = ok and fps[0::2] == fps[1::2]
        self.gate("fingerprint_vs_single_batch", ok)

    def report(self) -> dict:
        walls = self.cycle_walls
        return {
            "events_per_s": self.events_committed() / sum(walls) if walls else 0.0,
            "batch_p50_s": median(walls),
            "batch_events": self.batch,
            "batch_samples": len(walls),
        }

    def layers(self) -> dict:
        return self.ingest_layers()


class CdcReadmix(_Changelog):
    """Closed loop of small merge-on-read micro-batches; after each commit
    every table's change-feed consumer polls, then a fixed probe set
    reads the lake (entityid point lookups on a hot and a cold key,
    observedat range reads). The changelog keeps one of the generator's
    five entity types, AirQuality (it carries observedAt), so one table
    and one consumer, and a cycle short enough for several per run."""

    name = "cdc_readmix"
    write_mode = "upsert_mor"
    types = ("AirQuality",)
    # enough entities that the hot set (1 + n/1000 entities) holds an
    # AirQuality entity, E000000002
    n_entities = 2_000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.prefix, self.batch = (300, 50) if self.tiny else (1_000, 500)
        self.net_rows: dict[str, int] = {}
        self.freshness: list[float] = []
        self.polls: list[dict] = []
        self.reads: dict[str, list[float]] = {"point": [], "range": []}
        self.probe_log: list[tuple] = []
        self.scan_ratios: list[float] = []

    def warmup(self) -> None:
        self.consumers = {}
        for tenant, name in self.catalog.list_tables():
            self.consumers[f"{tenant}.{name}"] = changefeed.ChangeFeedConsumer(
                self.catalog.table(tenant, name),
                os.path.join(self.work, "ckpt", f"{tenant}.{name}"),
                include_preimage=True,
            )
        self.probes = self.make_probes()
        self.poll_all()
        self.run_probes(record=False)

    def make_probes(self) -> list[tuple]:
        """The fixed probe set, drawn from the seed's key space: the
        generator sends ~25% of events to entities 0..n/1000 (hot) and
        names entity i ``E{i:09d}`` of type family ``i % 5``."""
        rng = random.Random(self.seed)
        types = ["StorageTank", "WaterReading", "AirQuality",
                 "IrrigationValve", "ProbeLog"]
        kept = [i for i in range(self.n_entities) if types[i % 5] in self.types]
        n_hot = 1 + self.n_entities // 1000
        probes = []
        hot = rng.choice([i for i in kept if i < n_hot])
        cold = rng.choice([i for i in kept if i >= n_hot])
        for ent in (hot, cold):
            etype = types[ent % 5]
            probes.append(
                ("point", etype.lower(),
                 {"entityid": (f"urn:ngsi-ld:{etype}:E{ent:09d}",) * 2})
            )
        for _ in range(2):
            lo = _BASE_TS + rng.randrange(0, 700) * 86400
            probes.append(
                ("range", "airquality",
                 {"observedat": (_ts(lo), _ts(lo + 5 * 86400))})
            )
        return probes

    def poll_all(self) -> None:
        for key, consumer in sorted(self.consumers.items()):
            tally: dict[str, int] = {}

            def count_by_type(df, _v0, _v1, tally=tally):
                for row in df.groupBy("_change_type").count().collect():
                    tally[row[0]] = row[1]

            j0 = self.jobs()
            t0 = time.perf_counter()
            out = consumer.poll(self.spark, apply_fn=count_by_type)
            self.polls.append({
                "s": time.perf_counter() - t0, "jobs": self.jobs() - j0,
                "rows": out["rows"],
                "traced": bool(self.rec and self.rec.enabled),
            })
            self.attempted += 1
            self.net_rows[key] = (
                self.net_rows.get(key, 0)
                + tally.get("insert", 0) - tally.get("delete", 0)
            )

    def run_probes(self, record: bool = True) -> None:
        tenant = self.catalog.list_tables()[0][0]
        for kind, name, where in self.probes:
            table = self.catalog.table(tenant, name)
            version = table.versions()[-1]
            t0 = time.perf_counter()
            df = table.read(self.spark, where=where)
            rows = df.collect()
            dt = time.perf_counter() - t0
            self.attempted += 1
            if not record:
                continue
            self.reads[kind].append(dt)
            self.probe_log.append((name, version, where, rows))
            if self.rec and self.rec.enabled:
                n_files = sum(
                    len([f for f in os.listdir(os.path.join(table.path, d))
                         if f.endswith(".parquet")])
                    for ds in table.snapshot(version)["files"].values() for d in ds
                )
                self.scan_ratios.append(len(df.inputFiles()) / max(1, n_files))

    def cycle(self) -> float:
        t0 = time.perf_counter()
        self.ingest_next()
        self.poll_all()
        self.freshness.append(time.perf_counter() - t0)
        self.run_probes()
        return time.perf_counter() - t0

    def compact_all(self) -> None:
        """One ``LakeTable.compact`` (default arguments) per table, with
        spans recorded: no auto-compaction (33 commits at the default
        ``auto_compact_files``) fits in a run, so traced runs time the
        compaction layer once, after the loop."""
        self.end_state = self.lake_state()
        self.rec.enabled, self.rec.batch = True, "compact"
        for tenant, name in self.catalog.list_tables():
            self.catalog.table(tenant, name).compact(self.spark)
        self.rec.enabled = False

    def check(self) -> None:
        """Per table, inserts minus deletes over every poll must equal the
        table's row count; every probe must equal a full-scan filter of
        the snapshot version it read. Traced runs compact every table
        first, so the row counts are read from the compacted tables."""
        from pyspark.sql import functions as F

        if self.rec:
            self.compact_all()
        tenant = self.catalog.list_tables()[0][0]

        def full_scan(name, version, where):
            full = self.catalog.table(tenant, name).read(self.spark, version=version)
            for col, (lo, hi) in where.items():
                full = full.filter(F.col(col).between(F.lit(lo), F.lit(hi)))
            return sorted(map(repr, full.collect()))

        nets = sorted(self.net_rows.items())
        counts = parallel([
            lambda key=key: self.catalog.table(tenant, key.split(".", 1)[1])
            .read(self.spark).count()
            for key, _net in nets
        ])
        for (_key, net), count in zip(nets, counts):
            self.gate("changefeed_net_rows", net == count)
        scans = parallel([
            lambda p=p: full_scan(*p[:3]) for p in self.probe_log
        ])
        for (*_probe, rows), want in zip(self.probe_log, scans):
            self.gate("probe_vs_full_scan", sorted(map(repr, rows)) == want)

    def report(self) -> dict:
        reads = self.reads["point"] + self.reads["range"]
        out = {
            "events_per_s": (
                self.events_committed() / sum(self.cycle_walls) if self.cycle_walls else 0.0
            ),
            "batch_p50_s": median([lin["wall_s"] for lin in self.lineages]),
            "freshness_p50_s": median(self.freshness),
            "read_p50_s": median(reads),
            "read_samples": len(reads),
            "batch_events": self.batch,
            "batch_samples": len(self.cycle_walls),
        }
        if len(reads) >= 100:
            out["read_p90_s"] = statistics.quantiles(reads, n=10)[-1]
        return out

    def layers(self) -> dict:
        polls = [p for p in self.polls if p["traced"]] or self.polls
        n = len(polls) or 1
        return {
            **self.ingest_layers(),
            "plans.lake.point_read_s": median(self.reads["point"]),
            "plans.lake.range_read_s": median(self.reads["range"]),
            "plans.lake.files_scanned_ratio": (
                sum(self.scan_ratios) / len(self.scan_ratios) if self.scan_ratios else 0.0
            ),
            "streaming.changefeed.poll_s": sum(p["s"] for p in polls) / n,
            "streaming.changefeed.spark_jobs_per_poll": sum(p["jobs"] for p in polls) / n,
            "streaming.changefeed.rows_per_poll": sum(p["rows"] for p in polls) / n,
        }


def parallel(calls: list) -> list:
    """Run independent gate queries concurrently (Spark schedules their
    jobs side by side); results in call order."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(c) for c in calls]
        return [f.result() for f in futures]


def _ts(epoch_s: int) -> datetime:
    """A naive local datetime, the form PySpark both takes as a timestamp
    literal and returns from collect(), so bounds and rows compare."""
    return datetime.fromtimestamp(epoch_s)


# --- analytics ----------------------------------------------------------------

# One query per analytics family, so the pass fits a run: group-by and LWW
# (suite), sketches, near-dup (advanced), spatial, corpus text, WARC, time
# series and graph.
SUITE = [
    "group_agg", "lww_dedup", "hll_distinct", "minhash_bands", "geo_grid_join",
    "normalize_text", "warc_ingest", "gapfill_locf", "pagerank",
]
# The incremental join view writes through the lake (LakeTable.upsert), so
# it is no clean no-ingest control, and its fixture costs more than the
# rest of a pass: traced runs check and time it once, after the loop.
JOIN_VIEW = "join_view"


class AnalyticsSuite(Workload):
    """Untimed warm pass that also checks every query against its DuckDB
    oracle, then timed passes of the suite (no ingest at all)."""

    name = "analytics_suite"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.per_query: dict[str, list[float]] = {q: [] for q in SUITE}
        self.mismatches = 0
        self.queries = registry.all_queries()

    def setup(self) -> None:
        for rep in range(self.gen_reps):
            t0 = time.perf_counter()
            self.sf_dir = os.path.join(self.work, f"tables{rep}")
            tables.write_tables(self.sf_dir, self.seed, 0.001)
            self.gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.oracle_pass()
        self.warmup_s = time.perf_counter() - t0

    def oracle_pass(self) -> None:
        import duckdb
        from check_oracle import canon

        oracles = registry.all_oracle_sql()
        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for q in SUITE + ([JOIN_VIEW] if self.rec else []):
                got = canon(self.queries[q](self.spark, self.sf_dir).toPandas())
                want = canon(con.sql(oracles[q]).df())
                ok = got == want and bool(got[1])
                self.mismatches += not ok
                self.gate("oracle", ok)
        finally:
            con.close()

    def cycle(self) -> float:
        total = 0.0
        for q in SUITE:
            t0 = time.perf_counter()
            self.queries[q](self.spark, self.sf_dir).count()
            dt = time.perf_counter() - t0
            self.attempted += 1
            self.per_query[q].append(dt)
            total += dt
        return total

    def check(self) -> None:
        """Traced runs: one timed trial of the join view, recorded."""
        if self.rec:
            self.rec.enabled = True
            self.per_query[JOIN_VIEW] = [
                flagship.join_view_bench_trial(self.spark, self.sf_dir)
            ]
            self.attempted += 1
            self.rec.enabled = False

    def report(self) -> dict:
        return {"suite_s": median(self.cycle_walls), "pass_samples": len(self.cycle_walls)}

    def layers(self) -> dict:
        return {
            **{f"analytics.{q}_s": median(v) for q, v in self.per_query.items()},
            "analytics.oracle_mismatches": self.mismatches,
        }


WORKLOADS = {w.name: w for w in (IngestCow, CdcReadmix, AnalyticsSuite)}
