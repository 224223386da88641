"""Benchmark of the NGSI-LD CDC engine: one workload per invocation.

    python3 perfbench/run.py --workload ingest_cow --seed 1 --seconds 15 --trace 0

Runs at ``local[4]`` with the engine's defaults (``session.get_spark``; no
staging override, default driver memory). Every file it writes lives under
``.perfbench_work/`` (removed at exit) and, for traced runs, the span dump
under ``.perfbench_out/``. A traced run also times one ingest_cow pass at
``local[1]`` (the serial reference), for ingest_cow one pass of the
analytics suite (the analytics layers), and for cdc_readmix one compaction
of every table after the loop (the compaction layer).

Standard output ends with one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). The line before
it is a report with the workload's own named metrics, the gates, and the
host and configuration facts.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nifi_ngsild_postgresql_spark"
WORKLOAD_NAMES = ("ingest_cow", "cdc_readmix", "analytics_suite")
# traced runs of this workload also run the analytics control pass
CONTROL_WORKLOAD = "ingest_cow"
# two traced/untraced pairs in opposite order (see traced_cycle)
TRACED_CYCLES = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="minimal input sizes (self-test only)")
    return p.parse_args(argv)


def isolate(work: str, cores: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    work directory, and pin the engine defaults the benchmark measures."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    for var in ("NGSILD_STAGING_DIR", "SPARK_DRIVER_MEM"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None


def install_patches(rec) -> None:
    """Spans around the package's public entry points, patched from
    outside (the package is not edited)."""
    from nifi_ngsild_postgresql_spark.plans.lake import LakeTable
    from nifi_ngsild_postgresql_spark.streaming import changefeed, joinview, pipeline

    rec.patch(pipeline, "ingest_batch", "streaming.pipeline.ingest_batch")
    rec.patch(pipeline, "infer_batch_schemas", "plans.schema.infer")
    rec.patch(LakeTable, "upsert", "plans.lake.upsert")
    rec.patch(LakeTable, "upsert_mor", "plans.lake.upsert")
    rec.patch(LakeTable, "compact", "plans.lake.compact")
    rec.patch(LakeTable, "read_changes", "plans.lake.read_changes")
    rec.patch(changefeed.ChangeFeedConsumer, "poll", "streaming.changefeed.poll")
    rec.patch(joinview.MaterializedJoin, "refresh", "streaming.joinview.refresh")


def span_layers(rec) -> dict[str, float]:
    """Mean (self) time of each patched entry point the run called."""
    layers = {
        "plans.schema.infer_s": ("plans.schema.infer", rec.mean_duration),
        "plans.lake.upsert_s": ("plans.lake.upsert", rec.mean_self),
        "plans.lake.compact_s": ("plans.lake.compact", rec.mean_duration),
        "plans.lake.read_changes_s": ("plans.lake.read_changes", rec.mean_duration),
        "streaming.pipeline.ingest_batch_self_s": (
            "streaming.pipeline.ingest_batch", rec.mean_self
        ),
        "streaming.joinview.refresh_s": ("streaming.joinview.refresh", rec.mean_duration),
    }
    return {k: f(span) for k, (span, f) in layers.items() if rec.named(span)}


def traced_cycle(i: int) -> bool:
    """Traced/untraced cycles in pairs whose order alternates (T U, U T,
    T U, ...), so a cost that grows over the run biases neither side."""
    return i % 2 == (i // 2) % 2


def overhead_ratio(walls: list[float], traced: list[bool]) -> float:
    on = sum(w for w, t in zip(walls, traced) if t)
    off = sum(w for w, t in zip(walls, traced) if not t)
    return on / off


def local1_events_per_s(work: str, seed: int, tiny: bool) -> float:
    """Serial reference: one short ingest_cow pass at local[1]."""
    from nifi_ngsild_postgresql_spark import session

    import workloads

    spark = session.get_spark(master="local[1]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ref = workloads.IngestCow(
            spark, os.path.join(work, "local1"), seed, tiny, None, n_cycles=2
        )
        ref.gen_reps = 1
        # a short prefix: its ingest only warms the local[1] session
        ref.prefix, ref.batches = min(ref.prefix, 500), 2
        ref.setup()
        walls = [ref.ingest_next() for _ in range(ref.n_cycles)]
        return ref.events_committed() / sum(walls)
    finally:
        spark.stop()


def source_facts() -> dict[str, str]:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {"git_commit": commit or "unknown", "package_sha256": h.hexdigest()}


def host_facts(spark, spec: dict, cfg) -> dict:
    import dataclasses

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    nproc = len(os.sched_getaffinity(0))
    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc,
        "cores_expected": spec["cores"],
        "core_count_mismatch": nproc != spec["cores"],
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        **source_facts(),
        "engine": {
            "master": conf.get("spark.master"),
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": conf.get("spark.driver.memory"),
            "NGSILD_STAGING_DIR": os.environ.get("NGSILD_STAGING_DIR"),
            "ingest_config": (
                {k: str(v) for k, v in dataclasses.asdict(cfg).items()} if cfg else None
            ),
        },
    }


def stop_jvm() -> None:
    """Stop the gateway JVM pyspark launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_cycles(wl, rec, n_cycles: int) -> None:
    """The closed loop: ``n_cycles`` cycles back to back. In a traced run
    recording alternates between cycles (``traced_cycle``)."""
    for i in range(n_cycles):
        if rec:
            rec.enabled = traced_cycle(i)
            rec.batch = i
        root = rec.open("cycle", root=True) if rec else None
        wall = wl.cycle()
        if rec:
            rec.close(root)
        wl.cycle_walls.append(wall)
        wl.cycle_traced.append(bool(rec and rec.enabled))
    if rec:
        rec.enabled = False


def analytics_control(spark, work: str, seed: int, tiny: bool):
    """The analytics suite once (oracle-checked warm pass, one timed pass,
    one join-view trial) on its own recorder, for the analytics layers of
    traced runs of the ingest workloads."""
    import spans
    import workloads

    rec = spans.SpanRecorder()
    install_patches(rec)
    rec.enabled = False
    try:
        wl = workloads.AnalyticsSuite(
            spark, os.path.join(work, "analytics"), seed, tiny, rec
        )
        wl.setup()
        run_cycles(wl, None, 1)
        wl.check()
    finally:
        rec.unpatch_all()
    layers = {
        **wl.layers(),
        "streaming.joinview.refresh_s": rec.mean_duration("streaming.joinview.refresh"),
    }
    return wl, layers


def named_metrics(wl, spec: dict, extra: dict) -> dict:
    units = {**spec["report_metrics"]["all"], **spec["report_metrics"][wl.name]}
    return {
        k: {"value": v, "unit": units.get(k, "count")}
        for k, v in {**wl.report(), **extra}.items()
    }


def measure(args, work: str, spec: dict, bench: dict) -> tuple[dict, dict]:
    import spans
    import workloads
    from nifi_ngsild_postgresql_spark import session

    # a fixed cycle count per run, so every run does the same work; on the
    # reference box it takes about --seconds (ingest workloads stop at the
    # last generated batch)
    n_cycles = max(
        TRACED_CYCLES if args.trace else 1,
        round(args.seconds / spec["nominal_cycle_s"][args.workload]),
    )
    with spans.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = session.get_spark()
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        rec = spans.SpanRecorder() if args.trace else None
        if rec:
            install_patches(rec)
            rec.enabled = False
        wl = workloads.WORKLOADS[args.workload](
            spark, work, args.seed, args.tiny, rec, n_cycles
        )
        wl.setup()
        setup_s = session_s + workloads.median(wl.gen_s) + wl.warmup_s
        run_cycles(wl, rec, wl.n_cycles)
        rss.sample()
        peak_rss_mb = rss.peak_bytes / 2**20
        wl.check()
        facts = host_facts(spark, spec, getattr(wl, "cfg", None))
        gates, attempted, failed = dict(wl.gates), wl.attempted, wl.failed
        if rec:
            rec.unpatch_all()
            layers = {
                "session.get_spark_s": session_s,
                **span_layers(rec),
                **wl.layers(),
                "trace_overhead_ratio": overhead_ratio(wl.cycle_walls, wl.cycle_traced),
            }
            if args.workload != "analytics_suite":
                layers["sources.generator.gen_s"] = workloads.median(wl.gen_s)
            rec.write(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"
            ))
            if args.workload == CONTROL_WORKLOAD:
                control, control_layers = analytics_control(
                    spark, work, args.seed, args.tiny
                )
                layers.update(control_layers)
                gates.update({f"analytics.{k}": v for k, v in control.gates.items()})
                attempted += control.attempted
                failed += control.failed
        spark.stop()

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cycles": len(wl.cycle_walls),
        "cycle_walls_s": wl.cycle_walls,
        "setup_parts_s": {"session": session_s, "gen": wl.gen_s, "warmup": wl.warmup_s},
        "named": named_metrics(wl, spec, {
            "setup_s": setup_s, "peak_rss_mb": peak_rss_mb,
            "error_rate": failed / max(1, attempted),
        }),
        "gates": gates, "host": facts,
    }
    if rec:
        layers["session.local1_events_per_s"] = local1_events_per_s(
            work, args.seed, args.tiny
        )
        # the result line carries every per-layer metric: the layers this
        # workload does not exercise read 0 and are listed here
        report["not_measured"] = [
            m["name"] for m in bench["per_layer"] if m["name"] not in layers
        ]
        report["metrics"] = {
            m["name"]: layers.get(m["name"], 0.0) for m in bench["per_layer"]
        }
    else:
        named = report["named"]
        report["metrics"] = {
            "setup_s": setup_s,
            "cycle_p50_s": workloads.median(wl.cycle_walls),
            # analytics_suite commits no events (and is not in BENCHMARK.json)
            **({"events_per_s": named["events_per_s"]["value"]}
               if "events_per_s" in named else {}),
        }
    result = {
        "correct": all(gates.values()) and failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    return result, report


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(work, spec["cores"])
        sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
        try:
            result, report = measure(args, work, spec, bench)
        finally:
            stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {
        name: {"value": float(v), "unit": units[name]}
        for name, v in report.pop("metrics").items()
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({**result, "metrics": metrics}), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
