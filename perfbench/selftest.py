"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

Runs every workload at minimal input size, untraced and traced, and checks
that the result line has exactly the agreed keys, that every end-to-end
(untraced) or per-layer (traced) metric of BENCHMARK.json is emitted with
its unit, that a traced run measures every layer spec.json says its
workload measures, that every correctness gate of the workload ran and
passed, and that the benchmark refuses to run, without printing a
result, where the package is missing. Exits non-zero on the first failed
check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from run import CONTROL_WORKLOAD, HERE, ROOT

GATES = {
    "ingest_cow": {"fingerprint_vs_single_batch"},
    "cdc_readmix": {"changefeed_net_rows", "probe_vs_full_scan"},
    "analytics_suite": {"oracle"},
}
# gates of the analytics control pass that traced ingest_cow runs add
CONTROL_GATES = {"analytics.oracle"}


def run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}", flush=True)


def layer_spec(spec: dict, name: str) -> dict | None:
    moves = spec["per_layer_moves"]
    if name.startswith("analytics.") and name.endswith("_s"):
        return moves.get("analytics.*_s")
    return moves.get(name)


def check_spec(bench: dict, spec: dict) -> None:
    for m in bench["per_layer"]:
        check(layer_spec(spec, m["name"]) is not None,
              f"per-layer metric {m['name']} has a layer->end-to-end mapping")
    for w in bench["workloads"]:
        check(w["name"] in GATES, f"workload {w['name']} has correctness gates")


def check_run(workload: str, trace: int, bench: dict, spec: dict) -> None:
    rc, lines = run(workload, trace)
    tag = f"{workload} trace={trace}"
    check(rc == 0 and len(lines) >= 2, f"{tag} exits 0 with a report and a result")
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])["report"]
    check(
        set(result) == {"correct", "attempted", "failed", "metrics"},
        f"{tag} result keys",
    )
    check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
          f"{tag} correct, nothing failed")
    wanted = bench["per_layer"] if trace else [
        m for m in bench["end_to_end"]
        if workload != "analytics_suite" or m["name"] != "events_per_s"
    ]
    got = result["metrics"]
    check(set(got) == {m["name"] for m in wanted}, f"{tag} emits exactly its metrics")
    for m in wanted:
        check(got[m["name"]]["unit"] == m["unit"]
              and isinstance(got[m["name"]]["value"], float),
              f"{tag} {m['name']} in {m['unit']}")
    if trace:
        measured = {m["name"] for m in wanted} - set(report["not_measured"])
        for m in wanted:
            if workload in layer_spec(spec, m["name"])["measured_in"]:
                check(m["name"] in measured, f"{tag} measures {m['name']}")
    gates = GATES[workload] | (
        CONTROL_GATES if trace and workload == CONTROL_WORKLOAD else set()
    )
    check(set(report["gates"]) == gates and all(report["gates"].values()),
          f"{tag} gates {sorted(gates)} ran and passed")
    units = {**spec["report_metrics"]["all"], **spec["report_metrics"][workload]}
    for name, unit in units.items():
        if name == "read_p90_s":
            continue  # reported only with >= 100 probe samples
        check(report["named"].get(name, {}).get("unit") == unit,
              f"{tag} report names {name} in {unit}")


def check_refuses_without_package() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, lines = run("ingest_cow", 0, cwd=bare)
        check(rc != 0 and not any(line.startswith("{") for line in lines),
              "refuses without the package: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    check_spec(bench, spec)
    check_refuses_without_package()
    for workload in sys.argv[1:] or list(GATES):
        for trace in (0, 1):
            check_run(workload, trace, bench, spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
