"""Per-layer numbers from a Spark event log.

Engine totals come from ``SparkListenerTaskEnd`` task metrics.  Python
runner numbers come from the SQL metrics of the plan nodes that run the
library's pandas functions, recognised by the function name Spark prints in
the node: ``kernel`` (``align_pages``), ``chunker``, ``scorer`` and
``assemble`` (``salted_align``).  Only tasks launched inside the given
wall-clock window count, so warm-up and post-run work stay out.
"""

from __future__ import annotations

import glob
import json
import os

SALT_FUNCS = ("chunker", "scorer", "assemble")


def _python_func(node: dict) -> str | None:
    """Name of the pandas function a plan node runs, if it runs one."""
    if "InPandas" not in node["nodeName"]:
        return None
    s = node["simpleString"].split(" ", 1)[1]   # drop the node name
    if s.startswith("["):                        # grouped: "[keys], f(...)"
        s = s.split("], ", 1)[1]
    return s.split("(", 1)[0]


def _nearest_func(node: dict) -> str | None:
    """First pandas function below ``node`` within the same stage."""
    for child in node.get("children", []):
        if "Exchange" in child["nodeName"] or "QueryStage" in child["nodeName"]:
            continue
        f = _python_func(child) or _nearest_func(child)
        if f:
            return f
    return None


def _roles(plan: dict, out: dict) -> None:
    """accumulator id -> (role, metric name) for every node of ``plan``."""
    f = _python_func(plan)
    role = None
    if f == "kernel":
        role = "align"
    elif f in SALT_FUNCS:
        role = f
    elif plan["nodeName"].endswith("Exchange") and \
            _nearest_func(plan) in ("chunker", "scorer"):
        role = "salt_exchange"
    if role:
        for m in plan["metrics"]:
            out[m["accumulatorId"]] = (role, m["name"])
    for c in plan.get("children", []):
        _roles(c, out)


def parse(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    # Spark 4 writes rolling logs: <log_dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    roles: dict[int, tuple] = {}
    sql = {}
    eng = {"run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
           "shuffle_read": 0, "spill": 0, "tasks": 0, "jobs": 0}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith(("SQLExecutionStart",
                                  "SQLAdaptiveExecutionUpdate")):
                    _roles(e["sparkPlanInfo"], roles)
                elif kind == "SparkListenerJobStart":
                    if t0_ms <= e["Submission Time"] <= t1_ms:
                        eng["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = e["Task Info"]
                    if not t0_ms <= info["Launch Time"] <= t1_ms:
                        continue
                    for a in info.get("Accumulables", []):
                        key = roles.get(a["ID"])
                        if key and "Update" in a:
                            sql[key] = sql.get(key, 0) + int(a["Update"])
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    eng["tasks"] += 1
                    eng["run_ms"] += m.get("Executor Run Time", 0)
                    eng["cpu_ns"] += m.get("Executor CPU Time", 0)
                    eng["gc_ms"] += m.get("JVM GC Time", 0)
                    eng["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    eng["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                    eng["spill"] += m.get("Disk Bytes Spilled", 0)

    def metric(roles_, name):
        return sum(sql.get((r, name), 0) for r in roles_)

    run_py = "time to run Python workers"
    return {
        "operators.align.python_s": metric(["align"], run_py) / 1e3,
        "operators.align.arrow_sent_bytes":
            metric(["align"], "data sent to Python workers"),
        "operators.align.arrow_returned_bytes":
            metric(["align"], "data returned from Python workers"),
        "operators.salt.python_s": metric(SALT_FUNCS, run_py) / 1e3,
        "operators.salt.chunks": metric(["chunker"], "number of output rows"),
        "operators.salt.shuffle_write_bytes":
            metric(["salt_exchange"], "shuffle bytes written"),
        "spark.executor_run_s": eng["run_ms"] / 1e3,
        "spark.executor_cpu_s": eng["cpu_ns"] / 1e9,
        "spark.gc_s": eng["gc_ms"] / 1e3,
        "spark.shuffle_write_bytes": eng["shuffle_write"],
        "spark.shuffle_read_bytes": eng["shuffle_read"],
        "spark.spill_bytes": eng["spill"],
        "spark.tasks": eng["tasks"],
        "spark.jobs": eng["jobs"],
    }
