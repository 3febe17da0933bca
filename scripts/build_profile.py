#!/usr/bin/env python
"""Job-level profile of one cold ClaimsKG build.

Runs one ``ClaimsKGPipeline`` build (fresh checkpoint dir, N-Triples sink)
over ``synth`` rows staged as parquet, with an uncompressed Spark event log
in a temp dir, then reads the log back and prints, per SQL execution and
for the jobs that ran outside any SQL execution:

- start offset (from the first job), job count and wall duration,
- task count and summed task run time,
- which stages ran Python: Python-UDF operators (Arrow/batch eval,
  mapInPandas — the stages carrying the "data sent to Python workers"
  metric) with their summed "time to run Python workers", and PythonRDD
  stages (a ``createDataFrame(list)`` scan).

The session mirrors the benchmark's (``local[4]``, 8 shuffle partitions,
AQE on, UI off).  Everything it writes goes to one temp dir, removed on
exit.

Usage (from the repository root):
    python scripts/build_profile.py [--rows 200] [--seed 1]
                                    [--reconcile 0.3] [--cores 4]
"""

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# a stage that ran a Python UDF operator (Arrow/batch eval, mapInPandas)
# carries this SQL metric; a createDataFrame(list) scan is a PythonRDD
# (ms, one per UDF operator of the stage)
PY_SENT = "data sent to Python workers"
PY_RUN = "time to run Python workers"


def build(args, tmp: str) -> float:
    from pyspark.sql import SparkSession

    from claimskg_generator_spark.plans.pipeline import (
        ClaimsKGPipeline,
        PipelineConfig,
    )
    from claimskg_generator_spark.sources import synth

    events = os.path.join(tmp, "events")
    os.makedirs(events)
    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("build_profile")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(tmp, "local"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + events)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        corpus = os.path.join(tmp, "input")
        synth.synthesize_corpus(spark, args.rows, args.seed).write.parquet(corpus)
        cfg = PipelineConfig(checkpoint_dir=os.path.join(tmp, "ck"),
                             reconcile_theta=args.reconcile)
        t0 = time.perf_counter()
        pipe = ClaimsKGPipeline(spark, cfg)
        triples = pipe.run(spark.read.parquet(corpus))
        pipe.write_ntriples(triples, os.path.join(tmp, "ntriples"))
        wall = time.perf_counter() - t0
    finally:
        spark.stop()
    return wall


def read_log(path: str):
    """(executions, jobs, stages) from one uncompressed event log."""
    execs, jobs, stages = {}, {}, {}
    with open(path) as fh:
        events = [json.loads(line) for line in fh]
    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart"):
            execs[ev["executionId"]] = {
                "desc": ev.get("description", ""), "start": ev["time"],
                "end": None}
        elif kind.endswith("SQLExecutionEnd"):
            execs[ev["executionId"]]["end"] = ev["time"]
        elif kind == "SparkListenerJobStart":
            sql = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[ev["Job ID"]] = {
                "sql": int(sql) if sql is not None else None,
                "start": ev["Submission Time"], "end": None,
                "stages": [s["Stage ID"] for s in ev["Stage Infos"]]}
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = info.get("Accumulables", [])
            st = stages.setdefault(info["Stage ID"], {"run_ms": 0})
            st["tasks"] = info["Number of Tasks"]
            st["py_udf"] = any(a.get("Name") == PY_SENT for a in acc)
            st["py_ms"] = sum(int(a.get("Value") or 0) for a in acc
                              if a.get("Name") == PY_RUN)
            st["py_rdd"] = any(r.get("Name") == "PythonRDD"
                               for r in info.get("RDD Info", []))
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], {"run_ms": 0})
            st["run_ms"] += (ev.get("Task Metrics") or {}).get(
                "Executor Run Time", 0)
    # stages skipped (reused shuffle output) never complete: not counted
    stages = {k: v for k, v in stages.items() if "tasks" in v}
    return execs, jobs, stages


def report(execs, jobs, stages) -> None:
    groups = defaultdict(list)
    for jid, job in sorted(jobs.items()):
        groups[job["sql"]].append(job)
    t0 = min(j["start"] for j in jobs.values())
    print(f"{'sql':>4} {'at_s':>6} {'jobs':>5} {'dur_s':>7} {'tasks':>6}"
          f" {'task_s':>7} {'py_stg':>6} {'py_s':>6} {'pyrdd':>5}"
          f"  description")
    tot = defaultdict(float)
    for sql in sorted(groups, key=lambda k: (k is None, k or 0)):
        js = groups[sql]
        ran = [stages[s] for j in js for s in j["stages"] if s in stages]
        row = {
            "jobs": len(js),
            "tasks": sum(s["tasks"] for s in ran),
            "task_s": sum(s["run_ms"] for s in ran) / 1000,
            "py_stg": sum(s["py_udf"] for s in ran),
            "py_s": sum(s["py_ms"] for s in ran) / 1000,
            "pyrdd": sum(s["py_rdd"] for s in ran),
        }
        if sql is None:
            start = js[0]["start"]
            dur = sum((j["end"] or j["start"]) - j["start"] for j in js) / 1000
            desc = "(jobs outside any SQL execution)"
        else:
            e = execs[sql]
            start = e["start"]
            dur = ((e["end"] or start) - start) / 1000
            desc = " ".join(e["desc"].split())[:32]
        print(f"{'-' if sql is None else sql:>4} {(start - t0) / 1000:>6.2f}"
              f" {row['jobs']:>5} {dur:>7.2f} {row['tasks']:>6}"
              f" {row['task_s']:>7.2f} {row['py_stg']:>6} {row['py_s']:>6.2f}"
              f" {row['pyrdd']:>5}  {desc}")
        for k, v in row.items():
            tot[k] += v
    print(f"total: {int(tot['jobs'])} jobs, {int(tot['tasks'])} tasks, "
          f"{tot['task_s']:.2f} s task time, {int(tot['py_stg'])} Python-UDF "
          f"stages ({tot['py_s']:.2f} s in Python workers), "
          f"{int(tot['pyrdd'])} PythonRDD stages")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=200)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reconcile", type=float, default=0.3)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)
    tmp = tempfile.mkdtemp(prefix="build_profile_")
    try:
        wall = build(args, tmp)
        log = glob.glob(os.path.join(tmp, "events", "*"))[0]
        print(f"# build of {args.rows} synth rows (seed {args.seed}, "
              f"reconcile {args.reconcile}, local[{args.cores}]): "
              f"{wall:.2f} s wall")
        report(*read_log(log))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
