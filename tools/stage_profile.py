"""Per-stage wall-time profile of one registry query (guide §1: measure
first, empirically, before touching anything).

Usage: python tools/stage_profile.py query [query ...]

Runs each query once cold + once steady through the noop sink on a
bench-identical session (local[$SPARK_GRAFT_CPUS], AQE on, shuffle
partitions = cpus) with the UI enabled, then prints the STEADY run's
stages sorted by duration: stage wall, task count, input / shuffle
read / shuffle write bytes, and the first line of the stage name (which
names the operator site). Job boundaries (collect rounds, eager
checkpoints) show up as separate jobs — the job count is printed too,
since each blocking job round costs scheduling latency even when its
stages are cheap.
"""

from __future__ import annotations

import calendar
import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REST_TS = re.compile(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?")


def rest_time(ts: str) -> float:
    """Epoch seconds of a Spark REST timestamp such as
    "2015-02-03T16:42:59.720GMT". The time is GMT, so it is converted
    without the local time zone (and its DST jumps); the fraction of a
    second may be absent or of any length."""
    m = _REST_TS.match(ts)
    if m is None:
        raise ValueError(f"not a Spark REST timestamp: {ts!r}")
    seconds = calendar.timegm(time.strptime(m.group(1), "%Y-%m-%dT%H:%M:%S"))
    frac = m.group(2)
    return seconds + (int(frac) / 10 ** len(frac) if frac else 0.0)


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # CPU-dense text/decode stages run ~1-2 s per MB, so AQE's 1 MB
        # default minPartitionSize folds small shuffle stages to 1-3
        # tasks while the rest of the machine idles. A smaller floor is
        # scale-adaptive by construction: coalescing never produces MORE
        # partitions than the map side / cluster parallelism, so stages
        # big enough to saturate the cluster are untouched at any scale;
        # only under-parallelised small stages spread out. Parameterised
        # for the driver's lower-core bench runs.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4798")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = "http://localhost:4798/api/v1"
    app = json.load(urllib.request.urlopen(f"{base}/applications"))[0]["id"]

    def fetch(path: str):
        return json.load(urllib.request.urlopen(f"{base}/applications/{app}/{path}"))

    # absorb python-worker/Arrow spin-up outside any query's numbers
    spark.range(1 << 20).selectExpr("sum(id) as s").write.format("noop").mode(
        "overwrite"
    ).save()

    qs = entry.queries()
    for name in names:
        fn = qs[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold = time.perf_counter() - t0
        spark.catalog.clearCache()
        before_stages = {s["stageId"] for s in fetch("stages")}
        before_jobs = {j["jobId"] for j in fetch("jobs")}
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        steady = time.perf_counter() - t0
        time.sleep(0.5)
        stages = [
            s
            for s in fetch("stages")
            if s["stageId"] not in before_stages and s["status"] != "SKIPPED"
        ]
        jobs = [j for j in fetch("jobs") if j["jobId"] not in before_jobs]
        n_skipped = len(
            [
                s
                for s in fetch("stages")
                if s["stageId"] not in before_stages and s["status"] == "SKIPPED"
            ]
        )
        total_stage_ms = 0
        rows = []
        for s in stages:
            sub = time.mktime(time.strptime(s["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S"))
            ms_sub = int(s["submissionTime"][20:23])
            comp = time.mktime(time.strptime(s["completionTime"][:19], "%Y-%m-%dT%H:%M:%S"))
            ms_comp = int(s["completionTime"][20:23])
            dur = (comp + ms_comp / 1000.0) - (sub + ms_sub / 1000.0)
            total_stage_ms += dur
            rows.append(
                (
                    dur,
                    s["stageId"],
                    s["numTasks"],
                    s.get("inputBytes", 0),
                    s.get("shuffleReadBytes", 0),
                    s.get("shuffleWriteBytes", 0),
                    s["name"].splitlines()[0][:90],
                )
            )
        rows.sort(reverse=True)
        print(
            f"\n=== {name}: cold={cold:.2f}s steady={steady:.2f}s "
            f"jobs={len(jobs)} stages={len(stages)} (+{n_skipped} skipped) "
            f"sum_stage_wall={total_stage_ms:.2f}s ==="
        )
        print(f"{'dur_s':>7} {'id':>4} {'tasks':>5} {'input':>10} {'shRead':>10} {'shWrite':>10}  name")
        for dur, sid, nt, inp, rd, wr, nm in rows[:25]:
            print(f"{dur:7.2f} {sid:>4} {nt:>5} {inp:>10,} {rd:>10,} {wr:>10,}  {nm}")
        if os.environ.get("NIS_PROFILE_JOBS"):
            # per-JOB breakdown (r12, VERDICT item 3): the job-ROUND
            # count, not stage wall, dominates the composed pipelines —
            # attribute each job round to its first stage's call site so
            # the sequential-latency floor has names on it.
            print(f"{'job':>5} {'dur_s':>7} {'stages':>6} {'skip':>4}  first-stage name")
            for j in sorted(jobs, key=lambda j: j["jobId"]):
                dur = (
                    rest_time(j["completionTime"])
                    - rest_time(j["submissionTime"])
                    if j.get("completionTime")
                    else float("nan")
                )
                sids = j.get("stageIds", [])
                live = [s for s in stages if s["stageId"] in sids]
                nm = (live or [{}])[0].get("name", "?").splitlines()[0][:80]
                nskip = len(sids) - len(live)
                print(
                    f"{j['jobId']:>5} {dur:7.2f} {len(live):>6} {nskip:>4}  {nm}"
                )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
