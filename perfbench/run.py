"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload feed --seed 1 --seconds 8 --trace 0

Run from the repository root. It generates the seeded inputs once (outside
any timed region), then starts fresh worker processes one after another
(``worker.py``: a new Python driver and JVM each, on ``local[<cores>]``)
and polls the peak RSS of each worker's whole process tree while it runs.

``--trace 0`` runs one worker and prints the end-to-end metrics:
``setup_s``, ``cold_s`` (the first repetition), ``wall_s`` (median of the
steady repetitions, which run for ``--seconds``, at least one),
``records_per_s`` and ``peak_rss_mb``.

``--trace 1`` runs one traced worker and prints the per-layer metrics,
parsed from its Spark event log and spans, plus ``trace.overhead_frac``
(steady wall with spans ÷ steady wall without spans − 1, in that worker).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the quiet-box receipt (load average and a fixed
single-core CPU probe, before and after, and the share of CPU time the
host stole in between). Both are also written to
``.perfbench-data/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench-data")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

DEADLINE_S = 170
# reading a 2 GB JVM's smaps_rollup costs about 25 ms of one core
POLL_S = 0.5

END_TO_END_UNITS = {
    "setup_s": "s", "cold_s": "s", "wall_s": "s", "records_per_s": "1/s",
    "peak_rss_mb": "MB",
}


# ---------------------------------------------------------------------------
# quiet-box receipt
# ---------------------------------------------------------------------------

def cpu_probe() -> float:
    """Seconds for a fixed single-core pure-Python loop (best of three)."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        best = min(best, time.perf_counter() - t)
    return best


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot, from /proc/stat.
    Stolen ticks are those a virtual machine's host gave to someone else."""
    try:
        with open("/proc/stat", encoding="utf-8") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def receipt() -> dict:
    stolen, total = _cpu_ticks()
    return {"loadavg_1m": os.getloadavg()[0], "cpu_probe_s": cpu_probe(),
            "stolen_ticks": stolen, "total_ticks": total}


def steal_frac(before: dict, after: dict) -> float | None:
    """Share of the machine's CPU time stolen by the host between two
    receipts; None where /proc/stat does not say."""
    total = after["total_ticks"] - before["total_ticks"]
    return (after["stolen_ticks"] - before["stolen_ticks"]) / total if total else None


# ---------------------------------------------------------------------------
# worker processes
# ---------------------------------------------------------------------------

# stat flag of a process that forked and has not run exec() since
PF_FORKNOEXEC = 0x40


def _session_members(sid: int) -> dict[int, tuple[int, int]]:
    """Processes of session `sid`: pid -> (parent pid, stat flags)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 3, 4, 6 and 9 of stat: state, parent pid, session id,
        # flags; a zombie has ended and holds no memory
        if int(fields[3]) == sid and fields[0] != "Z":
            out[int(name)] = (int(fields[1]), int(fields[6]))
    return out


def own_memory(members: dict[int, tuple[int, int]], comm=None) -> list[int]:
    """The processes of `members` (as `_session_members` gives them) whose
    memory is their own. The JVM starts programs with vfork(): until the
    child runs exec(), it shares the JVM's memory, and its Pss would count
    the whole JVM a second time. Python workers are forked from a Python
    daemon and have memory of their own."""
    comm = comm or _comm
    return [
        pid for pid, (ppid, flags) in members.items()
        if not (flags & PF_FORKNOEXEC and ppid in members and comm(ppid) == "java")
    ]


def _pss_kb(pid: int) -> int:
    """Proportional resident set (Pss) of a process in kB: its resident
    pages, each page shared with other processes counted as its share, so
    the sum over a process tree counts every page once. 0 once it has gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def run_worker(workload: str, in_dir: str, steady_s: float, cpus: int,
               deadline: float, tag: str, event_dir: str | None = None) -> dict:
    """Run one worker to completion; return its result plus the peak RSS
    of its process tree: the largest sum, at one poll, of the Pss of every
    process in the tree. The figure is a simultaneous peak, sampled every
    `POLL_S`; pages a forked child shares with its parent count once."""
    result_path = os.path.join(DATA, "work", f"{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--inputs", in_dir,
        "--work-dir", os.path.join(DATA, "work"),
        "--steady-seconds", str(steady_s),
        "--cpus", str(cpus),
        "--result", result_path,
    ]
    if event_dir:
        cmd += ["--event-dir", event_dir]
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(DATA, "work", "spark-local")
    env["TMPDIR"] = os.path.join(DATA, "work", "tmp")
    # no JVM writes its perf-data file to the system temp directory
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.makedirs(env["TMPDIR"], exist_ok=True)
    log_path = os.path.join(DATA, "logs", f"{tag}.log")
    peaks: dict[int, int] = {}
    names: dict[int, str] = {}
    peak_kb = 0
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=ROOT, start_new_session=True)
        timed_out = False
        while proc.poll() is None:
            total = 0
            for pid in own_memory(_session_members(proc.pid)):
                pss = _pss_kb(pid)
                total += pss
                peaks[pid] = max(peaks.get(pid, 0), pss)
                names.setdefault(pid, _comm(pid))
            peak_kb = max(peak_kb, total)
            if time.monotonic() > deadline:
                timed_out = True
                break
            time.sleep(POLL_S)
        _stop_session(proc)
    if timed_out:
        raise RuntimeError(f"worker {tag} passed the deadline; log: {log_path}")
    if proc.returncode != 0 or not os.path.exists(result_path):
        raise RuntimeError(f"worker {tag} failed (rc {proc.returncode}); log: {log_path}")
    with open(result_path, encoding="utf-8") as fh:
        result = json.load(fh)
    result["peak_rss_mb"] = peak_kb / 1024
    result["processes"] = {f"{pid}:{names[pid]}": kb // 1024 for pid, kb in peaks.items()}
    return result


def _stop_session(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started, and wait until all of it
    has ended. Once the worker has exited (its result written, or not), what
    is left is mostly the JVM; it is killed rather than left about 2 s for
    its shutdown hooks, which delete Spark's temporary directories under
    `.perfbench-data/work`, and the next run deletes those anyway."""
    proc.kill()
    proc.wait()
    while True:
        members = _session_members(proc.pid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _counts(results: list[dict]) -> tuple[int, int, list[str]]:
    reps = [r for res in results for r in res["reps"]]
    failed = [r for r in reps if r["problems"]]
    return len(reps), len(failed), [p for r in failed for p in r["problems"]][:5]


def end_to_end(result: dict, records: int) -> dict[str, float]:
    """A failed repetition has no wall time; a figure nothing measured reads
    0 (the run is then reported as not correct)."""
    walls = [r["wall_s"] for r in result["reps"][1:] if r["wall_s"] is not None]
    wall = statistics.median(walls) if walls else 0.0
    return {
        "setup_s": result["setup_s"],
        "cold_s": result["reps"][0]["wall_s"] or 0.0,
        "wall_s": wall,
        "records_per_s": records / wall if wall else 0.0,
        "peak_rss_mb": result["peak_rss_mb"],
    }


# per-layer metrics every traced run prints; a layer a workload does not
# use reads 0
LAYER_METRICS = [
    "engine.build_s", "engine.build_jobs", "sinks.write_s", "sinks.write_jobs",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_bytes",
    "spark.busy_frac", "driver.idle_s",
    "python.total_s", "python.boot_s", "python.init_s", "python.bytes_in",
    "python.bytes_out",
    "sources.read_s", "sources.read_jobs", "header.prepare_s",
    "header.prepare_jobs", "compiler.compile_s", "compiler.compile_jobs",
    "compiler.first_error_s", "compiler.first_error_jobs",
    "compiler.records_per_row",
    "boilerplate.extract_main_content_s", "boilerplate.extract_main_content_jobs",
    "unicode_clean.clean_unicode_s", "unicode_clean.clean_unicode_jobs",
    "corpus.c4_clean_s", "corpus.c4_clean_jobs",
    "dedup.drop_exact_duplicates_s", "dedup.drop_exact_duplicates_jobs",
    "dedup.minhash_lsh_star_edges_s", "dedup.minhash_lsh_star_edges_jobs",
    "dedup.connected_components_s", "dedup.connected_components_jobs",
    "corpus.hash_split_s", "corpus.hash_split_jobs", "dedup.planted_recall",
    "multimodal.extract_features_s", "multimodal.extract_features_jobs",
    "multimodal.image_dedup_groups_s", "multimodal.image_dedup_groups_jobs",
    "multimodal.decoded_frac", "functions.decode_s",
] + [f"functions.{c}.decode_s" for c in ("png", "gif", "bmp", "tiff", "webp", "jpeg")] + [
    "trace.overhead_frac", "trace.peak_rss_mb",
]


def per_layer(workload: str, traced: dict, event_dir: str) -> dict[str, float]:
    import eventlog
    import spans

    names = ["engine.build"] + [
        name for _, _, name in spans.LAYERS[workload] + spans.COMMON_LAYERS
    ]
    jobs = eventlog.parse_jobs(event_dir)
    # failed repetitions are left out; a figure nothing measured reads 0
    reps = [r for r in traced["reps"] if r["wall_s"] is not None]
    cold = [r for r in reps if r["index"] == 0]
    steady = [r for r in reps if r["index"] > 0 and r["traced"]]
    plain = [r for r in reps if r["index"] > 0 and not r["traced"]]
    found = eventlog.layer_metrics(jobs, traced["spans"], steady,
                                   traced["cpus"], names) if steady else {}
    # Spark counts a reused Python worker's whole idle time as its init
    # time, so worker start-up figures come from the cold repetition
    cold_found = eventlog.layer_metrics(jobs, traced["spans"], cold,
                                        traced["cpus"], names) if cold else {}
    for name in ("python.boot_s", "python.init_s"):
        found[name] = cold_found.get(name, 0)
    found.update(traced["extras"])
    if steady and plain:
        found["trace.overhead_frac"] = (
            statistics.median(r["wall_s"] for r in steady)
            / statistics.median(r["wall_s"] for r in plain) - 1
        )
    found["trace.peak_rss_mb"] = traced["peak_rss_mb"]
    return {name: found.get(name, 0) for name in LAYER_METRICS}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_jobs") or name in ("spark.jobs", "spark.stages", "spark.tasks"):
        return "count"
    return "ratio"


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=1,
                    help="multiply the input size (for measuring how wall "
                         "time splits into fixed and per-record cost)")
    args = ap.parse_args(argv)

    import gen

    if args.workload not in gen.GENERATORS:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "ndr_import_spark")):
        print(f"perfbench: no ndr_import_spark package under {ROOT}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    # outputs and event logs of earlier runs are not kept
    shutil.rmtree(os.path.join(DATA, "work"), ignore_errors=True)
    for sub in ("work", "logs", "results"):
        os.makedirs(os.path.join(DATA, sub), exist_ok=True)

    before = receipt()
    in_dir, _facts = gen.ensure_inputs(DATA, args.workload, args.seed, args.scale)
    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    if args.trace == 0:
        results = [run_worker(args.workload, in_dir, args.seconds, cpus,
                              deadline, tag)]
        records = gen.INPUT_RECORDS[args.workload] * args.scale
        metrics = end_to_end(results[0], records)
        units = END_TO_END_UNITS
    else:
        event_dir = os.path.join(DATA, "work", "eventlog")
        traced = run_worker(args.workload, in_dir, 0, cpus, deadline, tag,
                            event_dir)
        results = [traced]
        metrics = per_layer(args.workload, traced, event_dir)
        units = {name: layer_unit(name) for name in metrics}
    after = receipt()

    attempted, failed, problems = _counts(results)
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }
    quiet = {"receipt": {"before": before, "after": after,
                         "steal_frac": steal_frac(before, after)},
             "problems": problems}
    workers = [
        {"setup_s": r["setup_s"], "walls": [rep["wall_s"] for rep in r["reps"]],
         "peak_rss_mb": r["peak_rss_mb"], "processes": r["processes"]}
        for r in results
    ]
    with open(os.path.join(DATA, "results", f"{tag}.json"), "w", encoding="utf-8") as fh:
        json.dump({**quiet, **line, "workers": workers}, fh, indent=1)
    print(json.dumps(quiet))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
