"""One fresh benchmark process: start Spark, run one workload's
repetitions, check every output, and write a JSON result.

Run by ``run.py``; not meant to be started by hand. The first repetition
after set-up is the cold one; the rest are steady. With ``--event-dir`` the
layer functions are wrapped in spans and Spark writes an uncompressed
event log, so the result also carries the spans; the worker then runs
exactly four repetitions: the cold one with spans, then steady ones
without, with and without spans. The two without spans bracket the one
with them, so that ``trace.overhead_frac`` does not lean with the JIT's
warm-up.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


def build_session(cpus: int, work_dir: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    from ndr_import_spark import recommended_session_conf

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
    )
    for key, value in recommended_session_conf().items():
        builder = builder.config(key, value)
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def decode_times(in_dir: str) -> dict[str, float]:
    """Single-process decode of every media payload with the library's raw
    codecs, no Spark: seconds per codec and in total."""
    import pyarrow.parquet as pq

    from ndr_import_spark.functions import bmp, gif, jpeg, png, tiff, webp

    decoders = {
        "png": (png.is_png, png.decode_png),
        "webp": (webp.is_webp, webp.decode_webp),
        "jpeg": (jpeg.is_jpeg, jpeg.decode_jpeg),
        "gif": (gif.is_gif, gif.decode_gif),
        "bmp": (bmp.is_bmp, bmp.decode_bmp),
        "tiff": (tiff.is_tiff, tiff.decode_tiff),
    }
    payloads = pq.read_table(os.path.join(in_dir, "media.parquet"))["payload"]
    out = {codec: 0.0 for codec in decoders}
    for p in payloads.to_pylist():
        for codec, (is_codec, decode) in decoders.items():
            if is_codec(p):
                t = time.perf_counter()
                decode(p)
                out[codec] += time.perf_counter() - t
                break
    return out


def extras(workload: str, in_dir: str, out_dir: str, facts: dict) -> dict:
    """Workload-specific per-layer figures read from the last output."""
    import pyarrow.parquet as pq

    import workloads

    if workload == "feed":
        records = pq.read_table(out_dir, columns=["row_index"]).num_rows
        return {"compiler.records_per_row": records / facts["rows"]}
    if workload == "media_decode":
        table = pq.read_table(out_dir, columns=["feature"])
        decoded = table.num_rows - table["feature"].null_count
        figures = {"multimodal.decoded_frac": decoded / facts["payloads"]}
        times = decode_times(in_dir)
        figures["functions.decode_s"] = sum(times.values())
        for codec, seconds in times.items():
            figures[f"functions.{codec}.decode_s"] = seconds
        return figures
    ids = set(pq.read_table(out_dir, columns=["doc_id"])["doc_id"].to_pylist())
    return {"dedup.planted_recall": workloads.corpus_recall(ids, facts)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--steady-seconds", type=float, required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--event-dir", default=None)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    import workloads
    from spans import Tracer

    with open(os.path.join(args.inputs, "facts.json"), encoding="utf-8") as fh:
        facts = json.load(fh)
    spark = build_session(args.cpus, args.work_dir, args.event_dir)
    spark.range(0, 100_000, numPartitions=args.cpus).selectExpr("sum(id)").collect()
    setup_s = time.perf_counter() - T_START

    tracer = None
    if args.event_dir:
        tracer = Tracer(spark.sparkContext)
        tracer.wrap_layers(args.workload)

    runner = workloads.RUNNERS[args.workload]
    checker = workloads.CHECKERS[args.workload]
    out_dir = os.path.join(args.work_dir, "out", f"{args.workload}-{os.getpid()}")
    traced_plan = [True, False, True, False]
    reps: list[dict] = []
    steady_start = None
    while True:
        rep = {"index": len(reps), "wall_s": None, "problems": []}
        if tracer:
            tracer.enabled = rep["traced"] = traced_plan[rep["index"]]
            tracer.begin_rep(rep["index"])
        rep["start"] = time.time()
        t = time.perf_counter()
        try:
            runner(spark, args.inputs, out_dir, tracer)
            rep["wall_s"] = time.perf_counter() - t
        except Exception:  # a failed repetition is a failed operation
            rep["problems"].append(traceback.format_exc(limit=5))
        rep["end"] = time.time()
        if tracer:
            tracer.end_rep()
        if rep["wall_s"] is not None:
            try:
                rep["problems"] += checker(out_dir, facts)
            except Exception:
                rep["problems"].append(traceback.format_exc(limit=5))
        reps.append(rep)
        if tracer:
            if len(reps) == len(traced_plan):
                break
        # steady repetitions run for --steady-seconds, and at least
        # MIN_STEADY of them
        elif (steady_start is not None
                and len(reps) - 1 >= workloads.MIN_STEADY[args.workload]
                and time.perf_counter() - steady_start >= args.steady_seconds):
            break
        # start every repetition from a collected heap on both sides
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if steady_start is None:
            steady_start = time.perf_counter()

    result = {"setup_s": setup_s, "reps": reps, "extras": {}}
    if tracer:
        result["spans"] = tracer.spans
        result["cpus"] = args.cpus
        try:
            result["extras"] = extras(args.workload, args.inputs, out_dir, facts)
        except Exception:
            result["extras_error"] = traceback.format_exc(limit=5)
    spark.stop()
    with open(args.result + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    os.replace(args.result + ".tmp", args.result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
