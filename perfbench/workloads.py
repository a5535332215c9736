"""The three benchmark workloads: what one repetition runs, and the check
of what it wrote.

A repetition calls into the engine, builds the result (operators that run
Spark jobs while the DataFrame is built do so here) and writes it out with
``sinks.write_records``. Layer functions are always reached through their
module attribute, so the traced run's wrappers see every call.

Checkers read the written parquet with pyarrow, not Spark, so a check runs
no Spark job and does not depend on the engine under test.
"""

from __future__ import annotations

import contextlib
import os
import re

import gen


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# ---------------------------------------------------------------------------
# repetitions
# ---------------------------------------------------------------------------

def run_feed(spark, in_dir: str, out_dir: str, tracer=None) -> None:
    from ndr_import_spark import engine, sinks

    with open(os.path.join(in_dir, "mapping.yml"), encoding="utf-8") as fh:
        mapping = fh.read()
    files = sorted(
        os.path.join(in_dir, f) for f in os.listdir(in_dir) if f.endswith(".csv")
    )
    with _span(tracer, "engine.build"):
        out = engine.Engine(spark, strict=True).run(mapping, files, fmt="csv")
    sinks.write_records(out["registry"], out_dir)


def run_media(spark, in_dir: str, out_dir: str, tracer=None) -> None:
    from ndr_import_spark import sinks
    from ndr_import_spark.operators import multimodal

    with _span(tracer, "engine.build"):
        media = spark.read.parquet(os.path.join(in_dir, "media.parquet"))
        feats = multimodal.extract_features(media, decoder=None)
        groups = multimodal.image_dedup_groups(media)
        result = feats.join(
            groups, feats["media_id"] == groups["kept_id"], "left"
        )
    sinks.write_records(result, out_dir, partition_by=())


def run_corpus(spark, in_dir: str, out_dir: str, tracer=None) -> None:
    from pyspark.sql import functions as F

    from ndr_import_spark import sinks
    from ndr_import_spark.operators import boilerplate, corpus, dedup, unicode_clean

    with _span(tracer, "engine.build"):
        pages = spark.read.parquet(os.path.join(in_dir, "pages.parquet"))
        mc = boilerplate.extract_main_content(pages)
        uc = unicode_clean.clean_unicode(
            mc.select("doc_id", F.col("main_text").alias("text"))
        )
        c4 = corpus.c4_clean(
            uc.select("doc_id", F.col("clean_text").alias("text"))
        )
        kept = dedup.drop_exact_duplicates(
            c4.select("doc_id", "clean_text"), text_col="clean_text"
        )
        edges = dedup.minhash_lsh_star_edges(
            kept, text_col="clean_text", k=16, bands=4, verify_threshold=0.5
        )
        comp = dedup.connected_components(edges)
        neardup = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        final = kept.join(neardup, "doc_id", "left_anti")
        split = corpus.hash_split(final, {"train": 8, "val": 1, "test": 1})
    sinks.write_records(split, out_dir, partition_by=())


RUNNERS = {
    "feed": run_feed,
    "media_decode": run_media,
    "corpus_dedup": run_corpus,
}

# Steady repetitions a timed run makes at least, even when `--seconds` has
# passed sooner. The counts are set so that these repetitions take longer
# than `--seconds 8` on a 4-core host; the number of repetitions then does
# not hang on whether one of them ends just before or just after the window
# closes. A `feed` repetition takes about 7 s, and the JVM is still warming
# up over the first few, so a window that took one repetition on a slow run
# and two on a fast one gave a `wall_s` that jumped between the two cases.
MIN_STEADY = {
    "feed": 2,
    "media_decode": 3,
    "corpus_dedup": 1,
}


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def _read(out_dir: str):
    import pyarrow.parquet as pq

    return pq.read_table(out_dir)


def _map_values(table, key: str) -> list:
    import pyarrow.compute as pc

    return pc.map_lookup(table["fields"], key, "first").to_pylist()


def check_feed(out_dir: str, facts: dict) -> list[str]:
    """Record counts per klass, ISO-date and digit-only NHS fingerprints,
    and an empty error channel."""
    import pyarrow.compute as pc

    table = _read(out_dir)
    problems = []
    klass = table["klass"].to_pylist()
    counts = {k: klass.count(k) for k in set(klass)}
    if counts != facts["klass_counts"]:
        problems.append(f"klass counts {counts} != {facts['klass_counts']}")
    if pc.sum(pc.list_value_length(table["_errors"])).as_py():
        problems.append("records carry errors")
    ids = _map_values(table, "local_id")
    dates = []
    nhs = []
    for field in ("dob", "diagnosis_date"):
        dates += [(i, v) for i, v in zip(ids, _map_values(table, field)) if v is not None]
    nhs_vals = _map_values(table, "nhsnumber")
    nhs = [(i, v) for i, v, k in zip(ids, nhs_vals, klass) if k == "Patient"]
    if gen.crc_sum(dates) != facts["date_fp"]:
        problems.append("ISO date fingerprint mismatch")
    if gen.crc_sum(nhs) != facts["nhs_fp"]:
        problems.append("NHS number fingerprint mismatch")
    return problems


def check_media(out_dir: str, facts: dict) -> list[str]:
    """Every payload has one feature row with the right size, and the
    duplicate groups are exactly the planted ones."""
    table = _read(out_dir)
    problems = []
    ids = table["media_id"].to_pylist()
    if sorted(ids) != list(range(facts["payloads"])):
        problems.append(f"{len(ids)} feature rows for {facts['payloads']} payloads")
    if table["feature"].null_count:
        problems.append(f"{table['feature'].null_count} payloads without features")
    widths = {c: 0 for c in gen.CODECS}
    heights = {c: 0 for c in gen.CODECS}
    for i, w, h in zip(ids, table["width"].to_pylist(), table["height"].to_pylist()):
        if 0 <= i < len(facts["codec_of"]):
            codec = gen.CODECS[int(facts["codec_of"][i])]
            widths[codec] += w or 0
            heights[codec] += h or 0
    if widths != facts["width_sums"] or heights != facts["height_sums"]:
        problems.append("per-codec width/height sums mismatch")
    found = sorted(
        (k, n) for k, n in zip(table["kept_id"].to_pylist(), table["n_copies"].to_pylist())
        if n is not None and n > 1
    )
    planted = sorted((g[0], len(g)) for g in facts["dup_groups"])
    if found != planted:
        problems.append(f"{len(found)} duplicate groups, {len(planted)} planted")
    return problems


def normalise(text: str) -> str:
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()


def corpus_recall(ids: set[int], facts: dict) -> float:
    """Share of planted near copies that the pipeline removed."""
    near = facts["near_copies"]
    return sum(1 for i in near if i not in ids) / len(near) if near else 1.0


def check_corpus(out_dir: str, facts: dict) -> list[str]:
    """No two survivors share normalised text, every planted exact copy and
    every C4-dropped page is gone, and no unplanted page is lost."""
    table = _read(out_dir)
    problems = []
    ids = table["doc_id"].to_pylist()
    texts = table["clean_text"].to_pylist()
    seen: dict[str, int] = {}
    for i, t in zip(ids, texts):
        key = normalise(t or "")
        if key in seen:
            problems.append(f"docs {seen[key]} and {i} share normalised text")
            break
        seen[key] = i
    idset = set(ids)
    if any(i in idset for i in facts["exact_copies"]):
        problems.append("a planted exact copy survived")
    if any(i in idset for i in facts["c4_dropped"]):
        problems.append("a C4-dropped page survived")
    planted = set(facts["exact_copies"]) | set(facts["near_copies"]) | set(
        facts["c4_dropped"]
    )
    lost = [i for i in range(facts["pages"]) if i not in planted and i not in idset]
    if lost:
        problems.append(f"{len(lost)} unplanted pages lost, e.g. {lost[:3]}")
    if set(table["split"].to_pylist()) - {"train", "val", "test"}:
        problems.append("unknown split label")
    return problems


CHECKERS = {
    "feed": check_feed,
    "media_decode": check_media,
    "corpus_dedup": check_corpus,
}
