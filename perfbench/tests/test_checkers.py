"""Output checkers accept a correct output and reject corrupted ones."""

import csv
import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import workloads


def _write(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return str(path)


# -- feed ---------------------------------------------------------------------

def _feed_records(in_dir):
    """What the engine should write, for the fields the checker reads."""
    recs = []
    for name in sorted(os.listdir(in_dir)):
        if not name.endswith(".csv"):
            continue
        with open(os.path.join(in_dir, name), newline="", encoding="utf-8") as fh:
            for row in list(csv.DictReader(fh)):
                nhs = "".join(c for c in row["nhs_no"] if c.isdigit())
                dob = datetime.datetime.strptime(row["dob"], "%d/%m/%Y").date()
                diag = datetime.datetime.strptime(row["diagnosis_date"], "%Y%m%d").date()
                recs.append(("Patient", {"local_id": row["local_id"],
                                         "dob": dob.isoformat(), "nhsnumber": nhs}))
                recs.append(("Tumour", {"local_id": row["local_id"],
                                        "diagnosis_date": diag.isoformat(),
                                        "nhsnumber": nhs}))
    return recs


def _feed_table(recs):
    return pa.table({
        "klass": [k for k, _ in recs],
        "fields": pa.array([list(f.items()) for _, f in recs],
                           pa.map_(pa.string(), pa.string())),
        "_errors": pa.array([[] for _ in recs], pa.list_(pa.string())),
    })


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    d = tmp_path_factory.mktemp("feed_in")
    facts = gen.generate_feed(str(d), 11, rows=120, files=2)
    return str(d), facts


def test_feed_accepts_correct_output(tmp_path, feed):
    in_dir, facts = feed
    out = _write(tmp_path / "ok", _feed_table(_feed_records(in_dir)))
    assert workloads.check_feed(out, facts) == []


@pytest.mark.parametrize("corruption", ["date", "nhs", "missing", "error"])
def test_feed_rejects_corrupted_output(tmp_path, feed, corruption):
    in_dir, facts = feed
    recs = _feed_records(in_dir)
    table = _feed_table(recs)
    if corruption == "date":
        recs[0][1]["dob"] = "1900-01-01"
        table = _feed_table(recs)
    elif corruption == "nhs":
        recs[2][1]["nhsnumber"] = "123 456 7890"
        table = _feed_table(recs)
    elif corruption == "missing":
        table = _feed_table(recs[:-1])
    else:
        errors = [[] for _ in recs]
        errors[5] = ["local_id can't be blank"]
        table = table.set_column(2, "_errors", pa.array(errors, pa.list_(pa.string())))
    out = _write(tmp_path / corruption, table)
    assert workloads.check_feed(out, facts)


# -- media_decode -------------------------------------------------------------

def _media_table(facts, drop_group=False, null_feature=False):
    n = facts["payloads"]
    kept = {g[0]: len(g) for g in facts["dup_groups"][(1 if drop_group else 0):]}
    features = [[0.5] * 4 for _ in range(n)]
    if null_feature:
        features[3] = None
    return pa.table({
        "media_id": pa.array(range(n), pa.int64()),
        "width": [facts["side"]] * n,
        "height": [facts["side"]] * n,
        "feature": pa.array(features, pa.list_(pa.float64())),
        "kept_id": pa.array([i if i in kept else None for i in range(n)], pa.int64()),
        "n_copies": pa.array([kept.get(i) for i in range(n)], pa.int64()),
    })


@pytest.fixture(scope="module")
def media(tmp_path_factory):
    d = tmp_path_factory.mktemp("media_in")
    return gen.generate_media(str(d), 3, images=20, dup_groups=3)


def test_media_accepts_correct_output(tmp_path, media):
    assert workloads.check_media(_write(tmp_path / "ok", _media_table(media)), media) == []


@pytest.mark.parametrize("kwargs", [{"drop_group": True}, {"null_feature": True}])
def test_media_rejects_corrupted_output(tmp_path, media, kwargs):
    out = _write(tmp_path / "bad", _media_table(media, **kwargs))
    assert workloads.check_media(out, media)


# -- corpus_dedup ---------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus_in")
    return gen.generate_corpus(str(d), 9, pages=400)


def _corpus_table(ids, texts=None):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "clean_text": texts or [f"page {i}." for i in ids],
        "split": ["train"] * len(ids),
    })


def _survivors(facts):
    gone = set(facts["exact_copies"]) | set(facts["near_copies"]) | set(facts["c4_dropped"])
    return [i for i in range(facts["pages"]) if i not in gone]


def test_corpus_accepts_correct_output(tmp_path, corpus):
    out = _write(tmp_path / "ok", _corpus_table(_survivors(corpus)))
    assert workloads.check_corpus(out, corpus) == []
    assert workloads.corpus_recall(set(_survivors(corpus)), corpus) == 1.0


@pytest.mark.parametrize("corruption", ["exact_copy", "shared_text", "lost_page"])
def test_corpus_rejects_corrupted_output(tmp_path, corpus, corruption):
    ids = _survivors(corpus)
    texts = None
    if corruption == "exact_copy":
        ids = ids + [corpus["exact_copies"][0]]
    elif corruption == "shared_text":
        texts = [f"page {i}." for i in ids]
        texts[1] = "PAGE " + texts[0][5:].upper()  # same text once normalised
    else:
        ids = ids[1:]
    out = _write(tmp_path / corruption, _corpus_table(ids, texts))
    assert workloads.check_corpus(out, corpus)
