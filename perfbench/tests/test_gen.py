"""Generator determinism: the same seed gives byte-identical inputs and facts."""

import os

import pytest

import gen

SMALL = {
    "feed": {"rows": 300, "files": 2},
    "media_decode": {"images": 24, "dup_groups": 3},
    "corpus_dedup": {"pages": 200},
}


def _snapshot(directory: str) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(directory):
        for name in names:
            path = os.path.join(root, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, directory)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_bytes(tmp_path, workload):
    runs = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / name
        d.mkdir()
        facts = gen.GENERATORS[workload](str(d), seed, **SMALL[workload])
        runs.append((_snapshot(str(d)), facts))
    assert runs[0] == runs[1]
    assert runs[0][0] != runs[2][0]


def test_ensure_inputs_writes_once(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.INPUT_RECORDS, "feed", 50)
    in_dir, facts = gen.ensure_inputs(str(tmp_path), "feed", 3)
    stamp = os.stat(os.path.join(in_dir, "registry_00.csv")).st_mtime_ns
    again_dir, again = gen.ensure_inputs(str(tmp_path), "feed", 3)
    assert (again_dir, again) == (in_dir, facts)
    assert os.stat(os.path.join(in_dir, "registry_00.csv")).st_mtime_ns == stamp
    # a new seed replaces the old one on disk
    gen.ensure_inputs(str(tmp_path), "feed", 4)
    assert not os.path.exists(in_dir)


def test_media_planted_groups_are_pixel_identical(tmp_path):
    from ndr_import_spark.operators.multimodal import _decode_raw, ahash64

    import pyarrow.parquet as pq

    facts = gen.generate_media(str(tmp_path), 5, images=30, dup_groups=4)
    payloads = pq.read_table(str(tmp_path / "media.parquet"))["payload"].to_pylist()
    hashes = [ahash64(*_decode_raw(p)) for p in payloads]
    for group in facts["dup_groups"]:
        assert len({hashes[i] for i in group}) == 1
    assert len(set(hashes)) == len(hashes) - sum(len(g) - 1 for g in facts["dup_groups"])


def test_ensure_inputs_scale_multiplies_the_size(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.INPUT_RECORDS, "feed", 50)
    in_dir, facts = gen.ensure_inputs(str(tmp_path), "feed", 3, scale=2)
    assert facts["rows"] == 100
    assert in_dir.endswith("seed-3-x2")
